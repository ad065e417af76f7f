"""Seeded input generator for the benchmark.

Everything a run feeds the program is derived here from (workload, seed):

* ``interactive``: CSV extracts of the orders and customer tables with
  user-style column names, and one planner response per session in the
  ``/api/transform`` wire shape. Each response carries defects the
  program's repair path fixes (``_csv``-suffixed table names, join keys
  left for inference, filters without a column, groups without
  aggregations). Each session also carries the clean stage list that the
  output check renders to SQL.
* ``iterative``: a fixed deck of gates (deck.txt), one per looping
  operator, in a fixed order: a seeded order moved the first-run compile
  cost from gate to gate and made the per-gate median unsteady. The deck
  draws from the iterative pool (iterative_gates.txt); that pool and the
  board pool (the other gates, by family) partition the gate manifest.

The same seed gives byte-identical files; the program only ever sees the
generated inputs.
"""
import csv
import json
import os
import random
import re

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# (csv column, source column, kind); kinds: int, dbl, str, date
ORDERS_COLS = [
    ("order_id", "o_orderkey", "int"),
    ("customer_id", "o_custkey", "int"),
    ("status", "o_orderstatus", "str"),
    ("amount", "o_totalprice", "dbl"),
    ("order_date", "o_orderdate", "date"),
    ("priority", "o_orderpriority", "str"),
]
CUSTOMER_COLS = [
    ("customer_id", "c_custkey", "int"),
    ("name", "c_name", "str"),
    ("nation_id", "c_nationkey", "int"),
    ("balance", "c_acctbal", "dbl"),
    ("segment", "c_mktsegment", "str"),
]
KEYS = {"orders": ("order_id", "customer_id"), "customers": ("customer_id",)}

# Every run has the same make-up, so that run-to-run spread comes from the
# system rather than from the draw: what sets a click's cost is drawn from
# a fixed seed (`shape`): ten sessions with 3..7 stages each (50 clicks),
# their stage types, row shares (10%..100% of each table), columns, keys,
# join kinds, operators, aggregate functions and the quantile of each
# filter literal. The run's seed draws the rest: which rows (and so the
# literals at those quantiles), sort directions and which repairable
# defects each response carries. Draws from `shape` never depend on the
# rows, so every seed follows the same sequence of them.
STAGE_COUNTS = [3, 4, 5, 6, 7] * 2
STARTS = ["JOIN"] * 5 + ["LOAD"] * 3 + ["UNION"] * 2
STEPS = ["filter", "group", "select", "sort", "custom"]  # and "aggregate" last


# ---------------------------------------------------------------- gates

def family(gate):
    return re.match(r"q_([a-z0-9]+)", gate).group(1)


def load_manifest(root):
    with open(os.path.join(root, "tools", "expected_queries.txt")) as f:
        return [l.strip() for l in f if l.strip()]


def load_iterative():
    """gate -> iterative operator, from iterative_gates.txt."""
    out = {}
    with open(os.path.join(HERE, "iterative_gates.txt")) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if line:
                gate, op = line.split()
                out[gate] = op
    return out


def pools(manifest, iterative):
    """(board: family -> gates, iterative: operator -> gates); together
    they partition the manifest."""
    board, loops = {}, {}
    for g in sorted(manifest):
        if g in iterative:
            loops.setdefault(iterative[g], []).append(g)
        else:
            board.setdefault(family(g), []).append(g)
    return board, loops


def load_deck():
    """The iterative workload's gates, from deck.txt."""
    with open(os.path.join(HERE, "deck.txt")) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


# ---------------------------------------------------------- interactive

def _read_table(data_dir, table, cols):
    t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"),
                      columns=[src for _, src, _ in cols])
    out = {}
    for name, src, kind in cols:
        vals = t.column(src).to_pylist()
        if kind == "date":
            vals = [v.strftime("%Y-%m-%d") for v in vals]
        out[name] = vals
    return out


def _at(values, u):
    """The value at quantile `u` of sorted `values`: the literal differs with
    the rows drawn, its selectivity stays about the same."""
    return values[int(u * len(values))]


def _fmt(v):
    return repr(v) if isinstance(v, float) else str(v)


def _extract(rng, shape, data, cols, keys, path, share):
    """Extract: keys plus >= 2 other columns (from `shape`), `share` of the
    rows (drawn by `rng`, in source order). Returns the schema and sample
    values."""
    n = len(data[cols[0][0]])
    others = [c for c in cols if c[0] not in keys]
    chosen = set(keys) | {c[0] for c in shape.sample(others, shape.randint(2, len(others)))}
    schema = [(name, kind) for name, _, kind in cols if name in chosen]
    rows = sorted(rng.sample(range(n), max(1, round(n * share))))
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow([c for c, _ in schema])
        for i in rows:
            w.writerow([_fmt(data[c][i]) for c, _ in schema])
    values = {c: sorted({data[c][i] for i in rows[:200]}) for c, _ in schema}
    return schema, values


class _Flow:
    """Builds one response: wire stages (with defects) and clean stages.
    `shape` draws what sets a stage's cost (columns, keys, join kinds,
    operators, functions, literal quantiles); `rng` draws sort directions
    and defects."""

    def __init__(self, rng, shape, orders, customers):
        self.rng, self.shape = rng, shape
        self.orders, self.customers = orders, customers
        self.wire, self.clean = [], []
        self.names = []  # result table of each stage, in order
        self.prev = None  # table a unary stage without `table` reads

    def add(self, wire, clean):
        idx = len(self.wire) + 1
        self.wire.append(wire)
        self.clean.append(clean)
        if clean["type"] == "LOAD":
            name = clean["tableName"]
        else:
            name = f"result_stage_{idx}_{clean['type'].lower()}"
            self.prev = name
        self.names.append(name)

    # --- start stages
    def start(self, kind):
        o, c = self.orders, self.customers
        if kind == "JOIN":
            jt = self.shape.choice(["INNER", "INNER", "LEFT", "RIGHT", "FULL OUTER"])
            data = {"leftTable": o["table"] + "_csv", "rightTable": c["table"]}
            defect = self.rng.randrange(3)
            desc = "join orders with customers"
            if defect == 0:
                data.update(leftKey="customer_id", rightKey="customer_id", joinType=jt)
            elif defect == 1:  # keys inferred from the description
                desc += " on customer_id"
                if jt != "INNER":
                    data["joinType"] = jt
            else:  # `value` reused as both keys
                data.update(value="customer_id", joinType=jt)
            self.add({"type": "JOIN", "description": desc, "data": data},
                     {"type": "JOIN", "left": o["table"], "right": c["table"],
                      "key": "customer_id", "joinType": jt})
            cust = [(n, k) for n, k in c["schema"] if n != "customer_id"]
            values = dict(o["values"], **c["values"])
            return o["schema"] + cust, values
        if kind == "LOAD":
            self.add({"type": "LOAD", "description": "load the orders file",
                      "data": {"tableName": o["table"] + "_csv",
                               "fileName": o["file"]}},
                     {"type": "LOAD", "tableName": o["table"]})
            self.prev = o["table"]
            return list(o["schema"]), dict(o["values"])
        ut = self.shape.choice(["UNION", "UNION ALL"])
        tables = [o["table"] + "_csv", o["table"]]
        self.add({"type": "UNION", "description": "combine order files",
                  "data": {"tables": tables, "unionType": ut}},
                 {"type": "UNION", "tables": [o["table"], o["table"]],
                  "unionType": ut})
        return list(o["schema"]), dict(o["values"])

    # --- unary stages; each returns the schema after the stage
    def filter(self, schema, values):
        shape = self.shape
        cols = [(n, k) for n, k in schema if n in values and values[n]]
        names = dict(schema)
        if "amount" in names and shape.random() < 0.2:
            v = _at(values["amount"], shape.random())
            self.add({"type": "FILTER", "description": "orders with a high amount",
                      "data": {"value": str(v)}},
                     {"type": "FILTER", "conditions": [["amount", ">", v, None]]})
            return schema
        if names.get("status") == "str" and shape.random() < 0.2:
            v = _at(values["status"], shape.random())
            self.add({"type": "FILTER", "description": "orders by status",
                      "data": {"value": v}},
                     {"type": "FILTER", "conditions": [["status", "=", v, None]]})
            return schema
        conds = []
        for i in range(shape.randint(1, 2)):
            name, kind = shape.choice(cols)
            v = _at(values[name], shape.random())
            logic = None if i == 0 else shape.choice(["AND", "OR"])
            if kind == "str":
                op = shape.choice(["=", "!=", "LIKE", "IN"])
                if op == "LIKE":
                    v = v[:1 + int(shape.random() * max(1, len(v) - 1))] + "%"
                elif op == "IN":
                    picks = sorted({_at(values[name], shape.random()) for _ in range(2)})
                    v = "(" + ", ".join("'" + p + "'" for p in picks) + ")"
            else:
                op = shape.choice([">", "<", ">=", "<=", "=", "!="])
            conds.append([name, op, v, logic])
        wire = [{"column": n, "operator": op, "value": v if isinstance(v, str) else str(v),
                 **({"logic": l} if l else {})} for n, op, v, l in conds]
        data = ({"column": wire[0]["column"], "operator": wire[0]["operator"],
                 "value": wire[0]["value"]} if len(wire) == 1 else {"conditions": wire})
        self.add({"type": "FILTER", "description": "keep matching rows", "data": data},
                 {"type": "FILTER", "conditions": conds})
        return schema

    def _aggs(self, schema, pos):
        rng = self.shape
        out = []
        for j in range(rng.randint(1, 3)):
            fn = rng.choice(["COUNT", "SUM", "AVG", "MIN", "MAX"])
            # exact arithmetic only: SUM/AVG over integers, MIN/MAX over any number
            pool = [(n, k) for n, k in schema
                    if k == "int" or (k == "dbl" and fn in ("MIN", "MAX"))]
            if fn == "COUNT" or not pool:
                out.append(("COUNT", "*", f"a{pos}_{j}", "int"))
            else:
                n, k = rng.choice(pool)
                out.append((fn, n, f"a{pos}_{j}", "dbl" if fn == "AVG" else k))
        return out

    def group(self, schema, values):
        rng, pos = self.shape, len(self.wire) + 1
        keys = [n for n, k in schema if k in ("str", "int", "date")] or [n for n, _ in schema]
        by = rng.sample(keys, min(len(keys), rng.randint(1, 2)))
        if rng.random() < 0.25 and "count" not in dict(schema):
            # no aggregations: repaired to COUNT(*) AS count
            aggs, wire_aggs = [("COUNT", "*", "count", "int")], None
        else:
            aggs = self._aggs(schema, pos)
            wire_aggs = [{"function": f, "column": c, "alias": a} for f, c, a, _ in aggs]
        data = {"groupBy": by}
        if wire_aggs:
            data["aggregations"] = wire_aggs
        self.add({"type": "GROUP", "description": "summarise per group", "data": data},
                 {"type": "GROUP", "groupBy": by,
                  "aggregations": [[f, c, a] for f, c, a, _ in aggs]})
        kinds = dict(schema)
        return [(b, kinds[b]) for b in by] + [(a, k) for _, _, a, k in aggs]

    def aggregate(self, schema, values):
        aggs = self._aggs(schema, len(self.wire) + 1)
        self.add({"type": "AGGREGATE", "description": "overall totals",
                  "data": {"aggregations": [{"function": f, "column": c, "alias": a}
                                            for f, c, a, _ in aggs]}},
                 {"type": "AGGREGATE", "aggregations": [[f, c, a] for f, c, a, _ in aggs]})
        return [(a, k) for _, _, a, k in aggs]

    def select(self, schema, values):
        keep = self.shape.sample(schema, self.shape.randint(1, len(schema)))
        keep = [c for c in schema if c in keep]
        cols = [n for n, _ in keep]
        self.add({"type": "SELECT", "description": "pick columns", "data": {"columns": cols}},
                 {"type": "SELECT", "columns": cols})
        return keep

    def sort(self, schema, values):
        keys = self.shape.sample([n for n, _ in schema], min(len(schema), self.shape.randint(1, 2)))
        order = [{"column": k, "direction": self.rng.choice(["ASC", "DESC"])} for k in keys]
        self.add({"type": "SORT", "description": "order rows", "data": {"orderBy": order}},
                 {"type": "SORT", "orderBy": [[o["column"], o["direction"]] for o in order]})
        return schema

    def custom(self, schema, values):
        ints = [n for n, k in schema if k == "int"]
        pos = len(self.wire) + 1
        if ints:
            c = self.shape.choice(ints)
            sql = f"SELECT *, {c} + 1 AS c{pos} FROM {self.prev}"
            out = schema + [(f"c{pos}", "int")]
        else:
            c = schema[0][0]
            sql = f"SELECT * FROM {self.prev} WHERE {c} IS NOT NULL"
            out = schema
        self.add({"type": "CUSTOM", "description": "custom SQL", "data": {"sql": sql}},
                 {"type": "CUSTOM", "sql": sql})
        return out


def make_response(rng, shape, orders, customers, start, steps):
    """One planner response (wire JSON) plus its clean stage list: the
    `start` stage, then the named unary `steps`."""
    flow = _Flow(rng, shape, orders, customers)
    schema, values = flow.start(start)
    for name in steps:
        if name == "filter" and not any(values.get(c) for c, _ in schema):
            name = "sort"
        schema = getattr(flow, name)(schema, values)
        values = {k: v for k, v in values.items() if k in dict(schema)}
    resp = {"isValid": True, "explanation": "generated session",
            "chartType": "bar", "xAxis": schema[0][0], "yAxis": schema[-1][0],
            "transformationStages": flow.wire}
    return json.dumps(resp, sort_keys=True), flow.clean, flow.names


def _bag(rng, items):
    items = list(items)
    rng.shuffle(items)
    return items


def interactive_sessions(rng, data_dir, out_dir, n_sessions=len(STAGE_COUNTS)):
    """The sessions of one run: CSV files written to `out_dir`, responses,
    clean stages, result table names and export paths."""
    orders = _read_table(data_dir, "orders", ORDERS_COLS)
    customers = _read_table(data_dir, "customer", CUSTOMER_COLS)
    shape = random.Random("interactive-shape")
    counts = _bag(shape, STAGE_COUNTS)[:n_sessions]
    starts = _bag(shape, STARTS)
    unary = sum(counts) - len(counts)
    steps = _bag(shape, STEPS * -(-unary // len(STEPS)))[:unary]
    for k in range(1, n_sessions + 1):  # a fifth of the flows end in a total
        if shape.random() < 0.2:
            steps[sum(counts[:k]) - k - 1] = "aggregate"
    shares = _bag(shape, [0.1 + 0.9 * (k + 0.5) / n_sessions for k in range(n_sessions)])
    sessions = []
    for k, share in enumerate(shares):
        ups = {}
        for label, data, cols in (("orders", orders, ORDERS_COLS),
                                  ("customers", customers, CUSTOMER_COLS)):
            fname = f"{label}_{k}.csv"
            path = os.path.join(out_dir, fname)
            schema, values = _extract(rng, shape, data, cols, KEYS[label], path, share)
            ups[label] = {"file": fname, "path": path, "schema": schema, "values": values,
                          "table": "table_" + re.sub(r"[^a-zA-Z0-9]", "_", fname[:-4])}
        mine, steps = steps[:counts[k] - 1], steps[counts[k] - 1:]
        response, clean, names = make_response(rng, shape, ups["orders"], ups["customers"],
                                               starts[k], mine)
        sessions.append({
            "uploads": [ups["orders"]["path"], ups["customers"]["path"]],
            "tables": {u["table"]: u["path"] for u in ups.values()},
            "response": response, "stages": clean, "results": names,
            "export": os.path.join(out_dir, f"export_{k}")})
    return sessions


def generate(workload, seed, data_dir, out_dir):
    """The run's inputs as a dict (also the harness's plan, minus paths)."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "interactive":
        return {"sessions": interactive_sessions(rng, data_dir, out_dir)}
    return {"gates": load_deck()}
