"""Output check, run after the timed work.

* Gates: each result is compared with its DuckDB oracle from the program's
  own oracle table (columns sorted by name, values stringified, rows
  sorted, as the repository's oracle checker does). A gate without an
  oracle is checked through its twin.
* Interactive sessions: each exported final table is compared with DuckDB
  running the reference stage-to-SQL render of the same stages over the
  same CSV files.

Each function returns {op name: failure message} for the ops that failed.
"""
import glob
import os

import duckdb


def _canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(str(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return cols, sorted(rows)


def _connect(work):
    """DuckDB with bounded memory, spilling inside the run's directory."""
    return duckdb.connect(config={"memory_limit": "4GB", "threads": 4,
                                  "temp_directory": os.path.join(work, "duckdb_tmp")})


def check_gates(gates, check_dir, data_dir, oracle, twins, work):
    con = _connect(work)
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failures = {}
    for gate in gates:
        target = gate if gate in oracle else twins.get(gate)
        if target is None or target not in oracle:
            failures[gate] = "no oracle and no twin"
            continue
        files = glob.glob(os.path.join(check_dir, target, "*.parquet"))
        if not files:
            failures[gate] = f"no result written for {target}"
            continue
        try:
            got = _canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            want = _canon(con.execute(oracle[target]).fetchdf())
        except Exception as e:  # oracle SQL or result unreadable
            failures[gate] = f"{target}: {e}"
            continue
        if got[0] != want[0]:
            failures[gate] = f"{target}: columns {got[0]} != {want[0]}"
        elif got[1] != want[1]:
            failures[gate] = f"{target}: rows differ ({len(got[1])} vs {len(want[1])} expected)"
    con.close()
    return failures


# ------------------------------------------------- reference stage render

def _value(v):
    if isinstance(v, str):
        return v if v.startswith("(") else "'" + v.replace("'", "''") + "'"
    return repr(v)


def render_stage(st, source):
    t = st["type"]
    if t == "LOAD":
        return f"SELECT * FROM {st['tableName']}"
    if t == "JOIN":
        kw = "FULL OUTER JOIN" if st["joinType"] == "FULL OUTER" else f"{st['joinType']} JOIN"
        k = st["key"]
        # same-name keys: one key column, taken from the left side
        return (f"SELECT l.*, r.* EXCLUDE ({k}) FROM {st['left']} l {kw} {st['right']} r "
                f"ON l.{k} = r.{k}")
    if t == "UNION":
        kw = " UNION ALL " if st["unionType"] == "UNION ALL" else " UNION "
        return kw.join(f"SELECT * FROM {x}" for x in st["tables"])
    if t == "FILTER":
        conds = ""
        for i, (col, op, v, logic) in enumerate(st["conditions"]):
            conds += (f" {logic or 'AND'} " if i else "") + f"{col} {op} {_value(v)}"
        return f"SELECT * FROM {source} WHERE {conds}"
    if t == "GROUP":
        aggs = [f"{f}({c}) AS {a}" for f, c, a in st["aggregations"]]
        by = ", ".join(st["groupBy"])
        return f"SELECT {', '.join(st['groupBy'] + aggs)} FROM {source} GROUP BY {by}"
    if t == "AGGREGATE":
        aggs = [f"{f}({c}) AS {a}" for f, c, a in st["aggregations"]]
        return f"SELECT {', '.join(aggs)} FROM {source}"
    if t == "SELECT":
        return f"SELECT {', '.join(st['columns'])} FROM {source}"
    if t == "SORT":
        keys = ", ".join(f"{c} {d}" for c, d in st["orderBy"])
        return f"SELECT * FROM {source} ORDER BY {keys}"
    if t == "CUSTOM":
        return st["sql"]
    raise ValueError(f"unknown stage type {t}")


def render_flow(session):
    """The session's stages as one statement: each stage is a CTE named
    like the program's result table, reading the previous result."""
    ctes, prev = [], next(iter(session["tables"]))  # first upload
    for st, name in zip(session["stages"], session["results"]):
        if st["type"] == "LOAD":
            continue
        ctes.append(f"{name} AS ({render_stage(st, prev)})")
        prev = name
    return f"WITH {', '.join(ctes)} SELECT * FROM {session['results'][-1]}"


def _rows(rel):
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(str(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def check_sessions(sessions, work):
    failures = {}
    for s in sessions:
        name = os.path.basename(s["export"])
        con = _connect(work)
        try:
            for table, path in s["tables"].items():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"read_csv_auto('{path}', header=true)")
            files = glob.glob(os.path.join(s["export"], "*.parquet"))
            got = _rows(con.execute(f"SELECT * FROM read_parquet({files!r})")) if files \
                else ([], [])
            want = _rows(con.execute(render_flow(s)))
            if got != want:
                failures[name] = (f"columns {got[0]} vs {want[0]}, "
                                  f"{len(got[1])} vs {len(want[1])} rows")
        except Exception as e:
            failures[name] = str(e)
        finally:
            con.close()
    return failures
