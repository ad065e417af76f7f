"""Per-layer metrics from a traced run's raw output.

Spans come from three sources: bench-side calls into each layer (explicit
parents), Spark jobs and stages (a job hangs under the innermost call of
its operation that was open when it started; a stage under its job), and
query-planning phases (under the innermost call open when the phase
began). A layer's self time is its spans' time not covered by their
children.
"""
import statistics

# name -> unit, in the order they are reported
PER_LAYER = {
    "planner.parse_ms": "ms", "planner.repair_ms": "ms", "planner.stages_kept_frac": "frac",
    "pipeline.execute_ms": "ms", "pipeline.preview_ms": "ms", "pipeline.describe_ms": "ms",
    "sources.ingest_ms": "ms", "sources.ingest_jobs": "count", "sources.export_ms": "ms",
    "sources.export_bytes": "bytes", "sources.upload_p50_ms": "ms",
    "viz.suggest_ms": "ms",
    "session.analysis_ms": "ms", "session.optimization_ms": "ms", "session.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.sched_wait_ms": "ms", "exec.driver_ms": "ms",
    "exchange.count": "count", "exchange.broadcasts": "count",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_ms": "ms", "exchange.spill_bytes": "bytes",
    "scan.input_bytes": "bytes", "scan.input_rows": "count",
    "plans.rounds": "count", "plans.state_nodes_max": "count",
    "plans.estimate_bits_max": "bits", "plans.checkpoints_released": "count",
}
LAYERS = ["op", "planner", "pipeline", "sources", "viz", "gate", "plans", "session", "exec"]
for _l in LAYERS:
    PER_LAYER[f"{_l}.self_ms"] = "ms"
PER_LAYER["trace.total_s"] = "s"
PER_LAYER["trace.overhead_s"] = "s"

CALL_TIMES = {"planner.parse_ms": "planner.parse", "planner.repair_ms": "planner.repair",
              "pipeline.execute_ms": "pipeline.execute", "pipeline.preview_ms": "pipeline.preview",
              "pipeline.describe_ms": "pipeline.describe", "sources.ingest_ms": "sources.ingest",
              "sources.export_ms": "sources.export", "viz.suggest_ms": "viz.suggest"}


def _union(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def spans(raw):
    """[(id, parent, name, op, start, end)] over calls, jobs, stages, phases."""
    out = [(i, p, name, op, s, e) for i, (op, p, name, s, e) in enumerate(raw.get("calls", []))]
    calls = list(out)

    def innermost(op, t):
        best = None
        for c in calls:
            if c[3] == op and c[4] <= t <= c[5] and (best is None or c[4] >= best[4]):
                best = c
        return best[0] if best else -1

    job_ids = {}
    for op, job, s, e in raw.get("jobs", []):
        job_ids[job] = len(out)
        out.append((len(out), innermost(op, s), "exec.job", op, s, e))
    for op, job, stage, s, e in raw.get("stages", []):
        out.append((len(out), job_ids.get(job, -1), "exec.stage", op, s, e))
    for op, name, s, e in raw.get("phases", []):
        out.append((len(out), innermost(op, s), f"session.{name}", op, s, e))
    return out


def self_times(all_spans):
    children = {}
    for sp in all_spans:
        children.setdefault(sp[1], []).append(sp)
    out = {l: 0.0 for l in LAYERS}
    for sid, _, name, _, s, e in all_spans:
        kids = [(max(s, c[4]), min(e, c[5])) for c in children.get(sid, [])
                if c[5] > s and c[4] < e]
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (e - s) - _union(kids)
    return out


def op_counters(raw):
    """Per-op counters: harness-side plus listener-side."""
    ops = raw["ops"]
    listener = raw.get("op_counters", {})
    return [dict(o["counters"], **listener.get(str(i), {})) for i, o in enumerate(ops)]


def per_layer(raw, untraced_total):
    ops = raw["ops"]
    counters = op_counters(raw)
    all_spans = spans(raw)
    m = {k: 0.0 for k in PER_LAYER}
    for c in counters:
        for k, v in c.items():
            if k.endswith("_max"):
                m[k] = max(m.get(k, 0.0), v)
            elif k in m:
                m[k] += v
    for metric, name in CALL_TIMES.items():
        m[metric] = sum(e - s for _, _, n, _, s, e in all_spans if n == name)
    raw_stages = sum(c.get("planner.raw_stages", 0) for c in counters)
    kept = sum(c.get("planner.kept_stages", 0) for c in counters)
    m["planner.stages_kept_frac"] = kept / raw_stages if raw_stages else 0.0
    ingest = [sp for sp in all_spans if sp[2] == "sources.ingest"]
    m["sources.ingest_jobs"] = sum(
        1 for sp in all_spans if sp[2] == "exec.job"
        and any(i[3] == sp[3] and i[4] <= sp[4] <= i[5] for i in ingest))
    uploads = [o["dur_s"] * 1e3 for o in ops if o["kind"] == "upload"]
    m["sources.upload_p50_ms"] = statistics.median(uploads) if uploads else 0.0
    # op wall time not covered by any of its jobs
    jobs_by_op = {}
    for op, _, s, e in raw.get("jobs", []):
        jobs_by_op.setdefault(op, []).append((s, e))
    for i, o in enumerate(ops):
        for a, b in o["windows"]:
            covered = _union([(max(a, s), min(b, e)) for s, e in jobs_by_op.get(i, [])
                              if e > a and s < b])
            m["exec.driver_ms"] += (b - a) - covered
    for layer, v in self_times(all_spans).items():
        m[f"{layer}.self_ms"] = v
    total = sum(o["dur_s"] for o in ops)
    m["trace.total_s"] = total
    m["trace.overhead_s"] = total - untraced_total
    return m
