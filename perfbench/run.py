#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline); later runs reuse the build while the sources
are unchanged. Inputs are generated from the seed, the harness runs them
in one JVM on local[nproc] with nproc shuffle partitions, the outputs are
checked against DuckDB, and the last line of stdout is the result JSON.
With --trace 1 the run is made twice, untraced then traced, and reports
the per-layer metrics and the tracing overhead.

A workload's timed work is fixed (see README.md); --seconds is its nominal
length, and operations not started within 4 x --seconds count as failed so
that a much slower program still ends the run in time.

Table data comes from $PERFBENCH_DATA (default /root/testdata), which
holds one directory of parquet tables per scale factor.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("interactive", "iterative")
SCALE = "sf0.01"
SETUPS = 3
HEAP = "3g"
RUN_LIMIT_S = 170          # a run must end within 180 s
CHECK_RESERVE_S = 20       # of which the output check may take this much
BUILD_LIMIT_S = 840        # the first run, which builds, within 900 s
END_TO_END = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "op_p90_s": "s",
              "heap_peak_mb": "MB"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources(root):
    """Every file the build reads: build definitions and main sources."""
    files = [os.path.join(root, f) for f in ("build.sbt", "perfbench/build.sbt")]
    for d in ("project", "perfbench/project"):
        files += [os.path.join(root, d, n) for n in os.listdir(os.path.join(root, d))
                  if n.endswith((".sbt", ".scala", ".properties"))]
    for d in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(root, out):
    """Classpath of the harness, building it when the sources changed."""
    h = hashlib.sha256()
    for f in _sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().split("\n")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(out, 'sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building (sbt writeClasspath)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail("build failed")
    shutil.copy(os.path.join(root, "perfbench", "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.0f}s")
    return open(cp_file).read().split("\n")


# ------------------------------------------------------------------ run

def harness(cp, plan, work, trace, limit):
    plan = dict(plan, trace=bool(trace))
    tag = "traced" if trace else "untraced"
    plan_file, out_file = os.path.join(work, f"plan_{tag}.json"), os.path.join(work, f"out_{tag}.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", ":".join(cp), "perfbench.Harness", plan_file, out_file]
    # the program's environment knobs stay at their defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(os.path.join(work, f"harness_{tag}.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=logf, stderr=logf, timeout=limit)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {limit:.0f}s; log in {logf.name}")
    if r.returncode != 0 or not os.path.exists(out_file):
        fail(f"harness failed (exit {r.returncode}); log in {os.path.join(work, f'harness_{tag}.log')}")
    with open(out_file) as f:
        return json.load(f)


def check_outputs(workload, plan, raw, data_dir):
    if workload == "interactive":
        return check.check_sessions(plan["sessions"], plan["work_dir"])
    ok = [o["name"] for o in raw["ops"] if o["ok"]]
    return check.check_gates(ok, plan["check_dir"], data_dir, raw["oracle_sql"], raw["twins"],
                             plan["work_dir"])


def end_to_end(raw):
    ops = raw["ops"]
    timed = [o["dur_s"] for o in ops if o["kind"] in ("click", "gate") and o["ok"]]
    if len(timed) < 2:
        fail("too few operations completed to report latencies")
    q = statistics.quantiles(timed, n=10, method="inclusive")
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "total_s": sum(o["dur_s"] for o in ops),
        "op_p50_s": statistics.median(timed),
        "op_p90_s": q[8],
        "heap_peak_mb": raw["heap_peak_mb"],
    }


def failures(raw, checked):
    """{op: reason} over ops that threw or failed the output check."""
    out = {f"{o['kind']}:{o['name']}": o["error"] for o in raw["ops"] if not o["ok"]}
    by_name = {o["name"]: o["kind"] for o in raw["ops"]}
    for name, why in checked.items():
        out[f"{by_name.get(name, 'export')}:{name}"] = "output check: " + why
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "tools/expected_queries.txt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    data_dir = os.path.join(os.environ.get("PERFBENCH_DATA", "/root/testdata"), SCALE)
    if not os.path.isdir(data_dir):
        fail(f"table data {data_dir} not found (set PERFBENCH_DATA)")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    t_start = time.time()

    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = dict(inputs.generate(a.workload, a.seed, data_dir, work))
    if a.workload == "interactive":
        warm_dir = os.path.join(work, "warmup")
        os.makedirs(warm_dir)
        warm = inputs.interactive_sessions(
            random.Random(f"warmup:{a.seed}"), data_dir, warm_dir, n_sessions=1)
        plan["warmup"] = warm[0]
    plan.update(workload=a.workload, work_dir=work, cpus=len(os.sched_getaffinity(0)),
                data_dir=data_dir, check_dir=os.path.join(work, "check"), setups=SETUPS,
                deadline_s=4 * a.seconds)

    # a traced run first repeats the untraced run as the reference for the
    # tracing overhead; the output check runs on the reported (last) run
    runs = [0, 1] if a.trace else [0]
    raws, failed = {}, {}
    for t in runs:
        if t == 1:
            for s in plan.get("sessions", []):
                shutil.rmtree(s["export"], ignore_errors=True)
            shutil.rmtree(plan["check_dir"], ignore_errors=True)
        raws[t] = harness(cp, plan, work, t, RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t_start))
        checked = check_outputs(a.workload, plan, raws[t], data_dir) if t == runs[-1] else {}
        failed.update(failures(raws[t], checked))

    base = end_to_end(raws[0])
    if a.trace:
        metrics = layers.per_layer(raws[1], base["total_s"])
        units = layers.PER_LAYER
        trace_dir = os.path.join(out, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"ops": [dict(kind=o["kind"], name=o["name"], dur_s=o["dur_s"], ok=o["ok"],
                                    counters=c)
                               for o, c in zip(raws[1]["ops"], layers.op_counters(raws[1]))],
                       "spans": layers.spans(raws[1]), "metrics": metrics}, f)
        log(f"trace written to {trace_file}")
    else:
        metrics, units = base, END_TO_END

    attempted = len(raws[0]["ops"])
    n_failed = len(failed)
    for name, why in sorted(failed.items()):
        log(f"FAILED {name}: {why}")
    summary = {"failed_frac": n_failed / attempted}
    if a.workload == "interactive":
        summary["upload_p50_s"] = statistics.median(
            o["dur_s"] for o in raws[0]["ops"] if o["kind"] == "upload")
    print(json.dumps({"summary": summary, "ops_failed": sorted(failed)}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
