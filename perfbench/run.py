#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.sbt) when the sources
changed, runs the JVM side (perfbench.Main) in a GraftSession.local
session with SPARK_GRAFT_CPUS = nproc while it generates the workload's
inputs from the seed, checks the outputs in DuckDB, and prints as its
last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics (0 where a layer does not run
in the workload) and the spans are written to perfbench/.work/traces/.
The line before the result holds details: steal%, per-query times, the
workload's own summary.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {"connector_etl": None, "query_sweep": "0.1"}
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith(BENCH)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def steal_jiffies():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except OSError:
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to the benchmark")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)

    os.makedirs(WORK, exist_ok=True)
    cp = build()

    t_start = time.time()
    steal0 = steal_jiffies()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    data_dir = os.path.join(run_dir, "data")
    ready = os.path.join(run_dir, "data.ready")
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    result_path = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/spark-local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--work", run_dir,
           "--t0-ms", str(int(t_start * 1000)),
           "--out", result_path, "--trace-out", trace_path,
           "--data-ready", ready]
    # the inputs are generated while the JVM and the session start; the
    # JVM waits for `ready` before its first call
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            sf = WORKLOADS[args.workload]
            if sf:
                gen.generate(data_dir, sf, args.seed)
            open(ready, "w").close()
            p.wait(timeout=JVM_TIMEOUT_S - (time.time() - t_start))
        except BaseException as e:
            p.kill()
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
            raise
    t_end = time.time()
    steal1 = steal_jiffies()
    if p.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the JVM exited with {p.returncode}")
    with open(result_path) as f:
        res = json.load(f)
    detail = res["detail"]

    if args.workload == "connector_etl":
        bad = checks.check_connector(os.path.join(run_dir, "check"),
                                     detail["passes"], t_start, t_end)
    else:
        bad = checks.check_queries(os.path.join(run_dir, "check", "queries"),
                                   data_dir, sorted(detail["queries"]))
    for m in bad:
        print(f"perfbench: check failed: {m}", file=sys.stderr)

    figures = res["figures"]
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if m["name"] in figures:
            v = figures[m["name"]]
        elif args.trace:
            v = 0  # the layer does not run in this workload
        else:
            fail(f"the workload did not measure {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    ds, dt = steal1[0] - steal0[0], steal1[1] - steal0[1]
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "steal_pct": round(100.0 * ds / dt, 3) if dt else None,
        "wall_s": round(t_end - t_start, 3), "rounds": res["rounds"],
        "figures": figures, **detail}}))
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if os.environ.get("PERFBENCH_KEEP") != "1":
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
