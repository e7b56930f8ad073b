#!/usr/bin/env python3
"""Benchmark runner: build, generate inputs, run one workload, check, report.

    python3 perfbench/run.py --workload ta_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine and the JVM harness
(`perfbench/src`) are compiled from source with sbt on first use. The last
line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ("ta_refresh", "ops_heavy")
XMX = "2g"
# Spark runs at local[2]: on a 4-vCPU VM whose speed varies with load on its
# host, two task slots spread refresh latency about half as much from run to
# run as four, at about the same median (the heavy queries are driver-bound).
CORES = 2
JVM_TIMEOUT_S = 165

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "1/s", "lake_bytes_per_row": "bytes",
    "heap_retained_mb": "MB",
}
PER_LAYER = {
    "jobs.ingest_s": "s", "jobs.refresh_catalog_s": "s",
    "ingest.parse_s": "s", "lake.write_s": "s", "lake.write_tasks": "count",
    "lake.files_written": "count", "lake.bytes_written": "bytes",
    "views.check_s": "s", "lake.files_scanned": "count",
    "lake.partitions_scanned": "count",
    "sql.analysis_s": "s", "sql.optimization_s": "s", "sql.planning_s": "s",
    "sql.execution_s": "s", "queries.build_s": "s",
    "queries.materialize_s": "s",
    **{f"ops.{q}.s": "s" for q in inputs.OPS_QUERIES},
    **{f"ops.{q}.jobs": "count" for q in inputs.OPS_QUERIES},
    **{f"ops.{q}.busy_frac": "frac" for q in inputs.OPS_QUERIES},
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.task_s": "s",
    "scheduler.busy_frac": "frac", "scheduler.driver_gap_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "driver.result_bytes": "bytes",
    "jvm.gc_s": "s", "trace.overhead_frac": "frac",
}

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile engine + harness with sbt when a source is newer than the
    last build; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and all(
            os.path.getmtime(s) <= os.path.getmtime(cp_file) for s in sources()):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                            env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file) as f:
        return f.read().strip()


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return ""


def cpu_times():
    """(steal, total) CPU jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def steal_frac(start, end):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not start or not end or end[1] == start[1]:
        return None
    return (end[0] - start[0]) / (end[1] - start[1])


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, spec, result, work):
    """Run the JVM harness to completion (killed past the time limit)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", spec, result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM harness failed ({rc})")
    with open(result) as f:
        return json.load(f)


def tail(values):
    """The highest nearest-rank percentile with at least ten samples beyond
    it; with fewer than 20 samples, the maximum. Returns the value, the
    percentile and the number of samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n - k - 1


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory")
    a = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    cp = build()

    load_start, cpu_start = loadavg(), cpu_times()
    cores = min(CORES, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spec, info = inputs.generate(
            a.workload, a.seed, work, a.seconds, a.trace, cores)
        gen_s = time.perf_counter() - t0
        result = run_jvm(cp, spec, os.path.join(work, "result.json"), work)
        t1 = time.perf_counter()
        ref = reference.build(a.workload, result, work)
        ref_s = time.perf_counter() - t1

        ops = result["ops"]
        bad = [(op, why) for op in ops
               if (why := reference.compare(a.workload, op, ref))]
        for op, why in bad[:5]:
            print(f"perfbench: {op['phase']} {op['name']} failed: {why}",
                  file=sys.stderr)
        timed = [op for op in ops if op["phase"] == "timed"]
        lat = [op["latency_s"] for op in timed]
        tail_v, tail_p, tail_n = tail(lat)
        wall = result["timed_s"]
        # ta_refresh: each refresh's lake; ops_heavy: the index state each
        # q212 operation committed
        lakes = [ref["lakes"][root] for op in timed
                 if (root := op["detail"].get("lake") or op["detail"].get("state"))]
        lake_rows = sum(x["rows"] for x in lakes)
        lake_bytes = sum(x["bytes"] for x in lakes)
        if not lake_rows:
            fail("no committed lake rows found for lake_bytes_per_row")
        if a.workload == "ta_refresh":
            rows = lake_rows
        else:
            rows = sum(int(op["detail"].get("rows", 0)) for op in timed)
        metrics = {
            "setup_s": gen_s + result["setup_s"] + ref_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "ops_per_s": len(timed) / wall,
            "rows_per_s": rows / wall,
            "lake_bytes_per_row": lake_bytes / lake_rows,
            "heap_retained_mb": result["heap_retained_mb"],
        }
        units = END_TO_END
        if a.trace:
            traced = [op for op in ops if op["phase"] == "traced"]
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update({k: v for k, v in result["layers"].items()
                           if k in PER_LAYER})
            layers["trace.overhead_frac"] = 1.0 - (
                len(traced) / result["traced_s"]) / metrics["ops_per_s"]
            metrics, units = layers, PER_LAYER
        record = {
            "run": {**info, "seconds": a.seconds, "trace": a.trace,
                    "nproc": os.cpu_count(), "spark_master": f"local[{cores}]",
                    "xmx": XMX, "git_commit": git_commit(),
                    "loadavg_start": load_start, "loadavg_end": loadavg(),
                    "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
                    "timed_ops": len(timed), "timed_s": wall,
                    "op_p50_by_name_s": {
                        n: statistics.median(op["latency_s"] for op in timed
                                             if op["name"] == n)
                        for n in sorted({op["name"] for op in timed})},
                    "op_tail_percentile": tail_p,
                    "op_tail_samples_beyond": tail_n,
                    "failed_frac": len(bad) / max(1, len(ops)),
                    "setup_parts_s": {"inputs": gen_s,
                                      "session": result["session_s"],
                                      "jvm_setup": result["setup_s"],
                                      **result["setup_stages"],
                                      "reference": ref_s}},
            "metrics": metrics,
        }
        log = os.path.join(ROOT, ".perfbench_work", "results.jsonl")
        with open(log, "a") as f:
            f.write(json.dumps(record) + "\n")
        print("# run " + json.dumps(record["run"]))
        print(json.dumps({
            "correct": not bad, "attempted": len(ops), "failed": len(bad),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
