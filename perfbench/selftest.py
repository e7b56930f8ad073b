#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. Inputs: the same seed gives byte-identical generated inputs, a different
   seed does not.
2. Digest: the canonical digest ignores row order and catches a one-ulp
   change in a double and a one-microsecond change in a timestamp.
3. References: a short real ta_refresh run passes its checks; a reference
   with one tag value perturbed, and a perturbed engine value, are both
   caught.
4. Plans: the ta_refresh view reads keep every view column in the plan's
   output, and their scans read more columns than a pruning `count()`.
5. Isolation: outside a repository checkout the runner exits non-zero
   without printing a result.

Takes about two minutes (two short Spark runs).
"""
import copy
import filecmp
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

import run
from run import ROOT, HERE
import inputs
import reference

WORK = os.path.join(ROOT, ".perfbench_work", "selftest")


def files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


def same_tree(a, b):
    """True when both trees hold the same files with the same bytes, once
    each tree's own path is removed from the spec."""
    if files(a) != files(b):
        return False
    for f in files(a):
        x, y = os.path.join(a, f), os.path.join(b, f)
        if f.endswith(".properties"):
            with open(x) as fx, open(y) as fy:
                if fx.read().replace(a, "") != fy.read().replace(b, ""):
                    return False
        elif not filecmp.cmp(x, y, shallow=False):
            return False
    return True


def test_inputs():
    for w in run.WORKLOADS:
        dirs = [os.path.join(WORK, f"inputs-{w}-{k}") for k in "abc"]
        for d, seed in zip(dirs, (7, 7, 8)):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            inputs.generate(w, seed, d, 10, 0, 2)
        assert same_tree(dirs[0], dirs[1]), f"{w}: same seed, different inputs"
        assert not same_tree(dirs[0], dirs[2]), f"{w}: seed does not vary inputs"
    print("ok inputs: same seed identical, other seed different")


def test_digest():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                "(1, 0.1::DOUBLE, 2.50::DECIMAL(10,2), 'a', [1.5::FLOAT]),"
                "(2, 0.2::DOUBLE, 0.00::DECIMAL(10,2), NULL, [])) v(a, b, c, d, e)")
    base = reference.digest(con, "SELECT * FROM t")
    assert base == reference.digest(con, "SELECT e, d, c, b, a FROM t ORDER BY a DESC")
    bumped = reference.digest(
        con, "SELECT a, CASE WHEN a = 2 THEN nextafter(b, 1) ELSE b END AS b, "
             "c, d, e FROM t")
    assert bumped != base, "one-ulp change not caught"
    ts = "TIMESTAMP '2024-08-01 06:00:00'"
    assert reference.digest(con, f"SELECT {ts} AS t") == "1:" + \
        hashlib.sha256(b"1722492000000000").hexdigest(), "timestamp form"
    assert reference.digest(con, f"SELECT {ts} AS t") != reference.digest(
        con, f"SELECT {ts} + INTERVAL 1 MICROSECOND AS t"), \
        "one-microsecond change not caught"
    print("ok digest: order-insensitive, one-ulp and one-microsecond "
          "changes caught")


def short_run(workload, overrides):
    work = os.path.join(WORK, f"run-{workload}-{overrides.get('mode', 'run')}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, _ = inputs.generate(workload, 5, work, 1, 0, 2, overrides)
    result = run.run_jvm(run.build(), spec, os.path.join(work, "result.json"), work)
    return result, work


def test_references():
    result, work = short_run("ta_refresh", {"warmup_ops": 0})
    ref = reference.build("ta_refresh", result, work)
    ops = result["ops"]
    assert ops and all(reference.compare("ta_refresh", op, ref) is None
                       for op in ops), "unperturbed run fails its checks"
    # perturb the reference: one tag value that the tag LEFT JOIN brings
    # into a row of IdleLoadBalancers_view (resource ids are shared across
    # checks, so the other tagged views that hold the id differ too; the
    # views without a tag join must not)
    op = ops[0]
    con = reference.ta_connection(op["detail"]["lake"])
    rid, dt = con.execute(
        'SELECT "load balancer name", datetime FROM IdleLoadBalancers_view '
        "WHERE team IS NOT NULL ORDER BY 1 LIMIT 1").fetchone()
    con.close()
    tags = ("SELECT * REPLACE (CASE WHEN resourceid = '%s' AND datetime = '%s'"
            " THEN team || 'x' ELSE team END AS team) FROM tags_lake" % (rid, dt))
    bad_ref = reference.build("ta_refresh", {"ops": [op]}, work, tags=tags)
    why = reference.compare("ta_refresh", op, bad_ref)
    assert why and "IdleLoadBalancers_view:" in why, \
        f"perturbed tag value not caught: {why}"
    untagged = [v for v, (_, key, _) in reference.VIEWS.items() if key is None]
    assert not any(f"{v}:" in why for v in untagged), \
        f"perturbed tag value reported in a view without tags: {why}"
    # perturb the engine side: one view's digest
    view = "summary_view"
    bad_op = copy.deepcopy(op)
    bad_op["detail"][f"{view}.digest"] = "0:" + "0" * 64
    ref = reference.build("ta_refresh", {"ops": [bad_op]}, work)
    assert reference.compare("ta_refresh", bad_op, ref), \
        "wrong engine value not caught"
    print(f"ok references: {len(ops)} checked op(s) pass; perturbations caught")


def test_plans():
    result, _ = short_run("ta_refresh", {"mode": "selftest", "warmup_ops": 1})
    checks = result["plan_checks"]
    assert len(checks) == len(inputs.VIEWS)
    for c in checks:
        assert c["output_columns"] == c["columns"], \
            f"{c['label']}: timed action drops output columns"
        assert set(c["count_columns"]) < set(c["scan_columns"]), \
            f"{c['label']}: timed scans read no more than a pruning count()"
    print(f"ok plans: {len(checks)} view reads keep every column")


def test_isolation():
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            run.WORKLOADS[0], "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=d, capture_output=True,
                           text=True, timeout=170)
    assert p.returncode != 0, "runner succeeded without the engine sources"
    assert "{" not in p.stdout, "runner printed a result without the engine"
    print("ok isolation: exits", p.returncode, "outside a checkout")


if __name__ == "__main__":
    os.makedirs(WORK, exist_ok=True)
    try:
        test_inputs()
        test_digest()
        test_isolation()
        test_references()
        test_plans()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("all self-tests passed")
