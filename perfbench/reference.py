"""References for every operation, built with DuckDB, never with Spark.

- ta_refresh: each operation's lake is read back with DuckDB through view
  definitions written here from the reference's Athena view SQL (every
  column, the tag LEFT JOIN included); the canonical digest of every
  submitted view must equal the engine's. DuckDB also counts the committed
  lake rows.
- ops_heavy: each registry query's oracle SQL (`SparkEntry.oracleSql`) runs
  in DuckDB over the generated tables, normalized like `tools/check.py`
  (sorted columns and rows, bit-exact doubles); digests must match.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os
import struct

import duckdb

import inputs

CATEGORY = "TA-Reports/cost_optimizing"


def _ts(c="datetime"):
    return f"strptime(substr(t.\"{c}\", 1, 19), '%Y-%m-%d %H:%M:%S') AS date_time"


def _money(c, alias):
    return (f"CAST(rtrim(replace(substr(t.\"{c}\", 2), '$', ''))"
            f" AS DECIMAL(18,2)) AS \"{alias}\"")


def _cents(c):
    return f"CAST(CAST(t.\"{c}\" AS DECIMAL(10,2)) * 100 AS HUGEINT)"


def _percent(num, alias):
    """`(1 - num / processed) * 100` as Spark evaluates it on decimal(10,2)
    operands: the quotient rounded half-up at scale 13, the result a
    decimal of scale 13. DuckDB divides decimals in double, so this is
    done in integers (units of 1e-13) and rebuilt as an exact decimal."""
    den = ("CAST(CAST(replace(CAST(t.resourcesprocessed AS VARCHAR), '0', '1')"
           " AS DECIMAL(10,2)) * 100 AS HUGEINT)")
    e13 = "CAST(10000000000000 AS HUGEINT)"
    q = f"(sign({num}) * ((2 * abs({num}) * {e13} + {den}) // (2 * {den})))"
    x = f"(({e13} - {q}) * 100)"
    return (f"CAST(concat(CASE WHEN {x} < 0 THEN '-' ELSE '' END, "
            f"abs({x}) // {e13}, '.', "
            f"lpad(CAST(abs({x}) % {e13} AS VARCHAR), 13, '0'))"
            f" AS DECIMAL(38,13)) AS \"{alias}\"")


# view -> (lake table dir, tag join key, derived columns), as in the
# reference's create-athena-views SQL
VIEWS = {
    "LowUtilizationAmazonEC2Instances_view": ("check_qch7dwoux1", "instance id", [
        _ts(),
        "CAST(substr(t.\"14-day average cpu utilization\", 1, 3) AS DECIMAL(10,4))"
        " AS average_cpu_utilization_14_days",
        "CAST(substr(t.\"14-day average network i/o\", 1, 4) AS DECIMAL(10,4))"
        " AS \"average_network_i/o_utilization_14 days\"",
        _money("estimated monthly savings", "estimated_monthly_savings")]),
    "UnderutilizedAmazonEBSVolumes_view": ("check_davu99dc4c", "volume id", [
        _ts(), _money("monthly storage cost", "Monthly_Storage_Cost")]),
    "IdleLoadBalancers_view": ("check_hjlmh88um8", "load balancer name", [
        _ts(), _money("estimated monthly savings", "estimated_monthly_savings")]),
    "AmazonRDSIdleDBInstances_view": ("check_ti39halfu8", "db instance name", [
        _ts(),
        "CAST(rtrim(replace(replace(t.\"estimated monthly savings on demand\","
        " '$', ''), '\"', '')) AS DECIMAL(10,2)) AS estimated_monthly_savings"]),
    "UnderutilizedAmazonRedshiftClusters_view": ("check_g31sq1e9u", "cluster", [
        _ts()]),
    "EC2ReservedInstanceLeaseExpiration_view": ("check_1e93e4c0b5", None, [
        _ts(),
        _money("current monthly cost", "current_monthly_cost"),
        _money("estimated monthly savings", "estimated_monthly_savings"),
        "strptime(substr(replace(t.\"expiration date\", 'T', ' '), 1, 19),"
        " '%Y-%m-%d %H:%M:%S') AS expiration_date"]),
    "Route53LatencyResourceRecordSets_view": (
        "check_51fc20e7i2", "hosted zone name", [_ts()]),
    "UnassociatedElasticIPAddresses_view": ("check_z4aubrnsmz", None, [_ts()]),
    "summary_view": ("Summary", None, [
        _ts(),
        _percent(_cents("resourcesflagged"), "optimizationPercent"),
        _percent(f"({_cents('resourcesflagged')} - ({_cents('resourcesignored')}"
                 f" + {_cents('resourcessuppressed')}))",
                 "trueoptimizationPercent")]),
}


def _parquet(path):
    return (f"read_parquet('{path}/*/*/*/*.parquet', hive_partitioning = true,"
            " union_by_name = true)")


def ta_connection(root, tags=None):
    """DuckDB connection with the submitted views over the lake at `root`.
    `tags` replaces the tags relation (the self-test perturbs it)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW tags_lake AS SELECT * FROM {_parquet(root + '/Tags')}")
    con.execute(f"CREATE VIEW tags AS {tags or 'SELECT * FROM tags_lake'}")
    tag_cols = "".join(f", tags.{k.lower()}" for k in inputs.TAG_KEYS)
    for view, (table, key, derived) in VIEWS.items():
        src = f"{_parquet(f'{root}/{CATEGORY}/{table}')} t"
        if key:
            src += (f" LEFT JOIN tags ON t.\"{key}\" = tags.resourceid"
                    " AND t.datetime = tags.datetime")
        con.execute(f"CREATE VIEW {view} AS SELECT t.*, {', '.join(derived)}"
                    f"{tag_cols if key else ''} FROM {src}")
    return con


EPOCH = datetime.datetime(1970, 1, 1)


def _value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return "%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(_value(x) for x in v.values()) + "}"
    return str(v)


def digest(con, sql):
    """Canonical digest of a DuckDB result; matches `Digest.of` in Scala."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x1f".join(_value(row[i]) for i in order)
                   for row in cur.fetchall())
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    return f"{len(lines)}:{h}"


def check_refresh(op, con):
    """Mismatches between one refresh's view digests and DuckDB's."""
    bad = []
    for view in inputs.VIEWS:
        want = digest(con, f"SELECT * FROM {view}")
        got = op["detail"].get(f"{view}.digest")
        if got != want:
            bad.append(f"{view}: engine {got}, reference {want}")
    return bad


def _tree(root):
    """Rows and bytes of the parquet files under `root`."""
    files = glob.glob(f"{root}/**/*.parquet", recursive=True)
    rows = 0
    if files:
        rows = duckdb.execute(
            f"SELECT sum(num_rows) FROM parquet_file_metadata({files!r})"
        ).fetchone()[0]
    nbytes = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(root) for f in fs)
    return {"rows": rows, "bytes": nbytes}


def build(workload, result, work, tags=None):
    """Reference values keyed the way `compare` looks them up, plus the
    lake statistics the metrics need: for ta_refresh each operation's
    lake, for ops_heavy the index state each q212 operation committed.
    `tags` perturbs the TA reference (self-test)."""
    ref = {"lakes": {}}
    if workload == "ta_refresh":
        for op in result["ops"]:
            root = op["detail"].get("lake")
            if root is None:
                continue
            con = ta_connection(root, tags)
            ref["lakes"][root] = {**_tree(root), "bad": check_refresh(op, con)}
            con.close()
        return ref
    with open(os.path.join(work, "oracles.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        p = os.path.join(work, "data", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    by_sql = {}
    for q in inputs.OPS_QUERIES:
        if oracles[q] not in by_sql:
            by_sql[oracles[q]] = digest(con, oracles[q])
    ref["digests"] = {q: by_sql[oracles[q]] for q in inputs.OPS_QUERIES}
    con.close()
    for op in result["ops"]:
        root = op["detail"].get("state")
        if root:
            ref["lakes"][root] = _tree(root)
    return ref


def compare(workload, op, ref):
    """None when the operation's output matches its reference, else why."""
    if op.get("error"):
        return op["error"]
    d = op["detail"]
    if workload == "ta_refresh":
        bad = ref["lakes"][d["lake"]]["bad"]
        return "; ".join(bad) if bad else None
    want = ref["digests"].get(d["query"])
    if d.get("digest") != want:
        return f"digest {d.get('digest')} != reference {want}"
    return None
