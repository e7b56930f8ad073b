"""Seeded input generation for the two workloads.

Everything the engine sees comes from here: the TA account set and tag
fan-out, and the documents/embeddings tables the registry queries read. The
same seed gives byte-identical files.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, fixed per workload (the seed varies the content, not the size).
# ops_heavy has the row counts of the sf0.1 `documents` and `embeddings`
# tables; perfbench/README.md lists the shape figures the generator follows.
SIZES = {
    "ta_refresh": {"accounts": 8, "warmup_ops": 2, "pass_ops": 3},
    "ops_heavy": {"documents": 5000, "embeddings": 2000, "warmup_passes": 1,
                  "passes": 200, "pass_ops": 3},
}

TAG_KEYS = ["CostCenter", "Env", "Team"]
TAG_TYPES = ["ec2:instance", "elasticloadbalancing:loadbalancer", "rds:db"]
TAG_REGIONS = ["us-east-1", "us-west-2"]

# The 9 submitted views, each checked on its full content.
VIEWS = [
    "LowUtilizationAmazonEC2Instances_view",
    "UnderutilizedAmazonEBSVolumes_view",
    "IdleLoadBalancers_view",
    "AmazonRDSIdleDBInstances_view",
    "EC2ReservedInstanceLeaseExpiration_view",
    "UnderutilizedAmazonRedshiftClusters_view",
    "Route53LatencyResourceRecordSets_view",
    "UnassociatedElasticIPAddresses_view",
    "summary_view",
]

# Driver-bound iterative rounds (q64), a PQ kernel (q84), and a streaming
# query committing to a manifest lake (q212).
OPS_QUERIES = ["q64_components_stars", "q84_ann_pq",
               "q212_stream_index_maintain"]

# The corpus shape of the sf0.1 `documents` table: word salad over this
# 31-word vocabulary, 10 to 100 words a document, one document in twenty an
# earlier one plus " dup", languages in these proportions, 20 sources.
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = {"en": 41, "zh": 15, "es": 15, "fr": 15, "de": 14}


def ta_inputs(rng, n_accounts):
    ids = rng.sample(range(10 ** 11, 10 ** 12), n_accounts)
    first = datetime.date(2024, 1, 1) + datetime.timedelta(rng.randrange(300))
    return {
        "accounts": [(f"{a:012d}", f"Account {k}", f"acct{k}@example.com")
                     for k, a in enumerate(ids)],
        "first_day": first,
    }


def documents(rng, n):
    """Synthetic corpus in the shape of sf0.1's. Doc lengths are a seeded
    shuffle of one fixed list, so every seed gives about the same amount
    of text."""
    lengths = [10 + i % 90 for i in range(n)]
    rng.shuffle(lengths)
    dups = set(rng.sample(range(1, n), n // 20))
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(lengths[i])))
    langs = rng.choices(list(LANGS), weights=list(LANGS.values()), k=n)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n, dim=64):
    """Unit 64-d float vectors with ten labels, as in sf0.1."""
    gen = np.random.default_rng(seed)
    x = gen.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(gen.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def write_properties(path, props):
    with open(path, "w", encoding="utf-8") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")


def generate(workload, seed, work, seconds, trace, cores, overrides=None):
    """Write the workload's inputs under `work`. Returns the spec path and a
    description of the inputs for the run record."""
    rng = random.Random(f"{workload}:{seed}")
    size = SIZES[workload]
    props = {"workload": workload, "seed": seed, "work": work,
             "seconds": seconds, "trace": trace, "cores": cores,
             "mode": "run", "pass_ops": size["pass_ops"]}
    info = {"workload": workload, "seed": seed, **size}
    if workload == "ta_refresh":
        ta = ta_inputs(rng, size["accounts"])
        props.update({
            "ta.accounts": ",".join(":".join(a) for a in ta["accounts"]),
            "ta.first_day": ta["first_day"].isoformat(),
            "ta.tag_keys": ",".join(TAG_KEYS),
            "ta.tag_types": ",".join(TAG_TYPES),
            "ta.tag_regions": ",".join(TAG_REGIONS),
            "ta.views": ",".join(VIEWS),
            "warmup_ops": size["warmup_ops"],
        })
        info.update(first_day=ta["first_day"].isoformat(), checks=8,
                    tag_types=len(TAG_TYPES), tag_regions=len(TAG_REGIONS))
    else:
        data = os.path.join(work, "data")
        os.makedirs(data)
        pq.write_table(documents(rng, size["documents"]),
                       os.path.join(data, "documents.parquet"))
        pq.write_table(embeddings(rng.randrange(2 ** 32), size["embeddings"]),
                       os.path.join(data, "embeddings.parquet"))
        order = []
        for _ in range(size["passes"]):
            p = list(OPS_QUERIES)
            rng.shuffle(p)
            order += p
        p = os.path.join(work, "ops_file.txt")
        with open(p, "w", encoding="utf-8") as f:
            f.write("\n".join(order) + "\n")
        props.update({"ops.data": data, "ops.queries": ",".join(OPS_QUERIES),
                      "ops_file": p, "warmup_passes": size["warmup_passes"],
                      "ops.oracle_file": os.path.join(work, "oracles.json")})
        info["queries"] = OPS_QUERIES
    props.update(overrides or {})
    spec = os.path.join(work, "spec.properties")
    write_properties(spec, props)
    return spec, info
