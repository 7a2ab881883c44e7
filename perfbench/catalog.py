"""A small query catalog made from the seed, and the traced probe that runs
the ``bench.py`` catalog queries over it.

The tables have the schemas of the repository's query testdata (TESTDATA.md)
at about a thousandth of scale factor 1, so ``queries``, ``dedup_cluster``,
``simsearch`` and ``analyzers`` are measured from files the benchmark writes
inside its own work directory. Only the tables those queries read are made.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# the bench.py catalog, in its order
QUERIES = (
    "scan_filter_project", "agg_pricing_summary", "lookup_join", "seen_anti_join",
    "dedup_keep_newest", "politeness_budget_cap", "rollup_counters", "url_canonicalize",
    "dedup_exact", "minhash_signature", "lsh_band_buckets", "simhash16", "quality_score",
    "token_count_bpe", "doc_fingerprint", "ann_cosine_threshold", "ann_topk_per_label",
    "dup_clusters", "kmeans_clusters", "ann_ivf_probe",
)
# One pass, so a traced run stays well inside its time limit. The session
# is already warm from the crawl, but each query's first plan and codegen
# are in its time.
PASSES = 1

N_LINEITEM, N_ORDERS, N_CUSTOMER, N_NATION = 6000, 1500, 150, 25
N_EVENTS, N_DOCS, N_VECS, DIM, LABELS = 1000, 500, 500, 64, 10
WORDS = (
    "the a fast slow big small key order sort table scan merge part window hash join "
    "batch stream spark row column data query filter value line customer agg vector group"
).split()
LANGS = ("en", "en", "fr", "es", "zh", "de")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def generate(out_dir: str, seed: int) -> None:
    """Write ``<table>.parquet`` for every table the catalog queries read."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("nation", {
        "n_nationkey": pa.array(np.arange(N_NATION, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(N_NATION)],
        "n_regionkey": pa.array(np.arange(N_NATION, dtype=np.int32) % 5),
    })
    write("customer", {
        "c_custkey": np.arange(1, N_CUSTOMER + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, N_CUSTOMER + 1)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"], N_CUSTOMER).tolist(),
    })
    # two thirds of the customers place orders, so the anti join keeps rows
    write("orders", {
        "o_orderkey": np.arange(1, N_ORDERS + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, N_CUSTOMER * 2 // 3 + 1, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 450000, N_ORDERS), 2),
        "o_orderdate": _ts("1992-01-01", rng.uniform(0, 2400 * 86400, N_ORDERS)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], N_ORDERS).tolist(),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(1, N_ORDERS + 1, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(1, 201, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(1, 11, N_LINEITEM).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM).tolist(),
        "l_linestatus": rng.choice(["O", "F"], N_LINEITEM).tolist(),
        "l_shipdate": _ts("1992-01-02", rng.uniform(0, 2500 * 86400, N_LINEITEM)),
    })
    write("events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 7 * 86400, N_EVENTS))),
        "user_id": rng.integers(0, 50, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
        "value": np.round(rng.uniform(0, 200, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    # documents: word soup; a tenth exact copies and a tenth one-word edits
    # of earlier documents, so the dedup and near-dup queries find groups
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i >= 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    write("documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: unit-ish vectors around one centre per label
    labels = rng.integers(0, LABELS, N_VECS)
    centres = rng.normal(0, 1, (LABELS, DIM))
    vecs = centres[labels] + rng.normal(0, 0.6, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def run_queries(spark, sf_dir: str) -> tuple[dict, dict]:
    """Each catalog query built and written to the ``noop`` sink, as
    ``bench.py`` times it, in ``PASSES`` passes over the catalog. Returns
    the last pass's wall and output row count per query. Rows are counted
    by an observation on the written plan, so no column is pruned."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from frontier_engine.queries import REGISTRY

    walls: dict[str, float] = {}
    rows: dict[str, int] = {}
    for _ in range(PASSES):
        for name in QUERIES:
            obs = Observation(name)
            t0 = time.perf_counter()
            df = REGISTRY[name][0](spark, sf_dir)
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
            rows[name] = int(obs.get["n"])
    return walls, rows


def layer_metrics(walls: dict) -> dict:
    out = {f"queries.{name}_s": (walls[name], "s") for name in QUERIES}
    out["queries.total_s"] = (sum(walls.values()), "s")
    return out
