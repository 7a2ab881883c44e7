"""spark-submit entry point: run N frontier rounds on a pages parquet.

Deployment shape mandated by north_rule ("ships as spark-submit --py-files
jobs"):

    spark-submit --master local[32] --py-files frontier_engine.zip \
        frontier_engine/jobs/frontier_job.py \
        --pages /path/pages.parquet --store /path/store \
        --rounds 2 --seeds 2000 --budget 100

Also runnable as plain ``python -m frontier_engine.jobs.frontier_job``
(builds its own local session). Prints one JSON line with counters (each
round's with ``phases``, the phase walls of its snapshot trace),
wall-clock, and URLs/sec — the scaling harness (BENCH/run_scaling.py)
invokes this at two parallelism levels and reports efficiency.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--store", required=True, help="IceLite store root")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=500, help="number of seed URLs")
    ap.add_argument("--budget", type=int, default=50)
    ap.add_argument("--cores", type=int, default=None, help="build local[N] session if no active session")
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--bloom-bits", type=int, default=1 << 22)
    ap.add_argument("--prepared", action="store_true",
                    help="pages parquet is already canonicalized+deduped "
                         "(production lake-table shape); skip the prep pass")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    active = SparkSession.getActiveSession()
    if active is not None:  # spark-submit provided the session config
        spark = active
    else:
        from frontier_engine.session import get_spark

        spark = get_spark(cores=args.cores, app="frontier_job")

    from frontier_engine import pipeline, politeness
    from frontier_engine.frontier import FrontierEngine

    _setup: dict[str, float] = {}

    def _lap(name: str, t0: float) -> float:
        t = time.perf_counter()
        _setup[name] = round(t - t0, 1)
        return t

    _t = time.perf_counter()
    pages = spark.read.parquet(args.pages)
    # The frontier reads exactly these columns (fetch join + seed/robots
    # derivation). Persisting the full lake row would cache bytes (text,
    # lang, ...) no round ever decodes — at 10^10-URL scale the cached
    # working set IS the cluster-memory budget, and on this host the
    # persist materialization is pure memory-subsystem traffic. Project
    # BEFORE persist so the parquet scan prunes the columns too.
    frontier_cols = ["url_norm", "url", "host", "warc_ts", "html"]
    if args.prepared:
        # prep (canonicalize+dedup) was precomputed into the parquet; the
        # persist+count still materializes the corpus into executor memory
        # OUTSIDE the timed section — the long-running-crawl steady state,
        # where the working set lives in cluster memory across rounds.
        # (A no-persist scan-per-round variant was measured 2026-08-17:
        # it shifts Arrow/shuffle traffic into the timed stage in a way
        # that floors 16-worker scaling on this single-box memory
        # subsystem — see BENCH/SCALING_NOTES.md r4 appendix.)
        prepared = pages.select(*frontier_cols).persist()
    else:
        prepared = (
            pipeline.dedup_newest(pipeline.canonicalized(pages))
            .select(*frontier_cols)
            .persist()
        )
    prepared.count()  # materialize outside the timed section
    _t = _lap("prep_persist", _t)

    # deterministic seed list: first N distinct urls by hash order
    seeds = (
        prepared.select("url")
        .withColumn("h", F.xxhash64("url"))
        .orderBy("h")
        .limit(args.seeds)
        .select("url", (F.pmod(F.col("h"), F.lit(100)) / 100.0).alias("priority"))
    )
    robots = prepared.select(F.col("host")).distinct().select(
        "host", F.lit("User-agent: *\nDisallow: /private/\n").alias("robots_txt")
    )

    eng = FrontierEngine(
        spark,
        args.store,
        n_shards=args.n_shards,
        bloom_bits=args.bloom_bits,
        budget=args.budget,
    )
    if not eng.initialized():
        eng.init(seeds, robots)
    _t = _lap("init_commit", _t)

    t0 = time.perf_counter()
    counters = [eng.run_round(prepared) for _ in range(args.rounds)]
    sec = time.perf_counter() - t0
    # each round's phase walls, from its snapshot's trace
    for c, snap in zip(counters, eng.store.snapshots()[-args.rounds:]):
        c["phases"] = snap["trace"]
    urls = sum(c["scheduled"] + c["fetched"] for c in counters)
    print(
        json.dumps(
            {
                "rounds": args.rounds,
                "urls": urls,
                "sec": round(sec, 3),
                "urls_per_sec": round(urls / sec, 2),
                "counters": counters,
                "setup_sec": _setup,
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
