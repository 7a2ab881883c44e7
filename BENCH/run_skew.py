"""Skew-stress bench (VERDICT r2 item 7): one host = 30 % of all pages.

All other frontier/bench evidence uses ~uniform synthetic hosts; this run
measures a salted host-hash repartition (``salted_repartition`` below)
spreading a hot host over ``salt`` sub-keys before the compute-heavy
extraction UDF, against naive host partitioning, on a
zipf-with-one-monster-host corpus. (The engine itself no longer salts: its
fetch join and pipeline partition by hash(url_norm), which spreads the
URLs of one host uniformly.)

Protocol: generate pages with ``hot_host_frac=0.30``; run the extraction
stage once per strategy, each in its OWN Spark session with its own event
log (clean stage attribution):
  A. repartition by RAW host — the naive co-location strategy; one
     partition inherits 30 % of all work,
  B. salted host-hash repartition.
Parse per-task durations of each run's heaviest stage (the extraction
stage) and report p50 / p99 / max + a histogram. Gate (reported): salted
p99/p50 under ~3x; naive straggler demonstrably worse.

Writes BENCH/SKEW.md. Usage:  python BENCH/run_skew.py [--pages 120000]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def salted_repartition(df, n: int, salt: int = 8):
    """Salted host-hash repartition before a compute-heavy UDF stage: hot
    hosts spread over ``salt`` partitions. Explicit because AQE coalesces
    by *bytes* and cannot see that the extraction UDF is ~10³× heavier per
    byte than a relational op."""
    from pyspark.sql import functions as F

    host_bucket = F.pmod(F.xxhash64(F.col("host")), F.lit(1 << 20))  # bounded: no ANSI overflow
    key = host_bucket * salt + F.pmod(F.coalesce(F.col("url_hash"), F.lit(0)), F.lit(salt))
    return df.repartition(n, key)


def task_durations_by_stage(event_dir: str) -> dict[int, dict]:
    """Parse Spark event logs → {stage_id: {'name': ..., 'tasks': [sec]}}."""
    stages: dict[int, dict] = {}
    paths = []
    for root, _dirs, files in os.walk(event_dir):  # eventlog_v2 dirs
        paths += [os.path.join(root, fn) for fn in files if "appstatus" not in fn]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.setdefault(info["Stage ID"], {"tasks": []})["name"] = info["Stage Name"]
                elif ev.get("Event") == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                    if dur > 0:
                        stages.setdefault(ev["Stage ID"], {"tasks": []}).setdefault(
                            "tasks", []
                        ).append(dur)
    return stages


def timed_save_stage(stages: dict[int, dict]) -> tuple[int, dict]:
    """The TIMED extraction stage = the last 'save' stage of the session
    (the warmup's save precedes it; counts/shuffles are named otherwise)."""
    saves = [
        (sid, s) for sid, s in stages.items()
        if s.get("tasks") and s.get("name", "").startswith("save")
    ]
    return max(saves, key=lambda kv: kv[0])


def pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def hist(xs, n_bins=8) -> list[str]:
    lo, hi = min(xs), max(xs)
    width = (hi - lo) / n_bins or 1.0
    counts = [0] * n_bins
    for x in xs:
        counts[min(n_bins - 1, int((x - lo) / width))] += 1
    mx = max(counts) or 1
    return [
        f"| {lo + i * width:6.2f}-{lo + (i + 1) * width:6.2f} s | {c:4d} | {'#' * (40 * c // mx)} |"
        for i, c in enumerate(counts)
    ]


def run_strategy(strategy: str, pages_path: str, cores: int) -> dict:
    """One session: read pages → canonicalize/dedup → repartition per the
    strategy → extraction UDF → noop sink. Returns stage stats + wall."""
    from pyspark.sql import functions as F

    from frontier_engine import pipeline
    from frontier_engine.session import get_spark

    event_dir = tempfile.mkdtemp(prefix=f"skew_ev_{strategy}_")
    spark = get_spark(
        cores=cores,
        app=f"skew_{strategy}",
        shuffle_partitions=cores,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        },
    )
    n_part = cores * 2
    prepared = pipeline.dedup_newest(
        pipeline.canonicalized(spark.read.parquet(pages_path))
    ).persist()
    n = prepared.count()
    hot = prepared.where(F.col("host") == "hot.example.com").count()

    if strategy == "naive":
        udf_in = prepared.repartition(n_part, F.col("host"))
    else:
        udf_in = salted_repartition(prepared, n_part)
    # warmup of the python workers so first-call spawn cost doesn't sit in
    # one strategy's tail (host noise discipline, see bench.py)
    pipeline.processed(prepared.limit(512), id_prefix="warm").select(
        F.col("doc.body")
    ).write.format("noop").mode("overwrite").save()

    udf = pipeline.make_process_udf("skew")
    proc = udf_in.withColumn(
        "doc", udf(F.col("url"), F.unix_millis(F.col("warc_ts").cast("timestamp")), F.col("html"))
    )
    t0 = time.perf_counter()
    proc.select(F.length(F.col("doc.body")).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    wall = time.perf_counter() - t0
    spark.stop()  # closes the event log

    sid, stage = timed_save_stage(task_durations_by_stage(event_dir))
    t = stage["tasks"]
    return {
        "strategy": strategy,
        "wall": wall,
        "n": n,
        "hot": hot,
        "stage_id": sid,
        "stage_name": stage["name"].splitlines()[0],
        "tasks": t,
        "p50": statistics.median(t),
        "p99": pct(t, 0.99),
        "max": max(t),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=120000)
    ap.add_argument("--paras", type=int, default=60)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    os.environ.setdefault("FRONTIER_SHM_TMP", "1")
    from frontier_engine import synth
    from frontier_engine.session import get_spark

    data_dir = tempfile.mkdtemp(prefix="skew_pages_")
    pages_path = os.path.join(data_dir, "pages")
    spark = get_spark(cores=args.cores, app="skew_gen")
    synth.generate_pages_spark(
        spark, args.pages, n_hosts=150, paras=args.paras, hot_host_frac=0.30
    ).write.parquet(pages_path)
    spark.stop()

    naive = run_strategy("naive", pages_path, args.cores)
    salted = run_strategy("salted", pages_path, args.cores)

    r = lambda x: round(x, 2)
    ratio = lambda s: r(s["p99"] / s["p50"])
    lines = [
        "# BENCH/SKEW.md — hot-host skew stress (auto-generated by BENCH/run_skew.py)",
        "",
        f"Corpus: {salted['n']} pages after dedup; ONE host carries "
        f"{salted['hot']} ({100 * salted['hot'] / salted['n']:.1f} %). "
        f"local[{args.cores}], {args.cores * 2} extraction partitions, ~{args.paras * 120} B html/page.",
        "",
        "| strategy | stage wall | tasks | p50 | p99 | max | p99/p50 |",
        "|---|---|---|---|---|---|---|",
        f"| naive repartition(host) | {r(naive['wall'])} s | {len(naive['tasks'])} | {r(naive['p50'])} s | "
        f"{r(naive['p99'])} s | {r(naive['max'])} s | **{ratio(naive)}x** |",
        f"| salted_repartition (salt=8) | {r(salted['wall'])} s | {len(salted['tasks'])} | "
        f"{r(salted['p50'])} s | {r(salted['p99'])} s | {r(salted['max'])} s | **{ratio(salted)}x** |",
        "",
        f"Gate: salted p99/p50 = {ratio(salted)}x (target < ~3x); naive straggler "
        f"max {r(naive['max'])} s vs salted max {r(salted['max'])} s.",
        "",
        "## Salted-stage task-time histogram",
        "",
        "| bucket | tasks | |",
        "|---|---|---|",
        *hist(salted["tasks"]),
        "",
        "## Naive-stage task-time histogram",
        "",
        "| bucket | tasks | |",
        "|---|---|---|",
        *hist(naive["tasks"]),
        "",
        f"Stages measured: naive {naive['stage_id']} ({naive['stage_name']}), "
        f"salted {salted['stage_id']} ({salted['stage_name']}) — each run's LAST "
        "'save' stage (the timed extraction noop write), in its own session/event log.",
    ]
    out = os.path.join(REPO, "BENCH", "SKEW.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
