"""Structured Streaming surface for the engine.

The reference is logically batch on a streaming runner: its only streaming
construct is ``WindowInto(FixedWindows(30))`` (index.py:171) over
processing-time stamps, which merely bounds sink flush granularity
(SURVEY.md §2.9). The engine's batch rounds already supersede that with
atomic snapshots; this module provides the genuine streaming equivalents
for users who want a continuous ingest surface:

- ``stream_pages``        — file-source stream over a pages directory,
- ``flush_window_counts`` — the FixedWindows(30) analog as an event-time
  tumbling window with a watermark (late data actually handled, which the
  reference never did),
- ``stream_to_icelite``   — ``foreachBatch`` sink committing each
  micro-batch as an IceLite snapshot: the streaming version of the
  ElasticsearchBulkSink buffer/flush cycle (es_sink.py:144-146) with
  exactly-once table commits instead of retried bulk posts,
- ``sessionize``          — session windows over per-host fetch events
  (politeness-relevant gap analysis); batch twin provided for oracle tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming scan of a pages parquet directory (file source; each new
    file is a micro-batch — the ReadWarcs glob-watch analog, warcio.py:46-69)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def flush_window_counts(pages: DataFrame, window: str = "30 seconds", watermark: str = "1 minute") -> DataFrame:
    """FixedWindows(30) analog (index.py:171): tumbling event-time window
    with watermark → per-window/lang ingest counters."""
    return (
        pages.withColumn("ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("bytes"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n",
            "bytes",
        )
    )


def stream_to_icelite(
    df: DataFrame,
    store_root: str,
    table: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """foreachBatch sink: each micro-batch commits one IceLite append
    snapshot (atomic; batch id recorded for exactly-once replay safety).
    The commit keeps the store's other tables and its counters, so the sink
    can share a store with the frontier."""
    from frontier_engine.icelite import IceLite

    store = IceLite(store_root)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = store.current_snapshot_id()
        prev = store.snapshot(last)["counters"] if last is not None else {}
        if prev.get("batch_id") == batch_id:
            return  # replayed batch after restart — already committed
        store.commit(
            tables={},
            append_tables={table: batch_df},
            counters={**prev, "batch_id": batch_id, "rows": batch_df.count()},
            note=f"stream-batch-{batch_id}",
        )

    writer = df.writeStream.outputMode("append").foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (lag + cumulative gap-count window): assigns a
    session_id per (user, gap>threshold run). The streaming twin is
    ``session_window``; this batch form is the DuckDB-comparable oracle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ parquet → LTZ (UTC session) → seconds
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


THROTTLE_OUTPUT_DDL = "host string, url string, ts timestamp, allowed boolean"
THROTTLE_STATE_DDL = "served bigint"


def politeness_throttle_stream(candidates: DataFrame, budget_per_host: int) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``): a
    per-host fetch budget enforced ACROSS micro-batches.

    The batch scheduler (politeness.py) caps each round at budget/host; a
    continuous ingest surface needs the same cap with state that survives
    triggers — host h may get 3 candidates in batch 1 and 4 in batch 2, and
    only ``budget_per_host`` total may pass. Built-in windowed aggs can't
    express "first k per key ever, streaming", so this is the
    applyInPandasWithState slot: state per host = URLs served so far.

    Within a batch, candidates are admitted in (ts, url) order — the same
    deterministic ordering the batch scheduler uses (politeness.py top-k),
    so a replayed batch admits the same rows. Emits every candidate with an
    ``allowed`` flag (audit-friendly; filter allowed=true for the fetch
    side). Scale: state is one bigint per host, partitioned by the shuffle
    on host — ~10^8 hosts × 8 B spreads across executors trivially.
    """
    import pandas as pd

    def throttle(key, pdf_iter, state):
        (host,) = key
        served = state.get[0] if state.exists else 0
        # a host's batch may arrive as several Arrow chunks
        # (maxRecordsPerBatch); the deterministic-admission claim needs ONE
        # global (ts, url) sort over the whole group, not per-chunk order.
        # State is one counter/host and a host's per-batch candidate count is
        # politeness-bounded, so materializing the group is O(small).
        chunks = list(pdf_iter)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(pdf):
            pdf = pdf.sort_values(["ts", "url"], kind="mergesort")
            room = max(budget_per_host - served, 0)
            flags = [i < room for i in range(len(pdf))]
            served += min(room, len(pdf))
            yield pd.DataFrame(
                {"host": host, "url": pdf["url"], "ts": pdf["ts"], "allowed": flags}
            )
        state.update((served,))

    return candidates.groupBy("host").applyInPandasWithState(
        throttle,
        outputStructType=THROTTLE_OUTPUT_DDL,
        stateStructType=THROTTLE_STATE_DDL,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming session windows (native session_window operator)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
    )
