"""The document-processing pipeline: pages table → meta + payload docs.

Spark-first re-expression of the reference's flagship `index` pipeline
(index.py:161-183 → ProcessRecords, process.py:90-196): a declarative
DataFrame plan whose only Python stage is one Arrow-batched pandas UDF
wrapping the oracle kernels (frontier_engine.oracle) — so pipeline output is
byte-identical to the single-node oracle by construction.

Plan shape (and why it scales):
  scan pages (parquet/IceLite; columns pruned to what each consumer needs)
    → canonicalize + xxhash64 (JVM built-in) → window dedup keep-newest per
    url_norm (single shuffle on url_norm) → ONE pandas-UDF projection
    (decode + parse + extract; narrow, no shuffle, Arrow-batched)
    → meta / payload projections as two filters off one cached frame
    (replaces beam.Partition fan-out, process.py:91-94)
    → sortWithinPartitions(idx_id) on write (es_sink.py:155 determinism).

The reference parses every record *before* filtering (process.py:161);
here the cheap predicates (size bounds) run inside the kernel before any
HTML parse, and Catalyst prunes the heavy `html` column away entirely for
frontier-only queries that never touch it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.window import Window

from frontier_engine import oracle
from frontier_engine.identity import index_uuid, webis_uuid
from frontier_engine.urlnorm import canonicalize_series, host_series

# ---------------------------------------------------------------- schemas

DOC_SCHEMA = T.StructType(
    [
        T.StructField("idx_id", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("skip_reason", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("source_offset", T.LongType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_content_length", T.LongType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("content_encoding", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("meta_keywords", T.ArrayType(T.StringType())),
        T.StructField("meta_desc", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("full_body", T.StringType()),
        T.StructField("headings", T.ArrayType(T.StringType())),
        T.StructField("lang", T.StringType()),
        T.StructField("body_length", T.LongType()),
        T.StructField("warc_target_hostname", T.StringType()),
        T.StructField("warc_target_path", T.StringType()),
        T.StructField("warc_target_query_string", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)

META_COLUMNS = [
    "uuid",
    "source_file",
    "source_offset",
    "warc_date",
    "warc_target_uri",
    "content_type",
    "content_length",
    "http_content_length",
    "http_content_type",
    "content_encoding",
]

PAYLOAD_COLUMNS = [
    "uuid",
    "date",
    "lang",
    "body_length",
    "warc_target_uri",
    "warc_target_hostname",
    "warc_target_path",
    "warc_target_query_string",
    "content_type",
    "title",
    "meta_keywords",
    "meta_desc",
    "body",
    "full_body",
    "headings",
]


# ---------------------------------------------------------------- stages

def canonicalized(df: DataFrame) -> DataFrame:
    """Add url_norm / host / url_hash.

    Canonicalization is a pandas kernel (north_rule mandate) returning a
    struct so url_norm+host cost ONE Arrow stage (chained scalar UDFs each
    add a python round-trip); the hash is Spark's JVM-side xxhash64 so bloom
    builders receive the hash as data and never need a Python hash.
    """

    @F.pandas_udf("url_norm string, host string")
    def _canon_host(urls: pd.Series) -> pd.DataFrame:
        norm = canonicalize_series(urls)
        return pd.DataFrame({"url_norm": norm, "host": host_series(norm)})

    return (
        df.withColumn("_ch", _canon_host(F.col("url")))
        .withColumn("url_norm", F.col("_ch.url_norm"))
        .withColumn("host", F.col("_ch.host"))
        .drop("_ch")
        .withColumn("url_hash", F.xxhash64(F.col("url_norm")))
    )


def dedup_newest(df: DataFrame, key: str = "url_norm") -> DataFrame:
    """Keep the newest record per canonical URL (SURVEY.md §2.4 keep-newest;
    analog of ES last-write-wins by _id). Deterministic tie-break on the raw
    url string. One shuffle on `key`."""
    w = Window.partitionBy(key).orderBy(F.col("warc_ts").desc(), F.col("url").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def make_process_udf(id_prefix: str):
    """One Arrow-batched kernel call per row-batch: the full reference
    lifecycle (decode → predicates → extract → project), process.py:131-306."""

    _META_KEYS = (
        "uuid", "source_file", "source_offset", "warc_date", "content_type",
        "content_length", "http_content_length", "http_content_type",
        "content_encoding",
    )
    _PAYLOAD_KEYS = (
        "title", "meta_keywords", "meta_desc", "body", "full_body", "headings",
        "lang", "body_length", "warc_target_hostname", "warc_target_path",
        "warc_target_query_string",
    )

    @F.pandas_udf(DOC_SCHEMA)
    def _process(urls: pd.Series, ts_ms: pd.Series, htmls: pd.Series) -> pd.DataFrame:
        # vectorized ts conversion once per Arrow batch (per-row pd.Timestamp
        # construction costs more than the date math itself)
        ts_objs = pd.DatetimeIndex(pd.to_datetime(ts_ms, unit="ms", utc=True)).to_pydatetime()
        cols: dict[str, list] = {f.name: [] for f in DOC_SCHEMA.fields}
        ap_idx = cols["idx_id"].append
        ap_skip = cols["skip_reason"].append
        ap_links = cols["links"].append
        for url, ts, html in zip(urls, ts_objs, htmls):
            if html is None:
                html = b""
            elif isinstance(html, str):
                # lenient package boundary: the contract is binary (raw WARC
                # payload; the charset ladder decodes), but an already-decoded
                # string column shouldn't fail the job mid-task
                html = html.encode("utf-8", "surrogatepass")
            r = oracle.process_page(
                url,
                ts,
                bytes(html),
                id_prefix=id_prefix,
                always_index_meta=True,  # meta struct always filled; kept/dropped downstream
            )
            m = r.meta or {}
            p = r.payload or {}
            ap_idx(r.idx_id)
            ap_skip(r.skip_reason or "")
            ap_links(r.links or [])
            for k in _META_KEYS:
                cols[k].append(m.get(k))
            for k in _PAYLOAD_KEYS:
                cols[k].append(p.get(k))
        return pd.DataFrame(cols)

    return _process


def processed(df: DataFrame, id_prefix: str = "synth") -> DataFrame:
    """pages (canonicalized, deduped) → one row per doc with `doc` struct,
    in the input's partitioning."""
    udf = make_process_udf(id_prefix)
    # cast: parquet written by pyarrow is TIMESTAMP_NTZ; session TZ is UTC,
    # so the cast to (LTZ) timestamp is exact
    return df.withColumn(
        "doc", udf(F.col("url"), F.unix_millis(F.col("warc_ts").cast("timestamp")), F.col("html"))
    )


# WARC header keys already surfaced as first-class meta columns — excluded
# from the spill map so a consumer never sees the same fact twice
_SPILL_EXCLUDED = ["warc_date", "warc_target_uri", "warc_type", "warc_record_id"]


def warc_header_spill(headers):
    """``warc_*`` dynamic-template spill (conf/meta_index.py:33-42): the ES
    index accepts ANY unanticipated ``WARC-*`` header as a keyword field;
    columnar tables can't grow columns per record, so the engine models it
    as a MapType column — keys normalized ``WARC-Foo-Bar → warc_foo_bar``
    (process.py:218), first-class keys dropped. Pure JVM map transform."""
    entries = F.map_entries(headers)
    norm = F.transform(
        entries,
        lambda e: F.struct(
            F.regexp_replace(F.lower(e["key"]), "-", "_").alias("key"),
            e["value"].alias("value"),
        ),
    )
    excluded = F.array(*[F.lit(k) for k in _SPILL_EXCLUDED])
    kept = F.filter(
        norm,
        lambda e: e["key"].startswith("warc_") & ~F.array_contains(excluded, e["key"]),
    )
    return F.map_from_entries(kept)


def http_date_iso(http_headers):
    """HTTP ``Date`` header → ISO-8601 (process.py:213-216: date_parse →
    isoformat; meta_index.py ``http_date`` is date_time_no_millis). RFC-1123
    parse is JVM-side to_timestamp; unparseable → null (the reference logs
    and nulls too)."""
    raw = F.element_at(http_headers, F.lit("Date"))
    # RFC-1123 dates are always GMT, and the leading day name is redundant —
    # Spark's modern parser refuses day-of-week fields on parse, so strip it
    stripped = F.regexp_replace(raw, r"^[A-Za-z]{3}, ", "")
    ts = F.to_timestamp(stripped, "dd MMM yyyy HH:mm:ss 'GMT'")
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX")


def meta_docs(proc: DataFrame, always_index_meta: bool = False) -> DataFrame:
    """Meta-index projection (create_metadata, process.py:198-235). Kept iff
    payload survived or always_index_meta (process.py:193-195). When the
    input carries WARC/HTTP header maps (warc_source ingest path), the
    ``warc_*`` spill map and parsed ``http_date`` are surfaced
    (meta_index.py:28-52 dynamic-template parity)."""
    keep = F.lit(True) if always_index_meta else (F.col("doc.skip_reason") == "")
    cols = [F.col("doc.idx_id").alias("idx_id")] + [
        (F.col("url") if c == "warc_target_uri" else F.col(f"doc.{c}")).alias(c)
        for c in META_COLUMNS
    ]
    if "warc_headers" in proc.columns:
        cols.append(warc_header_spill(F.col("warc_headers")).alias("warc_headers"))
    if "http_headers" in proc.columns:
        cols.append(http_date_iso(F.col("http_headers")).alias("http_date"))
    return proc.where(keep).select(*cols)


def payload_docs(proc: DataFrame) -> DataFrame:
    """Payload-index projection (create_payload, process.py:237-306)."""
    cols = [F.col("doc.idx_id").alias("idx_id")] + [
        (
            F.col("url").alias(c)
            if c == "warc_target_uri"
            else F.col("doc.warc_date").alias(c)
            if c == "date"
            else F.col(f"doc.{c}").alias(c)
        )
        for c in PAYLOAD_COLUMNS
    ]
    return proc.where(F.col("doc.skip_reason") == "").select(*cols)


def skip_counters(proc: DataFrame) -> DataFrame:
    """Per-reason skip counters — the distributed-metrics analog of the
    reference's Metrics.counter (process.py:120,141) as a tiny agg."""
    return (
        proc.groupBy(F.coalesce(F.nullif(F.col("doc.skip_reason"), F.lit("")), F.lit("ok")).alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("reason")
    )


def run_pipeline(pages: DataFrame, id_prefix: str = "synth", always_index_meta: bool = False) -> dict:
    """Full flagship pipeline. Returns dict of DataFrames; `proc` is cached
    because meta and payload branch from it (beam fan-out analog).

    r6 plan-shape change (guide §8: move heavy payloads once): the html
    column used to cross TWO exchanges — the dedup window's url_norm hash
    shuffle and then a salted host repartition feeding the extraction UDF.
    The salt's job (spread hot hosts) is already done by hash(url_norm):
    distinct URLs of one host hash uniformly. So the pipeline now
    repartitions ONCE by url_norm with an explicit width; the window's
    ClusteredDistribution(url_norm) is satisfied by that partitioning (no
    second exchange — plan-tested), and the explicit numPartitions keeps
    AQE from byte-coalescing the stage that feeds the ~10³×-heavier-than-
    relational extraction UDF (the reason the old salt step pinned a
    width explicitly)."""
    n_part = pages.sparkSession.sparkContext.defaultParallelism * 2
    prepared = dedup_newest(canonicalized(pages).repartition(n_part, F.col("url_norm")))
    proc = processed(prepared, id_prefix=id_prefix)
    proc = proc.persist()
    return {
        "proc": proc,
        "meta": meta_docs(proc, always_index_meta).sortWithinPartitions("idx_id"),
        "payload": payload_docs(proc).sortWithinPartitions("idx_id"),
        "counters": skip_counters(proc),
    }
