"""Driver-contract query catalog: SURVEY.md §2 operators + training-data ops,
each as a (Spark DataFrame callable, DuckDB oracle SQL) pair over the
driver's testdata tables (TESTDATA.md).

Conventions (driver compare = row count + schema + order-insensitive
value hash at sf0.01):
- every computed column aliased identically on both sides,
- doubles rounded (both sides compute mathematically identical doubles;
  rounding guards the final-ulp),
- arrays joined to strings, timestamps formatted to strings,
- portable numeric hash = first 8 hex chars of md5 as bigint
  (Spark ``conv(substr(md5(x),1,8),16,10)`` ≡ DuckDB
  ``('0x'||substr(md5(x),1,8))::bigint``).

Queries whose semantics are not SQL-expressible (bloom state, frontier
round) are registered without an oracle — the driver records a rows-only
check and the pytest suite carries their correctness.
"""

from __future__ import annotations

from typing import Callable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

# registry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {}


def q(name: str, sql: Optional[str]):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _parquet_scan_width(path: str, enough: int) -> int:
    """Effective max parallel scan tasks for a parquet path = total row
    groups across its files. Spark splits files by byte ranges, but a split
    only yields rows for row groups whose midpoint it contains — a
    single-row-group file is effectively unsplittable no matter how many
    byte-range splits the planner makes. Footer reads only, no data scan.
    Each non-empty file holds at least one row group, so a path of at least
    ``enough`` files returns its file count without opening any footer."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*.parquet"))
    if len(files) >= enough:
        return len(files)
    return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)


def load_wide(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``load`` + scale-adaptive scan fan-out for compute-heavy consumers
    (guide §2.5, input skew: "one huge unsplittable file … repartition
    immediately after the read"). The driver's tables are single-row-group
    parquet files, so every scan-stage computation — tokenize, md5,
    window partials — otherwise runs in ONE task regardless of cores. The
    repartition is GATED on the measured scan width: when the layout
    already yields at least half the cluster's parallelism (any realistic
    multi-file table at scale), this is a plain ``load`` with zero added
    shuffle — nothing here is tuned to local[32]."""
    df = load(spark, sf_dir, table)
    cores = spark.sparkContext.defaultParallelism
    enough = max(2, cores // 2)
    try:
        width = _parquet_scan_width(f"{sf_dir}/{table}.parquet", enough)
    except Exception:
        return df
    if width < enough:
        return df.repartition(cores)
    return df


def _hash64(col):
    """Portable 32-bit-ish numeric hash from md5 (JVM-side, codegen'd)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# =========================================================================
# §2.1/2.2 — scans, projections, predicate ladder
# =========================================================================

@q(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint) AS net_cents
    FROM lineitem
    WHERE l_shipdate < timestamp '1996-01-01' AND l_quantity > 45
    """,
)
def scan_filter_project(spark, sf_dir):
    """Parquet scan with pushed filters + pruned columns (SURVEY §2.2; the
    reference parses everything then filters — Catalyst pushes both).
    Per-row money math floors to integer cents: both engines compute the
    identical double, and floor of an identical double is engine-portable
    (per-row round() is not — rounding algorithms differ at boundaries)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 45))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long").alias("net_cents"),
        )
    )


@q(
    "content_filters",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars >= 200 AND n_chars <= 1048576
      AND lang IN ('en','de','fr')
    """,
)
def content_filters(spark, sf_dir):
    """The reference's size-window + whitelist predicate ladder
    (process.py:166-174) over the documents table."""
    d = load(spark, sf_dir, "documents")
    return d.where(
        (F.col("n_chars") >= 200)
        & (F.col("n_chars") <= 1024 * 1024)
        & F.col("lang").isin("en", "de", "fr")
    ).select("doc_id", "lang", "n_chars")


@q(
    "skip_counters",
    """
    SELECT CASE WHEN n_chars < 200 THEN 'too_short'
                WHEN lang NOT IN ('en','de','fr') THEN 'wrong_lang'
                ELSE 'ok' END AS reason,
           count(*) AS n, sum(n_chars)::bigint AS chars
    FROM documents GROUP BY 1
    """,
)
def skip_counters(spark, sf_dir):
    """Skip-reason counters (Metrics.counter analog, process.py:120) as a
    single-pass conditional aggregation."""
    d = load(spark, sf_dir, "documents")
    reason = (
        F.when(F.col("n_chars") < 200, "too_short")
        .when(~F.col("lang").isin("en", "de", "fr"), "wrong_lang")
        .otherwise("ok")
    )
    return (
        d.groupBy(reason.alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
    )


@q(
    "header_normalize",
    """
    SELECT DISTINCT lower(replace('WARC-' || upper(event_type), '-', '_')) AS header_key
    FROM events
    """,
)
def header_normalize(spark, sf_dir):
    """WARC header-key normalization (process.py:222): lowercase + '-'→'_'."""
    e = load(spark, sf_dir, "events")
    return e.select(
        F.lower(F.replace(F.concat(F.lit("WARC-"), F.upper("event_type")), F.lit("-"), F.lit("_"))).alias("header_key")
    ).distinct()


@q(
    "mojibake_scrub",
    """
    SELECT doc_id,
           trim(regexp_replace(replace(text, 'a', ''), '\\s{2,}', ' ', 'g')) AS scrubbed
    FROM documents WHERE doc_id < 100
    """,
)
def mojibake_scrub(spark, sf_dir):
    """The U+FFFD scrub (process.py:264-268): strip char, collapse multi-space."""
    d = load(spark, sf_dir, "documents")
    return d.where(F.col("doc_id") < 100).select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.replace(F.col("text"), F.lit("a"), F.lit("")), r"\s{2,}", " ")
        ).alias("scrubbed"),
    )


# =========================================================================
# §2.3 — joins
# =========================================================================

@q(
    "lookup_join",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_totalprice > 300000
    """,
)
def lookup_join(spark, sf_dir):
    """The Redis point-lookup merge (process.py:178-180) as broadcast
    left-outer equi joins — the engine's rank-join shape."""
    o, c, n = (load(spark, sf_dir, t) for t in ("orders", "customer", "nation"))
    return (
        o.where(F.col("o_totalprice") > 300000)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select("o_orderkey", "o_totalprice", "c_name", "n_name")
    )


@q(
    "seen_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def seen_anti_join(spark, sf_dir):
    """URL-seen subtraction shape (SURVEY §2.3): left_anti join.

    r6 (guide §3.1): the exclusion side is projected to its distinct join
    keys and broadcast — an anti join only needs key membership, so the
    distinct collapses the fact table to its key set and the broadcast
    replaces the sort-merge anti (both sides shuffled+sorted) with a
    broadcast hash anti of the probe side (measured 0.97→0.68 s at sf1.0).
    Anti-join semantics are key-set semantics: distinct changes nothing."""
    c, o = load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    return c.join(
        F.broadcast(o.select("o_custkey").distinct()),
        c.c_custkey == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


@q(
    "semi_join",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
    """,
)
def semi_join(spark, sf_dir):
    s, li = load(spark, sf_dir, "supplier"), load(spark, sf_dir, "lineitem")
    return s.join(
        li.where(F.col("l_quantity") > 49), s.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# =========================================================================
# §2.4/2.5 — aggregations & windows
# =========================================================================

@q(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped partial+final hash aggregation (map-side combine)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "dedup_keep_newest",
    """
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def dedup_keep_newest(spark, sf_dir):
    """Keep-newest window dedup — the pages-table dedup (SURVEY §2.4) on events."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


@q(
    "politeness_budget_cap",
    """
    SELECT user_id, seq, event_id FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS seq
      FROM events) WHERE seq <= 3
    """,
)
def politeness_budget_cap(spark, sf_dir):
    """Per-host budget cap as a window top-k (the schedule_window oracle
    shape, politeness.py) with user_id ≙ host, value ≙ priority."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        e.withColumn("seq", F.row_number().over(w))
        .where(F.col("seq") <= 3)
        .select("user_id", "seq", "event_id")
    )


@q(
    "flush_window_agg",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def flush_window_agg(spark, sf_dir):
    """The reference's 30 s flush window (index.py:171) generalized to an
    event-time tumbling-window aggregation."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@q(
    "rollup_counters",
    """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(day, 'ALL') AS day, n
    FROM (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                 count(*) AS n
          FROM events GROUP BY ROLLUP (event_type, day))
    """,
)
def rollup_counters(spark, sf_dir):
    """Hierarchical metric rollups (Catalyst ROLLUP — free per SURVEY §2.4)."""
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n",
        )
    )


# =========================================================================
# §2.6/2.7 — sorts / top-k / set ops
# =========================================================================

@q(
    "global_topk_ordered",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
)
def global_topk_ordered(spark, sf_dir):
    """Deterministic global order (es_sink.py:155 sorted-output analog):
    Spark plans this as TakeOrderedAndProject, no full sort."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(25)
    )


@q(
    "frontier_union",
    """
    SELECT DISTINCT user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id FROM events WHERE event_type = 'error')
    """,
)
def frontier_union(spark, sf_dir):
    """Seed ∪ discovered frontier growth (SURVEY §2.7): unionByName+distinct."""
    e = load(spark, sf_dir, "events")
    return (
        e.where(F.col("event_type") == "click")
        .select("user_id")
        .unionByName(e.where(F.col("event_type") == "error").select("user_id"))
        .distinct()
    )


@q(
    "set_except",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def set_except(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        e.where(F.col("event_type") == "view")
        .select("user_id")
        .subtract(e.where(F.col("event_type") == "error").select("user_id"))
    )


# =========================================================================
# §2.8 — scalar functions: urls, dates, json, hashing, keywords
# =========================================================================

@q(
    "url_canonicalize",
    """
    SELECT event_id,
           'http://www.site' || (user_id % 40) || '.com/path/' || event_type ||
             '/page' || (event_id % 100) || '.html' AS url_norm
    FROM events WHERE event_id < 2000
    """,
)
def url_canonicalize(spark, sf_dir):
    """north_rule canonicalizer over a constructed non-canonical URL family
    (uppercase scheme+host, explicit :80, fragment). Spark side runs the real
    pandas kernel; the oracle states the expected output directly."""
    from frontier_engine.urlnorm import canonicalize_series

    @F.pandas_udf(T.StringType())
    def canon(u: pd.Series) -> pd.Series:
        return canonicalize_series(u)

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    raw = F.concat(
        F.lit("HTTP://WWW.SITE"),
        (F.col("user_id") % 40).cast("string"),
        F.lit(".COM:80/path/"),
        F.col("event_type"),
        F.lit("/page"),
        (F.col("event_id") % 100).cast("string"),
        F.lit(".html#frag"),
    )
    return e.select("event_id", canon(raw).alias("url_norm"))


@q(
    "parse_url_split",
    """
    SELECT event_id,
           'h' || (user_id % 20) || '.example.org' AS host,
           '/p/' || event_type AS path,
           'q=' || (event_id % 5) AS query
    FROM events WHERE event_id < 1000
    """,
)
def parse_url_split(spark, sf_dir):
    """urlparse host/path/query split (process.py:254,285-287) via the
    parse_url built-in; oracle states expected parts."""
    e = load(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    url = F.concat(
        F.lit("https://h"),
        (F.col("user_id") % 20).cast("string"),
        F.lit(".example.org/p/"),
        F.col("event_type"),
        F.lit("?q="),
        (F.col("event_id") % 5).cast("string"),
    )
    return e.select(
        "event_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )


_DAYS_2021 = "CASE WHEN m = 2 THEN 28 WHEN m IN (4,6,9,11) THEN 30 ELSE 31 END"


@q(
    "clip_warc_date",
    f"""
    SELECT event_id,
           '2021-' || lpad(m::varchar, 2, '0') || '-' ||
             lpad(least(d, {_DAYS_2021})::varchar, 2, '0') AS clipped
    FROM (SELECT event_id, 1 + event_id % 12 AS m, 25 + event_id % 7 AS d
          FROM events WHERE event_id < 1000)
    """,
)
def clip_warc_date_q(spark, sf_dir):
    """clip_warc_date kernel (process.py:377-389) over synthesized
    sometimes-invalid dates (day 25..31 across all months of 2021)."""
    from frontier_engine.identity import clip_warc_date_series

    @F.pandas_udf(T.StringType())
    def clip(s: pd.Series) -> pd.Series:
        return clip_warc_date_series(s)

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    raw = F.concat(
        F.lit("2021-"),
        F.lpad((1 + F.col("event_id") % 12).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((25 + F.col("event_id") % 7).cast("string"), 2, "0"),
    )
    return e.select("event_id", clip(raw).alias("clipped"))


@q(
    "json_props_extract",
    """
    SELECT event_id, json_extract_string(props, '$.k')::bigint AS k
    FROM events WHERE event_id < 3000
    """,
)
def json_props_extract(spark, sf_dir):
    """JSON decode of side-channel props (rank JSON analog, index.py:232)."""
    e = load(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@q(
    "rank_line_parse",
    """
    SELECT split_part(line, ' ', 2) AS doc_id,
           try_cast(split_part(line, ' ', 1) AS bigint) AS rank_value
    FROM (SELECT (CASE WHEN event_id % 10 = 0 THEN 'bogus' ELSE (event_id % 97)::varchar END)
                 || ' doc-' || user_id AS line
          FROM events WHERE event_id < 2000)
    WHERE try_cast(split_part(line, ' ', 1) AS bigint) IS NOT NULL
    """,
)
def rank_line_parse(spark, sf_dir):
    """'<value> <id>' rank-line parsing with silent malformed drops
    (process.py:493-506) — the ranks.parse_rank_lines shape inline."""
    e = load(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    line = F.concat(
        F.when(F.col("event_id") % 10 == 0, F.lit("bogus")).otherwise(
            (F.col("event_id") % 97).cast("string")
        ),
        F.lit(" doc-"),
        F.col("user_id").cast("string"),
    )
    parts = F.split(line, r"\s+", 2)
    out = F.get(parts, 1).alias("doc_id"), F.get(parts, 0).try_cast("long").alias("rank_value")
    return e.select(*out).where(F.col("rank_value").isNotNull())


@q(
    "webis_id_hash",
    """
    SELECT doc_id, md5('synth:' || doc_id) AS webis_md5,
           ('0x' || substr(md5('synth:' || doc_id), 1, 8))::bigint AS id_hash
    FROM documents
    """,
)
def webis_id_hash(spark, sf_dir):
    """Corpus-prefixed document identity hashing (webis_uuid shape,
    process.py:319-329) via portable md5."""
    d = load_wide(spark, sf_dir, "documents")
    key = F.concat(F.lit("synth:"), F.col("doc_id").cast("string"))
    return d.select("doc_id", F.md5(key).alias("webis_md5"), _hash64(key).alias("id_hash"))


@q(
    "salted_host_partition",
    """
    SELECT p, count(*) AS n FROM (
      SELECT (( ('0x' || substr(md5('site' || (user_id % 40)), 1, 8))::bigint * 7
               + event_id % 7) % 64) AS p
      FROM events)
    GROUP BY p
    """,
)
def salted_host_partition(spark, sf_dir):
    """Salted host-hash partitioning (north_star skew defense): partition id
    = (hash(host)*SALT + salt_i) mod N; distribution check as counts."""
    e = load_wide(spark, sf_dir, "events")
    host = F.concat(F.lit("site"), (F.col("user_id") % 40).cast("string"))
    p = (_hash64(host) * 7 + F.col("event_id") % 7) % 64
    return e.groupBy(p.alias("p")).agg(F.count(F.lit(1)).alias("n"))


@q(
    "keyword_dedup_cap",
    """
    SELECT doc_id,
           array_to_string(list_slice(list_sort(list_distinct(
             string_split_regex(lower(trim(text)), '\\s+'))), 1, 30), ',') AS keywords
    FROM documents WHERE doc_id < 200
    """,
)
def keyword_dedup_cap(spark, sf_dir):
    """Keyword split→lowercase→dedup→sort→cap-30 (process.py:443-459 with the
    engine's determinism fix) as pure array ops."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    kws = F.slice(
        F.array_sort(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))), 1, 30
    )
    return d.select("doc_id", F.array_join(kws, ",").alias("keywords"))


# =========================================================================
# Training-data ops: dedup / similarity / text analysis (task mandate)
# =========================================================================

@q(
    "dedup_exact",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           min(doc_id) AS keeper, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact near-normalized dedup: hash-groupBy on a canonicalized text
    fingerprint, keep min doc_id (map-side combinable; no pairwise work)."""
    d = load_wide(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return d.groupBy(fp.alias("fp")).agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_dups")
    )


_TOK_SQL = "SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok FROM documents"


@q(
    "minhash_signature",
    f"""
    SELECT doc_id,
           min(md5(tok || '#0')) AS mh0, min(md5(tok || '#1')) AS mh1,
           min(md5(tok || '#2')) AS mh2, min(md5(tok || '#3')) AS mh3
    FROM ({_TOK_SQL}) GROUP BY doc_id
    """,
)
def minhash_signature(spark, sf_dir):
    """MinHash signatures (4 hash family members) over distinct-token
    shingles; min-of-md5 is a valid permutation-free minhash family and is
    engine-portable.

    r6: per-doc mins computed with array_min over a transform of the token
    array — ZERO shuffle, zero explode. The old explode + groupBy(doc_id)
    planned as SortAggregate (min over strings has no fixed-width buffer, so
    no hash agg), paying a full sort of every exploded token row twice
    (partial + final) plus an exchange, for tokens that were co-located in
    their source row all along. The token array is aliased in its own
    projection so CollapseProject cannot inline the (expensive) split 4×.
    The non-null filter reproduces explode's drop of null token arrays
    (split of a non-null string is never null/empty).

    Requires ``doc_id`` to be unique in ``documents``: each input row yields
    its own signature row, where a GROUP BY doc_id (the oracle's shape)
    would merge the tokens of rows sharing an id into one signature."""
    d = load_wide(spark, sf_dir, "documents")
    toks = d.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("_toks"),
    )

    def _mh(i: int):
        # single-parameter lambda: a (t, i) lambda would be the
        # element+index transform form and shadow the loop variable
        suffix = F.lit(f"#{i}")
        return F.array_min(
            F.transform("_toks", lambda t: F.md5(F.concat(t, suffix)))
        ).alias(f"mh{i}")

    return toks.select("doc_id", *[_mh(i) for i in range(4)])


@q(
    "lsh_band_buckets",
    f"""
    SELECT band, bucket, count(*) AS n_docs FROM (
      SELECT doc_id, 0 AS band, min(md5(tok || '#0')) || min(md5(tok || '#1')) AS bucket
      FROM ({_TOK_SQL}) GROUP BY doc_id
      UNION ALL
      SELECT doc_id, 1 AS band, min(md5(tok || '#2')) || min(md5(tok || '#3')) AS bucket
      FROM ({_TOK_SQL}) GROUP BY doc_id)
    GROUP BY band, bucket HAVING count(*) > 1
    """,
)
def lsh_band_buckets(spark, sf_dir):
    """LSH banding over the minhash signature: candidate buckets = docs
    agreeing on a whole band (2 hashes/band × 2 bands). Bucket-join replaces
    O(n²) pair comparison — the scale path for near-dup at 10^10 docs."""
    sig = minhash_signature(spark, sf_dir)
    return (
        _sig_bands(sig)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def _sig_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows from a minhash signature frame in ONE
    pass: explode a 2-element struct array instead of unioning two
    projections of ``sig``. The union form scanned the (now exchange-free)
    signature subtree twice — with no Exchange underneath, ReuseExchange
    cannot dedupe it, so every band recomputed the full split+md5 chain."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.concat("mh0", "mh1").alias("bucket")),
                F.struct(F.lit(1).alias("band"), F.concat("mh2", "mh3").alias("bucket")),
            )
        ).alias("_bb"),
    ).select("doc_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


# Jaccard similarity threshold for the exact near-dup verifier; the prefix
# length below is derived from it (PPJoin / All-Pairs prefix filtering)
JACCARD_T = 0.9


@q(
    "ngram_jaccard_pairs",
    f"""
    WITH tok AS ({_TOK_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
    ranked AS (
      SELECT t.doc_id, t.tok,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS pos,
             count(*) OVER (PARTITION BY t.doc_id) AS sz
      FROM tok t JOIN dfreq d ON d.tok = t.tok),
    prefix AS (SELECT doc_id, tok FROM ranked
               WHERE pos <= sz - ceil({JACCARD_T} * sz)::bigint + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.da, c.db, count(*) AS i
      FROM cand c
      JOIN tok a ON a.doc_id = c.da
      JOIN tok b ON b.doc_id = c.db AND b.tok = a.tok
      GROUP BY 1, 2)
    SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_T}
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact token-set Jaccard for near-dup pairs ≥ t (=0.9), scale-safe via
    PPJoin-style prefix filtering (Xiao et al., WWW'08 — public algorithm):

    1. order tokens globally by (document frequency ASC, token) — a total
       order putting rare tokens first,
    2. each doc's candidate prefix = its first |d| - ceil(t·|d|) + 1 tokens
       in that order (~10% of the doc at t=0.9). LEMMA: if J(A,B) ≥ t then
       the smallest common token of A and B lies in BOTH prefixes — because
       |A∩B| ≥ t·|A| forces it into position ≤ |A| - ceil(t·|A|) + 1. So
       candidate generation over prefixes has EXACT recall, unconditionally
       (unlike a df-cap, which loses pairs whose shared tokens are all hot
       — fatal on boilerplate-heavy web corpora),
    3. self-join on prefix tokens only: hot tokens sort last and almost
       never enter a prefix, so the per-token join fan-out collapses —
       no "the"-token k² blowup,
    4. exact verification: candidates joined back to FULL token sets, so
       the reported jaccard is exact.

    The LSH query above is the probabilistic alternative prefilter; this is
    the exact one."""
    d = load_wide(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))).alias("tok"),
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = (
        tok.join(dfreq, "tok")
        .withColumn("pos", F.row_number().over(wdoc.orderBy("df", "tok")))
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(JACCARD_T) * F.col("sz")).cast("long") + 1
    ).select("doc_id", "tok")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    # exact intersection over FULL token sets, restricted to candidates:
    # fan-out bounded by |cand| × tokens-per-doc, equi-joined on (doc, tok)
    inter = (
        cand.join(tok.alias("ta"), F.col("da") == F.col("ta.doc_id"))
        .join(
            tok.alias("tb"),
            (F.col("db") == F.col("tb.doc_id")) & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), F.col("da") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("db") == F.col("sb.doc_id"))
        .where(jac >= JACCARD_T)
        .select("da", "db", F.round(jac, 4).alias("jaccard"))
    )


@q(
    "dup_clusters",
    f"""
    WITH RECURSIVE
    sig AS (
      SELECT doc_id,
             min(md5(tok || '#0')) AS mh0, min(md5(tok || '#1')) AS mh1,
             min(md5(tok || '#2')) AS mh2, min(md5(tok || '#3')) AS mh3
      FROM ({_TOK_SQL}) GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band, mh0 || mh1 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, mh2 || mh3 AS bucket FROM sig),
    roots AS (SELECT band, bucket, min(doc_id) AS root, count(*) AS n
              FROM bands GROUP BY band, bucket),
    edges AS (
      SELECT DISTINCT b.doc_id AS a, r.root AS b
      FROM bands b JOIN roots r ON b.band = r.band AND b.bucket = r.bucket
      WHERE r.n > 1 AND b.doc_id <> r.root),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.a, r.lbl FROM reach r JOIN und u ON u.b = r.node)
    SELECT node AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dup_clusters(spark, sf_dir):
    """Near-dup CLUSTER ids: LSH band buckets → star edges → connected
    components (hash-to-min, dedup_cluster.py). Pairs alone can't pick one
    keeper per duplicate group — transitive closure can. The oracle computes
    the same components via a recursive CTE over identical edges."""
    from frontier_engine.dedup_cluster import connected_components, lsh_star_edges

    sig = minhash_signature(spark, sf_dir)
    # localCheckpoint: bands feeds a self-join (star edges) and, through the
    # edges, EVERY connected-components iteration — without materialization
    # each iteration's action re-derives the full split+md5 lineage from
    # parquet (plans are recompiled per action, so no stage reuse applies)
    bands = _sig_bands(sig).localCheckpoint()
    nodes = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    labels = connected_components(nodes, lsh_star_edges(bands))
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def _simhash_exprs_sql() -> str:
    bits = []
    for j in range(1, 17):
        bits.append(
            f"(CASE WHEN sum(CASE WHEN ascii(substr(md5(tok), {j}, 1)) % 2 = 1 "
            f"THEN 1 ELSE -1 END) >= 0 THEN {1 << (j - 1)} ELSE 0 END)"
        )
    return " + ".join(bits)


@q(
    "simhash16",
    f"""
    SELECT doc_id, {_simhash_exprs_sql()} AS simhash
    FROM ({_TOK_SQL}) GROUP BY doc_id
    """,
)
def simhash16(spark, sf_dir):
    """16-bit SimHash: per-token md5-derived bit votes summed per doc; near-
    dups differ in few bits (hamming-ball join at scale). Portable bit source
    = parity of ascii(md5 hex chars).

    r6: the md5 hex digest is materialized ONCE per token in a projection
    between the explode and the hash agg, so the 16 partial_sum updates
    read a 32-char column instead of each referencing md5(tok); the scan is
    fanned out (load_wide) so the partial agg — where all the hashing
    happens — runs at cluster parallelism instead of one task per input
    file. (A zero-shuffle array-aggregate variant was A/B-measured slower —
    1.14 s vs 0.84 s at sf1.0 — 16 interpreted array passes lose to the
    codegen'd hash agg; kept the explode form as measured.)"""
    d = load_wide(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))).alias("tok"),
    )
    hs = toks.select("doc_id", F.md5("tok").alias("h"))
    vote = lambda j: F.sum(
        F.when(F.ascii(F.substring("h", j, 1)) % 2 == 1, 1).otherwise(-1)
    )
    aggs = []
    for j in range(1, 17):
        aggs.append(F.when(vote(j) >= 0, F.lit(1 << (j - 1))).otherwise(F.lit(0)))
    expr = aggs[0]
    for a in aggs[1:]:
        expr = expr + a
    return hs.groupBy("doc_id").agg(expr.alias("simhash"))


@q(
    "lang_stopword_score",
    """
    SELECT doc_id, lang,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
               ['the','and','of','to','in','is'])) AS en_hits,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
               ['der','die','das','und','ist','nicht'])) AS de_hits
    FROM documents
    """,
)
def lang_stopword_score(spark, sf_dir):
    """SQL-expressible language-ID scoring (stopword hits per language);
    the full n-gram kernel (extract.detect_lang) is pytest-covered."""
    d = load_wide(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    en = F.array(*[F.lit(x) for x in ("the", "and", "of", "to", "in", "is")])
    de = F.array(*[F.lit(x) for x in ("der", "die", "das", "und", "ist", "nicht")])
    return d.select(
        "doc_id",
        "lang",
        F.size(F.array_intersect(toks, en)).alias("en_hits"),
        F.size(F.array_intersect(toks, de)).alias("de_hits"),
    )


@q(
    "quality_score",
    """
    SELECT doc_id,
           length(text) AS n_chars_m,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           cast(floor(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 10000.0
                 / length(text)) AS bigint) AS punct_bp,
           cast(floor(length(text) * 100.0 / len(string_split_regex(trim(text), '\\s+')))
                AS bigint) AS chars_per_token_c
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def quality_score(spark, sf_dir):
    """Document quality heuristics (length / punctuation / token stats) —
    the training-pipeline quality gate, all JVM-side expressions. Ratios as
    floor-scaled integers (engine-portable; see scan_filter_project)."""
    d = load_wide(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    punct = F.length(F.regexp_replace("text", "[^.,!?;:]", ""))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        F.floor(punct * 10000.0 / F.length("text")).cast("long").alias("punct_bp"),
        F.floor(F.length("text") * 100.0 / n_tokens).cast("long").alias("chars_per_token_c"),
    )


@q(
    "token_count_bpe",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def token_count_bpe(spark, sf_dir):
    """BPE-ish token counting via a word/number/symbol regex (portable
    across Java regex and RE2)."""
    d = load_wide(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           ('0x' || substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 12))::bigint
             AS fp48
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Canonical document fingerprint (ws-collapse + lowercase + hash) with a
    48-bit numeric form for range-partitioned storage."""
    d = load_wide(spark, sf_dir, "documents")
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return d.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long").alias("fp48"),
    )


# =========================================================================
# Similarity search over embeddings
# =========================================================================

_COS_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
FROM embeddings e, q
WHERE e.vec_id != 0
"""


@q(
    "ann_cosine_threshold",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos,
           round(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS l2
    FROM embeddings e, q
    WHERE e.vec_id != 0
      AND round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(q.qv, q.qv))), 4) >= 0.2
    """,
)
def ann_cosine_threshold(spark, sf_dir):
    """Brute-force cosine similarity against a query vector (JVM-side
    zip_with/aggregate — no Python), thresholded; carries the corpus-side
    L2 norm (subsumes the former embedding_norms entry)."""
    from frontier_engine.simsearch import cosine_to_query, l2_norm_col

    emb = load_wide(spark, sf_dir, "embeddings")
    # qv is ONE row: read it off the plain scan (pushed filter, no fan-out
    # shuffle in the broadcast build); the corpus side stays fanned out
    qv = load(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos = cosine_to_query(emb.where(F.col("vec_id") != 0), qv, keep_cols=["embedding"])
    return (
        cos.where(F.col("cos") >= 0.2)
        .select("vec_id", "cos", F.round(l2_norm_col(F.col("embedding")), 4).alias("l2"))
    )


@q(
    "ann_topk_per_label",
    f"""
    SELECT label, vec_id FROM (
      SELECT t.label, t.vec_id,
             row_number() OVER (PARTITION BY t.label ORDER BY t.cos DESC, t.vec_id ASC) AS rn
      FROM ({_COS_SQL.replace('SELECT e.vec_id,', 'SELECT e.vec_id, e.label,')}) t) s
    WHERE rn <= 3
    """,
)
def ann_topk_per_label(spark, sf_dir):
    """IVF-style coarse search: top-3 per label partition by cosine (label ≙
    coarse centroid id; at scale the centroid assignment is a bucket join)."""
    from frontier_engine.simsearch import cosine_to_query

    emb = load_wide(spark, sf_dir, "embeddings")
    qv = load(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos = cosine_to_query(emb.where(F.col("vec_id") != 0), qv, keep_cols=["label"])
    w = Window.partitionBy("label").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("label", "vec_id")
    )


_KMEANS_K = 4

# k-means unrolled to 2 Lloyd iterations as SQL CTEs (the oracle mirror of
# simsearch.kmeans_lloyd's static plan): positional explode → assignment
# (argmin Σ(val−cval)² with cluster tie-break) → centroid avg, twice.
_KMEANS_CTES = f"""
    pos AS (SELECT vec_id, r.range::int AS pos, embedding[r.range + 1]::double AS val
            FROM embeddings, range(0, 64) r WHERE vec_id <> 0),
    cent0 AS (SELECT vec_id AS cluster, pos, val AS cval FROM pos
              WHERE vec_id BETWEEN 1 AND {_KMEANS_K}),
    d1 AS (SELECT p.vec_id, c.cluster, sum((p.val - c.cval) * (p.val - c.cval)) AS d2
           FROM pos p JOIN cent0 c ON c.pos = p.pos GROUP BY p.vec_id, c.cluster),
    a1 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
             FROM d1) t WHERE rn = 1),
    cent1 AS (SELECT a.cluster, p.pos, avg(p.val) AS cval
              FROM pos p JOIN a1 a ON a.vec_id = p.vec_id GROUP BY a.cluster, p.pos),
    d2_ AS (SELECT p.vec_id, c.cluster, sum((p.val - c.cval) * (p.val - c.cval)) AS d2
            FROM pos p JOIN cent1 c ON c.pos = p.pos GROUP BY p.vec_id, c.cluster),
    a2 AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
             FROM d2_) t WHERE rn = 1),
    cent2 AS (SELECT a.cluster, p.pos, avg(p.val) AS cval
              FROM pos p JOIN a2 a ON a.vec_id = p.vec_id GROUP BY a.cluster, p.pos)
"""


@q(
    "kmeans_clusters",
    f"""
    WITH {_KMEANS_CTES}
    SELECT c.cluster, n.n_vecs, round(sqrt(sum(c.cval * c.cval)), 4) AS centroid_l2
    FROM cent2 c JOIN (SELECT cluster, count(*) AS n_vecs FROM a2 GROUP BY cluster) n
      ON n.cluster = c.cluster
    GROUP BY c.cluster, n.n_vecs
    """,
)
def kmeans_clusters(spark, sf_dir):
    """IVF coarse quantizer: deterministic Lloyd's k-means (k=4, 2 unrolled
    iterations, seeds = k smallest vec_ids — simsearch.kmeans_lloyd). Output
    = per-cluster size + centroid L2 norm."""
    from frontier_engine.simsearch import kmeans_lloyd

    emb = load_wide(spark, sf_dir, "embeddings")
    assign, cent = kmeans_lloyd(emb, k=_KMEANS_K, iters=2)
    sizes = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    norms = cent.groupBy("cluster").agg(
        F.round(F.sqrt(F.sum(F.col("cval") * F.col("cval"))), 4).alias("centroid_l2")
    )
    return norms.join(sizes, "cluster").select("cluster", "n_vecs", "centroid_l2")


@q(
    "ann_ivf_probe",
    f"""
    WITH {_KMEANS_CTES},
    qpos AS (SELECT r.range::int AS pos, embedding[r.range + 1]::double AS val
             FROM embeddings, range(0, 64) r WHERE vec_id = 0),
    probe AS (SELECT cluster FROM (
                SELECT c.cluster,
                       row_number() OVER (
                         ORDER BY sum((q.val - c.cval) * (q.val - c.cval)), c.cluster) AS rn
                FROM qpos q JOIN cent2 c ON c.pos = q.pos GROUP BY c.cluster) t
              WHERE rn <= 2),
    qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
      FROM embeddings e
      JOIN a2 a ON a.vec_id = e.vec_id
      JOIN probe p ON p.cluster = a.cluster
      CROSS JOIN qv q)
    SELECT vec_id, cos FROM (
      SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
      FROM scored) t WHERE rn <= 3
    """,
)
def ann_ivf_probe(spark, sf_dir):
    """End-to-end IVF ANN: train the coarse quantizer (kmeans_lloyd), probe
    the query's nprobe=2 nearest centroids, brute-force cosine top-3 INSIDE
    those clusters — the corpus outside the probed clusters is never scored
    (the 100 TB path: nprobe·(n/k) of the corpus touched instead of n).
    Multi-probe is what real IVF recall depends on at cluster boundaries
    (pytest: a boundary query whose true NN lives in cluster #2). Ordering
    on the ROUNDED cosine + vec_id tie-break keeps the top-3 engine-portable."""
    from frontier_engine.simsearch import cosine_to_query, ivf_probe_cluster, kmeans_lloyd

    emb = load_wide(spark, sf_dir, "embeddings")
    qv = load(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    assign, cent = kmeans_lloyd(emb, k=_KMEANS_K, iters=2)
    probe = ivf_probe_cluster(qv, cent, nprobe=2)
    # assign carries (vec_id, cluster, embedding) — the old
    # emb.join(assign, "vec_id") re-attached the embedding via a full
    # corpus self-join shuffle; now the only join is the broadcast probe
    members = assign.join(F.broadcast(probe), "cluster")
    scored = cosine_to_query(members, qv)
    w = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("vec_id", "cos")
    )


# =========================================================================
# Search-side analyzers + scoring (ES config parity, SURVEY §2.10)
# =========================================================================

def _cc_tld_sql_list() -> str:
    from frontier_engine.analyzers import CC_TLD_STOPWORDS

    return "[" + ",".join(f"'{s}'" for s in CC_TLD_STOPWORDS) + "]"


@q(
    "host_analyzer",
    f"""
    SELECT event_id,
           array_to_string(list_sort(list_filter(
             string_split_regex(
               regexp_replace(lower('WWW2.Sub-' || (user_id % 30) || '.Example.co.uk'),
                              '^www\\d*\\.', ''),
               '[^a-z0-9]+'),
             x -> len(x) > 0 AND NOT list_contains(
               {_cc_tld_sql_list()}, x))), ',') AS host_toks
    FROM events WHERE event_id < 500
    """,
)
def host_analyzer(spark, sf_dir):
    """ES host analyzer (strip www\\d*. → word-split → cc-TLD stopwords →
    unique; data_index.py:646-661,385-645) — sorted for comparability."""
    from frontier_engine.analyzers import host_tokens

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 500)
    host = F.concat(
        F.lit("WWW2.Sub-"), (F.col("user_id") % 30).cast("string"), F.lit(".Example.co.uk")
    )
    return e.select(
        "event_id", F.array_join(F.array_sort(host_tokens(host)), ",").alias("host_toks")
    )


@q(
    "meta_header_spill",
    """
    SELECT doc_id, k, v,
           strftime(make_timestamp((1704067200 + doc_id) * 1000000),
                    '%Y-%m-%dT%H:%M:%S') || 'Z' AS http_date
    FROM (
      SELECT doc_id, 'warc_ip_address' AS k,
             '10.0.' || (doc_id % 256)::varchar || '.1' AS v FROM documents
      UNION ALL
      SELECT doc_id, 'warc_protocol',
             CASE WHEN doc_id % 2 = 0 THEN 'http/1.1' ELSE 'h2' END FROM documents)
    """,
)
def meta_header_spill(spark, sf_dir):
    """``warc_*`` dynamic-template spill + HTTP Date → ISO
    (conf/meta_index.py:28-52, process.py:213-218): a deterministic header
    map per doc runs through the engine's spill transform — first-class and
    non-warc_ keys dropped, surviving keys normalized — and the RFC-1123
    Date header parses to ISO-8601. Map exploded to (k, v) rows for
    order-insensitive hashability."""
    from frontier_engine.pipeline import http_date_iso, warc_header_spill

    d = load(spark, sf_dir, "documents")
    hdr = F.create_map(
        F.lit("WARC-Record-ID"),
        F.concat(F.lit("<urn:uuid:"), F.col("doc_id").cast("string"), F.lit(">")),
        F.lit("WARC-IP-Address"),
        F.concat(F.lit("10.0."), F.pmod(F.col("doc_id"), F.lit(256)).cast("string"), F.lit(".1")),
        F.lit("WARC-Protocol"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("http/1.1")).otherwise(F.lit("h2")),
        F.lit("X-Hop-Path"),  # non-warc_ key: must be dropped by the spill
        F.lit("L"),
        F.lit("WARC-Date"),  # first-class meta column: dropped too
        F.lit("2024-01-01T00:00:00Z"),
    )
    http = F.create_map(
        F.lit("Date"),
        F.date_format(
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")),
            "EEE, dd MMM yyyy HH:mm:ss 'GMT'",
        ),
    )
    return d.select(
        "doc_id",
        F.explode(warc_header_spill(hdr)),
        http_date_iso(http).alias("http_date"),
    ).withColumnsRenamed({"key": "k", "value": "v"})


def _lang_chain_oracle_sql() -> str:
    """The chain's step expressions (shared verbatim with the engine via
    analyzers.dispatch_chain_step_sqls) as a chain of MATERIALIZED CTEs —
    one per step. `AS MATERIALIZED` is load-bearing: each step references
    its input column many times, so a plain subselect/CTE chain gets
    optimizer-inlined with multiplicative text growth (the same explosion
    the engine dodges with chained projections + an early empty-term
    filter — see analyzers.analyze_text); materialization pins each step
    to linear size. The empty-term filter sits after step 0 in both
    engines — later steps cannot empty a nonempty token (property-tested,
    test_kernels steps-never-empty)."""
    from frontier_engine import analyzers as A

    steps = A.dispatch_chain_step_sqls("__tok", "lang", A.STEMMED_LANGS)
    ctes = [
        """s_tok AS MATERIALIZED (
        SELECT doc_id, lang,
               unnest(string_split_regex(text, '[^\\p{L}\\p{M}\\p{Nd}'']+')) AS __tok
        FROM documents)""",
        f"""s_0 AS MATERIALIZED (
        SELECT doc_id, lang, {steps[0]} AS __tok
        FROM (SELECT * FROM s_tok WHERE length(__tok) > 0))""",
        "s_0f AS MATERIALIZED (SELECT * FROM s_0 WHERE length(__tok) > 0)",
    ]
    prev = "s_0f"
    for k, step in enumerate(steps[1:], start=1):
        ctes.append(
            f"s_{k} AS MATERIALIZED "
            f"(SELECT doc_id, lang, {step} AS __tok FROM {prev})"
        )
        prev = f"s_{k}"
    return f"""
    WITH {', '.join(ctes)}
    SELECT doc_id, lang, __tok AS term, count(*) AS n FROM {prev}
    GROUP BY 1, 2, 3
    """


@q("lang_analyzer_chain", _lang_chain_oracle_sql())
def lang_analyzer_chain(spark, sf_dir):
    """Per-language analyzer chains (data_index.py:725-976): tokenize →
    lower → [elision] → [minimal/light stemmer] → accent fold, dispatched on
    the document's lang. The chain is ONE generated SQL expression shared
    verbatim by this query and its DuckDB oracle (analyzers.chain_sql) —
    all JVM-side, zero Python in the loop."""
    from frontier_engine.analyzers import analyze_text

    d = load_wide(spark, sf_dir, "documents")
    return (
        analyze_text(d, "text", "lang", ["doc_id"])
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "path_hierarchy_tokens",
    """
    SELECT event_id,
           array_to_string(
             list_transform(range(1, len(parts) + 1),
                            i -> '/' || array_to_string(list_slice(parts, 1, i), '/')),
             ' ') AS path_toks
    FROM (SELECT event_id,
                 list_filter(string_split('/cat' || (user_id % 9) || '/' || event_type ||
                                          '/item' || (event_id % 50), '/'),
                             x -> len(x) > 0) AS parts
          FROM events WHERE event_id < 500)
    """,
)
def path_hierarchy_tokens_q(spark, sf_dir):
    """ES path_hierarchy tokenizer (data_index.py:915-918): '/a/b/c' →
    ['/a','/a/b','/a/b/c']."""
    from frontier_engine.analyzers import path_hierarchy_tokens

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 500)
    path = F.concat(
        F.lit("/cat"), (F.col("user_id") % 9).cast("string"),
        F.lit("/"), F.col("event_type"),
        F.lit("/item"), (F.col("event_id") % 50).cast("string"),
    )
    return e.select("event_id", F.array_join(path_hierarchy_tokens(path), " ").alias("path_toks"))


@q(
    "query_string_analyzer",
    """
    SELECT event_id,
           array_to_string(list_filter(string_split_regex(
             lower('Q=' || event_type || '&Page=' || (event_id % 7) || '&empty='), '[&=]'),
             x -> len(x) > 0), ',') AS qs_toks
    FROM events WHERE event_id < 500
    """,
)
def query_string_analyzer(spark, sf_dir):
    """ES query-string analyzer: pattern split on [&=] (data_index.py:955-958)."""
    from frontier_engine.analyzers import query_string_tokens

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 500)
    qs = F.concat(
        F.lit("Q="), F.col("event_type"), F.lit("&Page="),
        (F.col("event_id") % 7).cast("string"), F.lit("&empty="),
    )
    return e.select("event_id", F.array_join(query_string_tokens(qs), ",").alias("qs_toks"))


_BM25_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> len(x) > 0)) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT avg(dl) FROM dl) AS avgdl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN ('spark', 'window', 'query') GROUP BY doc_id, term),
    idf AS (SELECT term, ln(1 + ((SELECT n FROM stats) - count(DISTINCT doc_id) + 0.5)
                             / (count(DISTINCT doc_id) + 0.5)) AS idf
            FROM tf GROUP BY term)
    SELECT tf.doc_id,
           cast(floor(sum(idf.idf * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))) * 10000)
             AS bigint) AS bm25_e4
    FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
    GROUP BY tf.doc_id
"""


@q("bm25_scoring", _BM25_SQL)
def bm25_scoring(spark, sf_dir):
    """BM25 ranking (the data index's similarity, conf/data_index.py) from
    first principles: tf/df aggregations + broadcast idf join, no UDFs."""
    from frontier_engine.analyzers import bm25_scores

    d = load_wide(spark, sf_dir, "documents")
    scores = bm25_scores(d, ["spark", "window", "query"])
    return scores.select("doc_id", F.floor(F.col("bm25") * 10000).cast("long").alias("bm25_e4"))


_SIM_TERMS = ("spark", "window", "query")


def _sim_sql(term_score: str) -> str:
    """Shared oracle prelude for the legacy similarities
    (create_index_kibana.txt:7-39): tf / dl / per-term df+ttf / corpus
    stats, then Σ_t {term_score} per doc, floored to e4.
    Available names: tf.tf, dl.dl, ts.df, ts.ttf, and scalars
    (SELECT n FROM stats), (SELECT avgdl FROM stats), (SELECT total FROM stats)."""
    terms = ", ".join(f"'{t}'" for t in _SIM_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> len(x) > 0)) AS term
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT avg(dl) FROM dl) AS avgdl,
                     (SELECT sum(dl) FROM dl) AS total),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN ({terms}) GROUP BY doc_id, term),
    ts AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf FROM toks
           WHERE term IN ({terms}) GROUP BY term)
    SELECT tf.doc_id, cast(floor(sum({term_score}) * 10000) AS bigint) AS score_e4
    FROM tf JOIN ts USING (term) JOIN dl USING (doc_id)
    GROUP BY tf.doc_id
    """


def _sim_sql2(score_a: str, name_a: str, score_b: str, name_b: str) -> str:
    """Two-similarity variant of ``_sim_sql``: same prelude, two summed
    term-score columns (oracle mirror of analyzers.dfi_ib_scores)."""
    base = _sim_sql(score_a)
    out = base.replace(
        f"cast(floor(sum({score_a}) * 10000) AS bigint) AS score_e4",
        f"cast(floor(sum({score_a}) * 10000) AS bigint) AS {name_a}, "
        f"cast(floor(sum({score_b}) * 10000) AS bigint) AS {name_b}",
    )
    # guard against silent template drift: a no-op replace would yield a
    # parseable-but-wrong oracle (single score_e4 column)
    assert out != base, "_sim_sql2: score template drifted; replace no-op"
    return out


def _sim_out(scores: DataFrame, col: str) -> DataFrame:
    return scores.select(
        "doc_id", F.floor(F.col(col) * 10000).cast("long").alias("score_e4")
    )


_LMJ_TERM_SCORE = (
    "ln(1 + ((1 - 0.1) * tf.tf / dl.dl) / (0.1 * ts.ttf / (SELECT total FROM stats)))"
)
# LMDirichlet per-doc score = Σ_t ln(1 + tf·total/(mu·ttf)) + |q|·ln(mu/(dl+mu));
# the norm term is per-doc (dl is constant within the doc_id group → any_value)
_LMD_AGG = (
    "(sum(ln(1 + tf.tf * (SELECT total FROM stats) / (2000.0 * ts.ttf)))"
    f" + {len(_SIM_TERMS)} * ln(2000.0 / (any_value(dl.dl) + 2000.0)))"
)


def _lmj_lmd_sql() -> str:
    base = _sim_sql(_LMJ_TERM_SCORE)
    out = base.replace(
        f"cast(floor(sum({_LMJ_TERM_SCORE}) * 10000) AS bigint) AS score_e4",
        f"cast(floor(sum({_LMJ_TERM_SCORE}) * 10000) AS bigint) AS lmj_e4, "
        f"cast(floor({_LMD_AGG} * 10000) AS bigint) AS lmd_e4",
    )
    assert out != base, "_lmj_lmd_sql: score template drifted; replace no-op"
    return out


@q("lmj_lmd_scoring", _lmj_lmd_sql())
def lmj_lmd_scoring(spark, sf_dir):
    """LMJelinekMercer + LMDirichlet similarities
    (create_index_kibana.txt:8-13), fused over one shared stats pass — with
    this entry all six legacy similarities of the v1 index are
    driver-evaluated (VERDICT r3 item 4)."""
    from frontier_engine.analyzers import lmj_lmd_scores

    d = load_wide(spark, sf_dir, "documents")
    s = lmj_lmd_scores(d, list(_SIM_TERMS))
    return s.select(
        "doc_id",
        F.floor(F.col("lmj") * 10000).cast("long").alias("lmj_e4"),
        F.floor(F.col("lmd") * 10000).cast("long").alias("lmd_e4"),
    )


@q(
    "dfr_scoring",
    _sim_sql(
        "(log2(1 + (ts.ttf + 1.0) / ((SELECT n FROM stats) + ts.ttf + 1.0))"
        " + (tf.tf * log2(1 + (SELECT avgdl FROM stats) / dl.dl))"
        "   * log2((1 + (ts.ttf + 1.0) / ((SELECT n FROM stats) + ts.ttf + 1.0))"
        "          / ((ts.ttf + 1.0) / ((SELECT n FROM stats) + ts.ttf + 1.0))))"
        " / (1 + tf.tf * log2(1 + (SELECT avgdl FROM stats) / dl.dl))"
    ),
)
def dfr_scoring(spark, sf_dir):
    """DFR g/l/h2 similarity (create_index_kibana.txt:14-19)."""
    from frontier_engine.analyzers import dfr_glh2_scores

    d = load_wide(spark, sf_dir, "documents")
    return _sim_out(dfr_glh2_scores(d, list(_SIM_TERMS)), "dfr")


_DFI_TERM_SCORE = (
    "CASE WHEN tf.tf > ts.ttf * dl.dl / (SELECT total FROM stats)"
    " THEN log2(1 + (tf.tf - ts.ttf * dl.dl / (SELECT total FROM stats))"
    "            * (tf.tf - ts.ttf * dl.dl / (SELECT total FROM stats))"
    "            / (ts.ttf * dl.dl / (SELECT total FROM stats)))"
    " ELSE 0.0 END"
)
_IB_TERM_SCORE = (
    "-log2((pow((ts.ttf + 1.0) / ((SELECT n FROM stats) + 1.0),"
    "           (tf.tf * log2(1 + (SELECT avgdl FROM stats) / dl.dl))"
    "           / (tf.tf * log2(1 + (SELECT avgdl FROM stats) / dl.dl) + 1))"
    "       - (ts.ttf + 1.0) / ((SELECT n FROM stats) + 1.0))"
    "      / (1 - (ts.ttf + 1.0) / ((SELECT n FROM stats) + 1.0)))"
)


@q(
    "dfi_ib_scoring",
    _sim_sql2(_DFI_TERM_SCORE, "dfi_e4", _IB_TERM_SCORE, "ib_e4"),
)
def dfi_ib_scoring(spark, sf_dir):
    """DFI chisquared + IB spl/ttf/h2 similarities
    (create_index_kibana.txt:29-38), fused over one shared stats pass."""
    from frontier_engine.analyzers import dfi_ib_scores

    d = load_wide(spark, sf_dir, "documents")
    s = dfi_ib_scores(d, list(_SIM_TERMS))
    return s.select(
        "doc_id",
        F.floor(F.col("dfi") * 10000).cast("long").alias("dfi_e4"),
        F.floor(F.col("ib") * 10000).cast("long").alias("ib_e4"),
    )


@q(
    "scripted_tfidf_scoring",
    _sim_sql(
        "(ln(((SELECT n FROM stats) + 1.0) / (ts.df + 1.0)) + 1.0)"
        " * sqrt(tf.tf) / sqrt(dl.dl)"
    ),
)
def scripted_tfidf_scoring(spark, sf_dir):
    """Scripted TF-IDF similarity, painless source transcribed
    (create_index_kibana.txt:20-28)."""
    from frontier_engine.analyzers import scripted_tfidf_scores

    d = load_wide(spark, sf_dir, "documents")
    return _sim_out(scripted_tfidf_scores(d, list(_SIM_TERMS)), "tfidf")


@q(
    "sessionize",
    """
    SELECT event_id, user_id, session_id FROM (
      SELECT event_id, user_id,
             sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)::bigint AS session_id
      FROM (SELECT event_id, user_id, ts,
                   epoch(ts)::bigint - lag(epoch(ts)::bigint) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM events))
    """,
)
def sessionize(spark, sf_dir):
    """Sessionization (lag + cumulative gap counter) — batch twin of the
    streaming session_window operator (streaming.py)."""
    from frontier_engine.streaming import sessionize_batch

    e = load(spark, sf_dir, "events")
    return sessionize_batch(e, gap_minutes=30).select("event_id", "user_id", "session_id")


@q(
    "merge_upsert",
    """
    SELECT doc_id, lang FROM documents WHERE doc_id % 3 != 0
    UNION ALL
    SELECT doc_id, 'xx' AS lang FROM documents WHERE doc_id % 3 = 0
    """,
)
def merge_upsert_q(spark, sf_dir):
    """MERGE/upsert emulation (update_action analog, es_sink.py:200-217):
    updates replace same-key rows via anti-join + union."""
    from frontier_engine.icelite import merge_upsert

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    updates = d.where(F.col("doc_id") % 3 == 0).withColumn("lang", F.lit("xx"))
    return merge_upsert(d, updates, "doc_id")


# =========================================================================
# Rows-only queries (no SQL oracle — pytest carries correctness)
# =========================================================================

@q("frontier_round_demo", None)
def frontier_round_demo(spark, sf_dir):
    """One full frontier round on deterministic synthetic pages (the
    non-SQL-expressible flagship: bloom state + PQ scheduling + snapshot)."""
    import tempfile

    from frontier_engine import pipeline as pl, synth
    from frontier_engine.frontier import FrontierEngine

    pdf = synth.generate_pages(n_pages=150, seed=42, n_hosts=25)
    pages = spark.createDataFrame(pdf)
    seeds = spark.createDataFrame(synth.generate_seeds(pdf, n_seeds=30))
    robots = spark.createDataFrame(synth.generate_robots(pdf))
    prepared = pl.dedup_newest(pl.canonicalized(pages)).persist()
    store_dir = tempfile.mkdtemp(prefix="fr_demo_")
    try:
        eng = FrontierEngine(
            spark, store_dir, n_shards=8, bloom_bits=1 << 16, budget=5
        )
        eng.init(seeds, robots)
        eng.run_round(prepared)
        sched = eng.schedule_table().orderBy("round", "host", "seq")
        # materialize the (tiny, budget-bounded) schedule so the cached
        # pages and the store dir can be released NOW: a lazy frame over
        # them would leak one cache and one fr_demo_* dir per evaluation
        rows, schema = sched.collect(), sched.schema
    finally:
        import shutil

        prepared.unpersist()
        shutil.rmtree(store_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@q("bloom_membership_demo", None)
def bloom_membership_demo(spark, sf_dir):
    """Bloom shard build + membership marking (binary state — not SQL)."""
    from frontier_engine import urlseen

    d = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://d.com/"), F.col("doc_id").cast("string")).alias("url_norm")
    ).withColumn("url_hash", F.xxhash64("url_norm"))
    shards = urlseen.build_shards(d, n_shards=8, m_bits=1 << 16)
    return urlseen.mark_maybe_seen(d, shards, 8).select("url_norm", "maybe_seen")


# =========================================================================
# public accessors
# =========================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
