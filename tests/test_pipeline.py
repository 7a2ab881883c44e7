"""End-to-end pipeline tests (SURVEY.md §5.2-5.3): Spark pipeline output must
be row-for-row, byte-for-byte identical to the single-node oracle, and every
reference skip-predicate must fire on its fixture row."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from frontier_engine import oracle, pipeline
from frontier_engine.urlnorm import canonicalize_url


@pytest.fixture(scope="module")
def results(spark, pages_df):
    return pipeline.run_pipeline(pages_df)


@pytest.fixture(scope="module")
def oracle_results(pages_pdf):
    """Single-node oracle over the same (deduped) rows."""
    pdf = pages_pdf.copy()
    pdf["url_norm"] = pdf["url"].map(canonicalize_url)
    pdf = (
        pdf.sort_values(["url_norm", "warc_ts", "url"], ascending=[True, False, False])
        .drop_duplicates(subset=["url_norm"], keep="first")
    )
    out = {}
    for r in pdf.itertuples():
        res = oracle.process_page(r.url, r.warc_ts.to_pydatetime(), bytes(r.html))
        out[r.url_norm] = res
    return out


def test_dedup_keep_newest(spark, pages_df):
    deduped = pipeline.dedup_newest(pipeline.canonicalized(pages_df))
    n_norm = pipeline.canonicalized(pages_df).select("url_norm").distinct().count()
    assert deduped.count() == n_norm
    # every kept row carries the max warc_ts of its url_norm group
    chk = (
        pipeline.canonicalized(pages_df)
        .groupBy("url_norm")
        .agg(F.max("warc_ts").alias("max_ts"))
        .join(deduped.select("url_norm", "warc_ts"), "url_norm")
        .where(F.col("warc_ts") != F.col("max_ts"))
    )
    assert chk.count() == 0


def test_byte_identity_vs_oracle(results, oracle_results):
    """north_rule gate: byte-identical extracted text (and all payload
    columns) per url versus the reference oracle."""
    rows = results["proc"].select("url_norm", "url", "doc.*").collect()
    assert len(rows) == len(oracle_results)
    n_payload = 0
    for row in rows:
        want = oracle_results[row.url_norm]
        assert row.skip_reason == want.skip_reason, (row.url, row.skip_reason, want.skip_reason)
        assert row.idx_id == want.idx_id
        if want.payload:
            n_payload += 1
            for col in ("title", "meta_desc", "body", "full_body", "lang"):
                assert getattr(row, col) == want.payload[col], (row.url, col)
            assert (row.meta_keywords or None) == want.payload["meta_keywords"]
            assert row.body_length == want.payload["body_length"]
    assert n_payload > 100


def test_text_column_is_full_body(results):
    """pages.text was generated by the oracle → pipeline full_body must equal
    it byte-for-byte for every surviving row (FIXTURES.md §1)."""
    mism = (
        results["proc"]
        .where(F.col("doc.skip_reason") == "")
        .where(~F.col("doc.full_body").eqNullSafe(F.col("text")))
        .count()
    )
    assert mism == 0


def test_all_skip_reasons_fire(results):
    counters = {r["reason"]: r["n"] for r in results["counters"].collect()}
    for reason in ("too_big", "too_short", "binary_mime", "no_body", "empty_extraction", "mojibake", "short_main"):
        assert counters.get(reason, 0) >= 1, (reason, counters)
    assert counters["ok"] > 100


def test_meta_payload_projections(results):
    meta = results["meta"]
    payload = results["payload"]
    assert meta.columns == ["idx_id"] + pipeline.META_COLUMNS
    assert payload.columns == ["idx_id"] + pipeline.PAYLOAD_COLUMNS
    # meta kept only where payload survived (always_index_meta=False)
    assert meta.count() == payload.count()
    # idx_id unique (document identity)
    assert payload.select("idx_id").distinct().count() == payload.count()


def test_always_index_meta(results):
    meta_all = pipeline.meta_docs(results["proc"], always_index_meta=True)
    assert meta_all.count() == results["proc"].count()


def test_deterministic_ordering(results):
    """Global orderBy(idx_id) twice → identical sequence (es_sink.py:155
    deterministic-output analog)."""
    a = [r.idx_id for r in results["payload"].orderBy("idx_id").select("idx_id").collect()]
    b = [r.idx_id for r in results["payload"].orderBy("idx_id").select("idx_id").collect()]
    assert a == b and a == sorted(a)


def test_edge_titles(results):
    rows = {
        r.url: r
        for r in results["proc"].select("url", "doc.*").where(F.col("url").contains("/edge/")).collect()
    }
    by_suffix = {u.rsplit("/", 1)[-1]: r for u, r in rows.items()}
    assert by_suffix["no-title-h1"].title == "Heading One Title"
    assert by_suffix["no-title-h2"].title == "Heading Two Title"
    assert by_suffix["title-class"].title == "Class Title Here"
    assert by_suffix["no-title"].title is None  # pruned empty (process.py:300-304)
    assert by_suffix["latin1"].title == "Café page"
    assert by_suffix["latin1"].content_encoding == "windows-1252"
    assert by_suffix["utf8-bom"].content_encoding == "utf-8-sig"
    kws = by_suffix["many-keywords"].meta_keywords
    assert len(kws) == 30 and all(len(k) <= 80 for k in kws) and kws == sorted(kws)


def test_warc_header_spill_and_http_date(spark):
    """meta_index.py:28-52 parity: warc_* spill map (keys normalized,
    first-class + non-warc keys dropped) and HTTP Date → ISO-8601."""
    from frontier_engine.pipeline import http_date_iso, warc_header_spill

    df = spark.createDataFrame(
        [
            (
                {"WARC-IP-Address": "1.2.3.4", "WARC-Truncated": "length",
                 "WARC-Date": "2024-01-01T00:00:00Z", "X-Crawler": "me",
                 "WARC-Target-URI": "http://x/", "WARC-Record-ID": "<urn:uuid:1>"},
                {"Date": "Tue, 15 Nov 1994 08:12:31 GMT", "Server": "nginx"},
            ),
            ({}, {"Server": "nginx"}),  # no Date header → null http_date
        ],
        "warc_headers map<string,string>, http_headers map<string,string>",
    )
    out = df.select(
        warc_header_spill(F.col("warc_headers")).alias("spill"),
        http_date_iso(F.col("http_headers")).alias("http_date"),
    ).collect()
    assert out[0].spill == {"warc_ip_address": "1.2.3.4", "warc_truncated": "length"}
    assert out[0].http_date == "1994-11-15T08:12:31Z"
    assert out[1].spill == {} and out[1].http_date is None


def test_meta_docs_surface_header_maps(spark, pages_df):
    """meta_docs adds warc_headers spill + http_date when the ingest path
    (warc_source) provides the header maps — and omits them otherwise."""
    from frontier_engine import pipeline

    base = pipeline.dedup_newest(pipeline.canonicalized(pages_df)).limit(5)
    plain = pipeline.meta_docs(pipeline.processed(base))
    assert "warc_headers" not in plain.columns and "http_date" not in plain.columns

    with_maps = base.withColumn(
        "warc_headers",
        F.create_map(F.lit("WARC-IP-Address"), F.lit("9.9.9.9"), F.lit("X-Skip"), F.lit("y")),
    ).withColumn(
        "http_headers", F.create_map(F.lit("Date"), F.lit("Mon, 01 Jan 2024 00:00:00 GMT"))
    )
    meta = pipeline.meta_docs(pipeline.processed(with_maps))
    assert "warc_headers" in meta.columns and "http_date" in meta.columns
    row = meta.where(F.col("http_date").isNotNull()).first()
    assert row.warc_headers == {"warc_ip_address": "9.9.9.9"}
    assert row.http_date == "2024-01-01T00:00:00Z"


def test_process_udf_batch_raises_no_future_warning(spark, pages_pdf):
    """The extraction UDF's Arrow-batch body converts timestamps without a
    pandas FutureWarning (one per batch per worker otherwise) and yields the
    oracle's doc ids."""
    import warnings

    rows = pages_pdf.head(8)
    ts_ms = rows["warc_ts"].astype("int64") // 1_000_000
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = pipeline.make_process_udf("synth").func(rows["url"], ts_ms, rows["html"])
    assert list(out["idx_id"]) == [
        oracle.process_page(r.url, r.warc_ts.to_pydatetime(), bytes(r.html)).idx_id
        for r in rows.itertuples()
    ]
