"""Tests for WARC source parity, streaming surface, analyzers and
similarity search."""

from __future__ import annotations

import io
import math
import os

import pytest
from pyspark.sql import functions as F

from frontier_engine import analyzers, simsearch, streaming, warc_source
from frontier_engine.icelite import IceLite, merge_upsert

# subprocess tests import the engine from this checkout, wherever it lives
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- warc

class TestWarcSource:
    @pytest.fixture(scope="class")
    def warc_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("warcs")
        recs = [
            {
                "record_type": "response",
                "record_id": f"<urn:uuid:{i}>",
                "target_uri": f"http://w{i % 3}.com/p{i}",
                "warc_date": "2021-03-01T00:00:00Z",
                "http_content_type": "text/html",
                "payload": f"<html><body><p>doc {i} body content</p></body></html>".encode(),
            }
            for i in range(10)
        ] + [
            {"record_type": "request", "target_uri": "http://w0.com/req",
             "payload": b"GET / HTTP/1.1"},
            {"record_type": "warcinfo", "target_uri": "http://w0.com/info",
             "payload": b"software: test"},
        ]
        raw = warc_source.write_warc_bytes(recs)
        (d / "a.warc").write_bytes(raw)
        import gzip

        (d / "b.warc.gz").write_bytes(gzip.compress(raw))
        return str(d)

    def test_parse_roundtrip(self):
        recs = [{"record_type": "response", "target_uri": "http://x/", "warc_date": "2021-01-01T00:00:00Z",
                 "http_content_type": "text/html", "payload": b"<html>hi</html>"}]
        raw = warc_source.write_warc_bytes(recs)
        out = list(warc_source.parse_warc_stream(raw, "f"))
        assert len(out) == 1
        assert out[0]["payload"] == b"<html>hi</html>"
        assert out[0]["http_content_type"] == "text/html"
        assert out[0]["target_uri"] == "http://x/"

    def test_read_warcs_filters_record_type(self, spark, warc_dir):
        df = warc_source.read_warcs(spark, warc_dir + "/*")
        rows = df.collect()
        # 10 responses per file × 2 files; request/warcinfo filtered (index.py:142)
        assert len(rows) == 20
        assert all(r.record_type == "response" for r in rows)

    def test_gzip_matches_plain(self, spark, warc_dir):
        df = warc_source.read_warcs(spark, warc_dir + "/*")
        by_file = df.groupBy("source_file").count().collect()
        assert len(by_file) == 2
        assert by_file[0]["count"] == by_file[1]["count"]

    def test_overlong_payload_strip(self, spark, tmp_path):
        recs = [{"record_type": "response", "target_uri": "http://big/", "warc_date": "2021-01-01T00:00:00Z",
                 "http_content_type": "text/html", "payload": b"x" * 500}]
        (tmp_path / "c.warc").write_bytes(warc_source.write_warc_bytes(recs))
        df = warc_source.read_warcs(spark, str(tmp_path / "c.warc"), max_payload=100)
        r = df.collect()[0]
        assert len(r.payload) == 100 and r.payload_truncated  # warcio.py:150-154

    def test_to_pages_schema(self, spark, warc_dir):
        pages = warc_source.warc_records_to_pages(warc_source.read_warcs(spark, warc_dir + "/*"))
        assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
        assert pages.count() == 20


# ------------------------------------------------------------- streaming

class TestStreaming:
    def test_flush_window_and_icelite_sink(self, spark, tmp_path, pages_pdf):
        src = str(tmp_path / "in")
        pdf = pages_pdf.head(100)
        spark.createDataFrame(pdf).write.parquet(src)
        stream = streaming.stream_pages(spark, src)
        agg = streaming.flush_window_counts(stream, window="1 hour")
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("flushed")
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # append mode emits only watermark-closed windows; re-check via batch twin
        batch = streaming.flush_window_counts(spark.read.parquet(src), window="1 hour")
        assert batch.agg(F.sum("n")).collect()[0][0] == 100

    def test_stream_to_icelite_exactly_once(self, spark, tmp_path, pages_pdf):
        src = str(tmp_path / "in2")
        spark.createDataFrame(pages_pdf.head(60)).write.parquet(src)
        store_root = str(tmp_path / "store")
        q = streaming.stream_to_icelite(
            streaming.stream_pages(spark, src).select("url", "lang"),
            store_root,
            "ingest",
            str(tmp_path / "ck2"),
        )
        q.processAllAvailable()
        q.stop()
        store = IceLite(store_root)
        total = store.read(spark, "ingest").count()
        assert total == 60
        # every snapshot carries its batch_id (exactly-once replay guard)
        assert all("batch_id" in s["counters"] for s in store.snapshots())

    def test_sigkill_between_batch_commit_and_checkpoint(self, spark, tmp_path, pages_pdf):
        """Streaming chaos gate (VERDICT r4 item 8): SIGKILL the driver
        AFTER a micro-batch's IceLite commit lands (current.json flipped)
        but BEFORE foreachBatch returns — i.e. before Spark advances the
        checkpoint commit log. On restart Spark replays that batch from the
        WAL; the sink's batch_id guard must skip the re-commit, so the
        table holds each source row exactly once and each batch committed
        exactly one snapshot."""
        import signal
        import subprocess
        import sys

        src = str(tmp_path / "chaos_in")
        # 4 single-file batches (maxFilesPerTrigger=1), 15 rows each
        pdf = pages_pdf.head(60)
        for i in range(4):
            spark.createDataFrame(pdf.iloc[i * 15:(i + 1) * 15][["url", "lang"]]).coalesce(
                1
            ).write.parquet(src, mode="append")
        store_root = str(tmp_path / "chaos_store")
        ck = str(tmp_path / "chaos_ck")
        code = f"""
import os, signal, sys
sys.path.insert(0, {ROOT!r})
import frontier_engine.icelite as IL
real_commit = IL.IceLite.commit
def hook(self, *a, **k):
    sid = real_commit(self, *a, **k)
    # batch 1's snapshot is durably committed; die before foreachBatch
    # returns, so the checkpoint commit log never records batch 1
    if (k.get("counters") or {{}}).get("batch_id") == 1:
        os.kill(os.getpid(), signal.SIGKILL)
    return sid
IL.IceLite.commit = hook
from frontier_engine.session import get_spark
from frontier_engine import streaming
spark = get_spark(cores=2, driver_memory="3g", app="stream_chaos")
q = streaming.stream_to_icelite(
    spark.readStream.schema("url string, lang string")
    .option("maxFilesPerTrigger", 1).parquet({src!r}),
    {store_root!r}, "ingest", {ck!r},
)
q.processAllAvailable()
print("UNREACHABLE")
"""
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=500
        )
        assert out.returncode == -signal.SIGKILL, (
            out.returncode, out.stdout[-500:], out.stderr[-1500:],
        )
        assert "UNREACHABLE" not in out.stdout

        store = IceLite(store_root)
        sid = store.current_snapshot_id()
        assert sid is not None  # batch 1's commit landed before the kill
        assert store.snapshot(sid)["counters"]["batch_id"] == 1

        # restart on the same checkpoint: Spark replays batch 1, the sink
        # skips it, and the remaining batches flow through
        q = streaming.stream_to_icelite(
            spark.readStream.schema("url string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            store_root,
            "ingest",
            ck,
        )
        q.processAllAvailable()
        q.stop()
        table = store.read(spark, "ingest")
        assert table.count() == 60  # no duplicate batch rows
        # per-url multiplicity matches the SOURCE exactly (synth pages
        # contain legitimate duplicate urls; a replayed batch would double
        # its 15 rows' counts)
        src_counts = {
            r.url: r["count"]
            for r in spark.read.parquet(src).groupBy("url").count().collect()
        }
        tbl_counts = {
            r.url: r["count"] for r in table.groupBy("url").count().collect()
        }
        assert tbl_counts == src_counts
        notes = [s["note"] for s in store.snapshots()]
        assert len(notes) == len(set(notes)) == 4  # one snapshot per batch

    def test_sessionize_batch(self, spark, sf_dir="/root/testdata/sf0.001"):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = streaming.sessionize_batch(events, gap_minutes=30)
        # session ids start at 1 and are monotone per user
        bad = out.groupBy("user_id").agg(F.min("session_id").alias("m")).where("m != 1")
        assert bad.count() == 0

    def test_sessionize_stream_runs(self, spark, tmp_path):
        src = str(tmp_path / "ev")
        spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            ).parquet(src)
        )
        q = (
            streaming.sessionize_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sess")
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .start()
        )
        q.processAllAvailable()
        q.stop()  # smoke: native session_window operator executes


# ------------------------------------------------------------- analyzers

class TestAnalyzers:
    def test_host_tokens(self, spark):
        df = spark.createDataFrame([("WWW2.Foo-Bar.co.uk",)], "h string")
        toks = df.select(analyzers.host_tokens(F.col("h")).alias("t")).collect()[0].t
        assert sorted(toks) == ["bar", "foo"]  # www stripped, cc-TLDs dropped

    def test_path_hierarchy(self, spark):
        df = spark.createDataFrame([("/a/b/c",), ("/",)], "p string")
        rows = df.select(analyzers.path_hierarchy_tokens(F.col("p")).alias("t")).collect()
        assert rows[0].t == ["/a", "/a/b", "/a/b/c"]
        assert rows[1].t == []

    def test_bm25_ranks_matching_docs(self, spark):
        docs = spark.createDataFrame(
            [(1, "spark spark window"), (2, "spark"), (3, "nothing here"), (4, "window query spark")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.bm25 for r in analyzers.bm25_scores(docs, ["spark", "window"]).collect()}
        assert 3 not in out  # no matching terms → no row
        assert out[1] > out[2]  # higher tf wins
        assert out[4] > out[2]  # more matched terms wins

    def test_nfkc_normalization_in_chain(self, spark):
        # icu_normalizer parity (NFKC): ligatures, fullwidth forms and
        # combining marks normalize BEFORE tokenize/stem/fold — the non-NFC
        # fixture rows the shared-SQL oracle cannot carry (no NFKC in
        # DuckDB), per VERDICT r2 item 5
        rows = [
            (1, "ﬁles", "en"),          # ﬁles → files → stem → file
            (2, "Ｓｐａｒｋ", "en"),  # Ｓｐａｒｋ → spark
            (3, "cafés", "fr"),        # e+combining acute → és → fold
            (4, "plain words", "en"),        # ASCII fast path unchanged
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = {}
        for r in analyzers.analyze_text(df, "text", "lang", ["doc_id"]).collect():
            out.setdefault(r.doc_id, []).append(r.term)
        assert out[1] == ["file"]
        assert out[2] == ["spark"]
        # NFKC composes e+◌́ → é (without it the combining mark would split
        # the token); len 5 < fr stemmer minimum; fold maps é→e
        assert out[3] == ["cafes"]
        assert out[4] == ["plain", "word"]

    def test_nfkc_series_kernel(self):
        import pandas as pd

        s = pd.Series(["ﬃx", "abc", None, "①"])  # ﬃ, ascii, null, ①
        got = list(analyzers.nfkc_series(s))
        assert got == ["ffix", "abc", None, "1"]

    def test_lm_dirichlet_runs(self, spark):
        docs = spark.createDataFrame(
            [(1, "spark window data"), (2, "other words only")], "doc_id long, text string"
        )
        out = analyzers.lmj_lmd_scores(docs, ["spark"]).collect()
        # one matching doc: tf=1, dl=3, 6 terms in the collection, ttf=1
        mu = 2000.0
        want = math.log(1 + 6 / mu) + math.log(mu / (3 + mu))
        assert [r.doc_id for r in out] == [1]
        assert out[0].lmd == pytest.approx(want)


# --------------------------------------------------------------- simsearch

class TestSimsearch:
    def test_cosine_matches_numpy(self, spark):
        import numpy as np

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qv = emb.where("vec_id = 0").select(F.col("embedding").alias("qv"))
        out = {r.vec_id: r.cos for r in simsearch.cosine_to_query(emb.where("vec_id != 0"), qv).collect()}
        rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
        q = rows[0]
        for vid in list(out)[:20]:
            v = rows[vid]
            want = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            assert abs(out[vid] - want) < 5e-4

    def test_ivf_multiprobe_recovers_boundary_nn(self, spark):
        """nprobe>1 is what real IVF recall depends on (VERDICT r3 item 8):
        a query near the cluster boundary whose true NN (by cosine) is
        assigned to the RUNNER-UP centroid is missed at nprobe=1 and found
        at nprobe=2. Unit vectors on a circle make euclidean k-means and
        cosine ranking consistent."""
        import math

        def unit(deg):
            a = math.radians(deg)
            return [math.cos(a), math.sin(a)]

        # cluster A anchored at ~110 deg (seed vec_id 1), cluster B at ~0
        # (seed vec_id 2); vec 17 at 57 deg lands in A (its centroid is
        # dragged to ~105 by the anchors), while the query at 50 deg is
        # nearer B's centroid — the classic boundary miss
        a_angles = [105, 106.5, 108, 109.5, 111, 112.5, 114, 115]
        b_angles = [0, -3, -2, -1, 1, 2, 3, 2.5]
        rows = [(1, unit(a_angles[0])), (2, unit(b_angles[0]))]
        vid = 3
        for d in a_angles[1:]:
            rows.append((vid, unit(d)))
            vid += 1
        for d in b_angles[1:]:
            rows.append((vid, unit(d)))
            vid += 1
        rows.append((17, unit(57)))  # the true NN
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qv = spark.createDataFrame([(unit(50),)], "qv array<double>")

        scored = simsearch.cosine_to_query(emb, qv)
        assert scored.orderBy(F.col("cos").desc()).first().vec_id == 17

        assign, cent = simsearch.kmeans_lloyd(emb, k=2, iters=2)

        def members(nprobe):
            probe = simsearch.ivf_probe_cluster(qv, cent, nprobe=nprobe)
            return {
                r.vec_id
                for r in emb.join(assign, "vec_id")
                .join(F.broadcast(probe), "cluster")
                .collect()
            }

        m1, m2 = members(1), members(2)
        assert 17 not in m1, "boundary NN unexpectedly in the first probe"
        assert 17 in m2, "nprobe=2 must recover the boundary NN"
        assert len(m2) == len(rows)  # k=2: both clusters probed = full set


# ----------------------------------------------------------------- upsert

def test_merge_upsert(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    updates = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    out = {r.k: r.v for r in merge_upsert(existing, updates, "k").collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}


class TestWarcSplitRead:
    """Intra-file byte-range splitting (_ReadWarc parity, warcio.py:72-177):
    one large multi-member WARC parses across >1 split with records
    identical to the per-file read — including absolute source_offset."""

    @pytest.fixture(scope="class")
    def big_warc(self, tmp_path_factory):
        import gzip as _gz

        d = tmp_path_factory.mktemp("bigwarc")
        recs = [
            {"record_type": "response", "record_id": f"<urn:uuid:{i}>",
             "target_uri": f"http://big.com/p{i}", "warc_date": "2021-03-01T00:00:00Z",
             "http_content_type": "text/html",
             "payload": (f"<html><body><p>doc {i} " + "x" * 400 + "</p></body></html>").encode()}
            for i in range(40)
        ]
        # Common-Crawl convention: one gzip member per record
        gz = b"".join(_gz.compress(warc_source.write_warc_bytes([r])) for r in recs)
        (d / "big.warc.gz").write_bytes(gz)
        (d / "big.warc").write_bytes(warc_source.write_warc_bytes(recs))
        return str(d)

    @pytest.mark.parametrize("name", ["big.warc.gz", "big.warc"])
    def test_split_read_matches_per_file(self, spark, big_warc, name):
        path = f"{big_warc}/{name}"
        splits = warc_source.plan_warc_splits(spark, path, target_split_bytes=2048).collect()
        assert len(splits) > 1  # the single file really is split
        # splits tile the file: contiguous, non-overlapping
        ordered = sorted((s.start, s.end) for s in splits)
        assert all(a[1] == b[0] for a, b in zip(ordered, ordered[1:]))

        # read_warcs_whole is the independent whole-file oracle (read_warcs
        # itself now routes through the range path)
        whole = warc_source.read_warcs_whole(spark, path).collect()
        split = warc_source.read_warcs_split(spark, path, target_split_bytes=2048).collect()
        ranged = warc_source.read_warcs(spark, path, target_split_bytes=2048).collect()
        key = lambda r: (r.source_offset, r.target_uri, bytes(r.payload))
        assert sorted(map(key, split)) == sorted(map(key, whole))
        assert sorted(map(key, ranged)) == sorted(map(key, whole))
        assert len(whole) == 40

    def test_gzip_member_offsets_are_compressed_positions(self, big_warc):
        with open(f"{big_warc}/big.warc.gz", "rb") as f:
            data = f.read()
        offs = warc_source.stream_member_offsets(io.BytesIO(data))
        assert len(offs) == 40 and offs[0] == 0
        # every offset points at a gzip magic
        assert all(data[o : o + 2] == b"\x1f\x8b" for o in offs)

    def test_plain_offsets_windowed_matches_single_buffer(self, big_warc):
        # streaming (windowed) plain-file index == one-buffer scan, with a
        # window small enough that records straddle window boundaries
        with open(f"{big_warc}/big.warc", "rb") as f:
            data = f.read()
        import io as _io

        whole = warc_source._plain_offsets(data)
        windowed = warc_source.stream_member_offsets(_io.BytesIO(data), chunk_size=777)
        assert windowed == whole and len(whole) == 40

    def test_index_pass_memory_is_bounded(self, tmp_path):
        """A ~200 MB incompressible gzip WARC is indexed with bounded RSS:
        the streaming indexer never materializes the file (the old path's
        f.read() held it whole — the VERDICT r2 'driver-of-OOM at 100x'
        item). Run in a fresh subprocess for a clean RSS high-water mark."""
        import gzip as _gz
        import os
        import subprocess
        import sys

        path = tmp_path / "huge.warc.gz"
        n_members = 40
        with open(path, "wb") as out:
            for i in range(n_members):
                rec = {
                    "record_type": "response", "record_id": f"<urn:uuid:{i}>",
                    "target_uri": f"http://huge.com/p{i}",
                    "warc_date": "2021-03-01T00:00:00Z",
                    "http_content_type": "application/octet-stream",
                    "payload": os.urandom(5 << 20),  # incompressible
                }
                out.write(_gz.compress(warc_source.write_warc_bytes([rec]), 1))
        assert path.stat().st_size > 190 << 20

        code = f"""
import resource, sys
sys.path.insert(0, {ROOT!r})
from frontier_engine import warc_source
base = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # import overhead
with open({str(path)!r}, "rb") as f:
    offs = warc_source.stream_member_offsets(f)
assert len(offs) == {n_members}, offs
# parse one middle range exactly as a split task would
with open({str(path)!r}, "rb") as f:
    f.seek(offs[10]); chunk = f.read(offs[11] - offs[10])
recs = list(warc_source.parse_warc_stream(chunk, "huge", 1 << 20, offset_bias=offs[10]))
assert len(recs) == 1 and recs[0]["source_offset"] == offs[10]
print(base)
print(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
"""
        out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
        assert out.returncode == 0, out.stderr[-2000:]
        base_kb, peak_kb = (int(x) for x in out.stdout.strip().splitlines()[-2:])
        # the file is ~200 MB: indexing + one ~5 MB range must add far less
        # than the file size on top of the interpreter/import baseline
        delta_kb = peak_kb - base_kb
        assert delta_kb < 60_000, f"RSS grew {delta_kb} KB over baseline — not bounded"

    def test_warc_ingest_end_to_end_matches_parquet_path(self, spark, tmp_path):
        """VERDICT r3 item 5: the full ingest chain — synth → WARC bytes on
        disk (one gzip member per record) → plan_warc_splits →
        read_warcs_split → warc_records_to_pages → run_pipeline — produces
        EXACTLY the docs of the parquet-table path on the same corpus."""
        import gzip as _gz

        from frontier_engine import pipeline as pl, synth

        pdf = synth.generate_pages(n_pages=80, seed=5, n_hosts=12, compute_text=False)
        files = [open(tmp_path / f"w{i}.warc.gz", "wb") for i in range(2)]
        for i, r in enumerate(pdf.itertuples()):
            rec = {
                "record_type": "response",
                "record_id": f"<urn:uuid:e2e-{i}>",
                "target_uri": r.url,
                "warc_date": r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "http_content_type": "text/html",
                "payload": bytes(r.html),
            }
            files[i % 2].write(_gz.compress(warc_source.write_warc_bytes([rec]), 6))
        for f in files:
            f.close()

        # max_payload above the corpus's too-big edge row: the reader's
        # transport strip (warcio.py:150-154 parity) would otherwise clip
        # the >1 MiB page to exactly 1 MiB and sneak it past the pipeline's
        # max-size filter — size-policy enforcement belongs to the
        # pipeline's content filters, the reader must hand over full bytes
        recs = warc_source.read_warcs(
            spark, str(tmp_path / "*.warc.gz"), target_split_bytes=4096,
            max_payload=4 << 20,
        )
        pages_w = warc_source.warc_records_to_pages(recs).select("url", "warc_ts", "html")
        pages_p = spark.createDataFrame(pdf)

        out_w = pl.run_pipeline(pages_w)
        out_p = pl.run_pipeline(pages_p)
        try:
            rows_w = sorted(map(tuple, out_w["payload"].collect()))
            rows_p = sorted(map(tuple, out_p["payload"].collect()))
        finally:
            out_w["proc"].unpersist()
            out_p["proc"].unpersist()
        assert len(rows_w) > 0
        assert rows_w == rows_p

    def test_index_pass_bounded_on_gzip_bomb(self, tmp_path):
        """HIGHLY COMPRESSIBLE members (zeros, ~1000:1) — a crafted bomb
        member must not materialize its full decompressed output during the
        offsets-only index pass (the decompress loop drains in ≤1 MiB
        slices). The incompressible-RSS test above can't catch this; here a
        single 4 MB compressed chunk would expand to ~4 GB if unbounded."""
        import gzip as _gz
        import subprocess
        import sys

        path = tmp_path / "bomb.warc.gz"
        rec = {
            "record_type": "response", "record_id": "<urn:uuid:z>",
            "target_uri": "http://bomb.com/", "warc_date": "2021-03-01T00:00:00Z",
            "http_content_type": "application/octet-stream",
            "payload": b"\x00" * (512 << 20),  # 512 MB of zeros per member
        }
        with open(path, "wb") as out:
            for _ in range(2):
                out.write(_gz.compress(warc_source.write_warc_bytes([rec]), 9))
        assert path.stat().st_size < 4 << 20  # truly bomb-shaped

        code = f"""
import resource, sys
sys.path.insert(0, {ROOT!r})
from frontier_engine import warc_source
base = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
with open({str(path)!r}, "rb") as f:
    offs = warc_source.stream_member_offsets(f)
assert len(offs) == 2, offs
print(base)
print(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
"""
        out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
        assert out.returncode == 0, out.stderr[-2000:]
        base_kb, peak_kb = (int(x) for x in out.stdout.strip().splitlines()[-2:])
        delta_kb = peak_kb - base_kb
        # 1 GB decompressed total; bounded path should add only MiB-scale
        assert delta_kb < 60_000, f"RSS grew {delta_kb} KB on bomb — unbounded decompress"


class TestPolitenessThrottleStream:
    def test_budget_enforced_across_microbatches(self, spark, tmp_path):
        import time

        src = tmp_path / "cand"
        src.mkdir()
        rows1 = [("a.com", f"http://a.com/{i}", "2021-03-01 00:00:%02d" % i) for i in range(3)]
        rows1 += [("b.com", "http://b.com/0", "2021-03-01 00:00:00")]
        rows2 = [("a.com", f"http://a.com/x{i}", "2021-03-01 00:01:%02d" % i) for i in range(4)]
        ddl = "host string, url string, ts string"
        spark.createDataFrame(rows1, ddl).withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.parquet(str(src / "f1"))
        time.sleep(1.1)  # distinct mtimes → file source orders f1 before f2
        spark.createDataFrame(rows2, ddl).withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.parquet(str(src / "f2"))

        stream = (
            spark.readStream.schema("host string, url string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        out = streaming.politeness_throttle_stream(stream, budget_per_host=5)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("throttled")
            .option("checkpointLocation", str(tmp_path / "ck_thr"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql("select * from throttled").collect()
        assert len(got) == 8  # every candidate emitted with a flag
        a_allowed = sorted(r.url for r in got if r.host == "a.com" and r.allowed)
        a_denied = [r.url for r in got if r.host == "a.com" and not r.allowed]
        # batch 1: 3 candidates fit; batch 2: only 2 of 4 fit (state carried)
        assert len(a_allowed) == 5 and len(a_denied) == 2
        # deterministic admission order: earliest (ts, url) pass
        assert a_allowed == [
            "http://a.com/0", "http://a.com/1", "http://a.com/2",
            "http://a.com/x0", "http://a.com/x1",
        ]
        assert [r.allowed for r in got if r.host == "b.com"] == [True]

    def test_budget_not_double_granted_after_restart(self, spark, tmp_path):
        """Kill/restart recovery (VERDICT r2 item 6): a NEW query instance
        resuming from the same checkpoint must recover the per-host served
        counter from the state store — candidates arriving after the
        restart are admitted against the budget already granted before it,
        never against a fresh budget."""
        src = tmp_path / "cand2"
        src.mkdir()
        ddl = "host string, url string, ts string"
        rows1 = [("a.com", f"http://a.com/{i}", "2021-03-01 00:00:%02d" % i) for i in range(3)]
        rows1 += [("b.com", "http://b.com/0", "2021-03-01 00:00:00")]
        spark.createDataFrame(rows1, ddl).withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.parquet(str(src / "f1"))

        outdir, ck = str(tmp_path / "out_thr"), str(tmp_path / "ck_thr2")

        def run_query():
            stream = (
                spark.readStream.schema("host string, url string, ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src) + "/*")
            )
            out = streaming.politeness_throttle_stream(stream, budget_per_host=4)
            return (
                out.writeStream.outputMode("append")
                .format("parquet")  # fault-tolerant sink (exactly-once w/ checkpoint)
                .option("path", outdir)
                .option("checkpointLocation", ck)
                .start()
            )

        q1 = run_query()
        q1.processAllAvailable()
        q1.stop()  # "kill"

        rows2 = [("a.com", f"http://a.com/x{i}", "2021-03-01 00:01:%02d" % i) for i in range(4)]
        spark.createDataFrame(rows2, ddl).withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.parquet(str(src / "f2"))

        q2 = run_query()  # restart: fresh query object, same checkpoint
        q2.processAllAvailable()
        q2.stop()

        got = spark.read.parquet(outdir).collect()
        assert len(got) == 8  # every candidate exactly once across restart
        a_allowed = sorted(r.url for r in got if r.host == "a.com" and r.allowed)
        # 3 granted before the kill + exactly 1 after (4 would mean the
        # budget was re-granted from zero on restart)
        assert a_allowed == [
            "http://a.com/0", "http://a.com/1", "http://a.com/2", "http://a.com/x0",
        ]
        assert [r.allowed for r in got if r.host == "b.com"] == [True]
