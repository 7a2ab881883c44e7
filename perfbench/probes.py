"""Isolated per-layer probes of the traced run.

Each probe calls one module's public functions on inputs taken from the
workload (its prepared pages, its template store) and times only that call,
so a layer's number moves only when that layer changes. Driver-side kernel
probes run single-threaded on a fixed page sample; Spark-side probes write
to the ``noop`` sink so no output IO is timed.
"""

from __future__ import annotations

import gzip
import os
import time
from urllib.parse import urljoin, urlparse

import measure

SAMPLE_PAGES = 200
WARC_PAGES = 1000
PASSES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _per_item_us(fn, items) -> float:
    """Median over ``PASSES`` passes of the microseconds ``fn`` takes per item."""
    walls = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        walls.append(time.perf_counter() - t0)
    return measure.median(walls) / len(items) * 1e6


class Probes:
    def __init__(self, crawl, root: str, spans: list, round_docs: int, round_s: float):
        """``root``: a store one round past the template, whose state the
        frontier-layer probes read. ``round_docs`` and ``round_s``: the
        replayed round's fetched docs and median wall."""
        self.crawl, self.spark, self.root, self.spans = crawl, crawl.spark, root, spans
        self.round_docs, self.round_s = round_docs, round_s

    def _timed(self, name: str, fn) -> float:
        e0, t0 = time.time(), time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        self.spans.append((name, e0, time.time()))
        return wall

    def run_all(self) -> dict:
        rows = (
            self.crawl.prepared.select("url", "warc_ts", "html", "url_hash")
            .orderBy("url_hash").limit(SAMPLE_PAGES).collect()
        )
        sample = [(r["url"], r["warc_ts"], bytes(r["html"])) for r in rows]
        out = {}
        out.update(self.kernel(sample))
        links = self.link_sample(sample)
        out.update(self.links(links))
        out.update(self.gate(links))
        out.update(self.pipeline())
        out.update(self.urlseen())
        out.update(self.schedule())
        out.update(self.warc())
        return out

    # ------------------------------------------------- driver-side kernels

    def kernel(self, sample) -> dict:
        from frontier_engine import extract as ex
        from frontier_engine import oracle

        self.page_us = _per_item_us(lambda r: oracle.process_page(*r), sample)
        decoded = [ex.bytes_to_str(h, ex.detect_encoding(h)) for _, _, h in sample]
        docs = [ex.parse_html(s) for s in decoded]
        docs = [d for d in docs if d.body is not None]
        fulls = [ex.extract_plain_text(d, alt_texts=True, preserve_formatting=False) for d in docs]

        def text(d):
            ex.extract_plain_text(d, alt_texts=True, preserve_formatting=False)
            ex.extract_plain_text(d, main_content=True, alt_texts=True,
                                  preserve_formatting=True, list_bullets=False)

        return {
            "oracle.page_us_per_doc": (self.page_us, "us"),
            "extract.decode_us_per_doc": (
                _per_item_us(lambda h: ex.bytes_to_str(h, ex.detect_encoding(h)),
                             [h for _, _, h in sample]), "us"),
            "extract.parse_us_per_doc": (_per_item_us(ex.parse_html, decoded), "us"),
            "extract.text_us_per_doc": (_per_item_us(text, docs), "us"),
            "extract.lang_us_per_doc": (_per_item_us(ex.detect_lang, [f for f in fulls if f]), "us"),
            "extract.links_us_per_doc": (_per_item_us(ex.get_links, docs), "us"),
        }

    @staticmethod
    def link_sample(sample) -> list[str]:
        """The sample pages' discovered links, resolved against their page."""
        from frontier_engine import oracle

        links = []
        for url, ts, html in sample:
            links.extend(urljoin(url, h) for h in oracle.process_page(url, ts, html).links)
        return links

    @staticmethod
    def links(links) -> dict:
        from frontier_engine.identity import index_uuid, webis_uuid
        from frontier_engine.oracle import derive_source
        from frontier_engine.urlnorm import canonicalize_url

        norms = [canonicalize_url(u) for u in links]

        def identify(u):
            src, off = derive_source(u)
            index_uuid(1000, off, src, webis_uuid("synth", u))

        return {
            "urlnorm.canon_us_per_url": (_per_item_us(canonicalize_url, links), "us"),
            "identity.idx_us_per_url": (_per_item_us(identify, norms), "us"),
        }

    @staticmethod
    def gate(links) -> dict:
        """Robots parse + match per URL, against the varied robots.txt
        rules ``synth.generate_robots`` writes for the links' hosts."""
        import pandas as pd

        from frontier_engine import politeness, synth

        robots = synth.generate_robots(pd.DataFrame({"url": links}))
        by_host = dict(zip(robots["host"], robots["robots_txt"]))
        pairs = []
        for u in links:
            p = urlparse(u)
            pairs.append((by_host.get((p.hostname or "").lower()), p.path or "/"))

        def check(pair):
            politeness.robots_allowed(politeness.parse_robots(pair[0]), pair[1])

        return {"politeness.gate_us_per_url": (_per_item_us(check, pairs), "us")}

    # ---------------------------------------------------- Spark-side layers

    def pipeline(self) -> dict:
        """Extraction alone over as many pages as a round fetches, from a
        cache, into the noop sink; its share of the replayed round's wall
        tells how much of a round extraction is on this workload."""
        from pyspark.sql import functions as F

        from frontier_engine import pipeline

        # the pages round 1 fetched; the broadcast join keeps the corpus's
        # partitioning, as the round's own fetch join does
        store = self.crawl.engine(self.root).store
        fetched = store.read(self.spark, "schedule").where(F.col("round") == 1).select("url_norm")
        pages = (
            self.crawl.prepared.join(F.broadcast(fetched), "url_norm")
            .select("url", "warc_ts", "html").persist()
        )
        try:
            self.round_docs = pages.count()
            wall = self._timed("probe.pipeline", lambda: _noop(pipeline.processed(pages)))
        finally:
            pages.unpersist()
        return {
            "pipeline.extract_docs_per_s": (self.round_docs / wall, "1/s"),
            "frontier.extract_share": (wall / self.round_s, "ratio"),
        }

    def urlseen(self) -> dict:
        import numpy as np
        from pyspark.sql import functions as F

        from frontier_engine import urlseen

        n_shards, bloom_bits = self.crawl.n_shards, self.crawl.bloom_bits
        store = self.crawl.engine(self.root).store
        read = lambda t: store.read(self.spark, t)  # noqa: E731
        shards, known, pending = read("known_shards"), read("frontier_known"), read("frontier_pending")
        cur = store.snapshot(store.current_snapshot_id())["counters"]
        admitted = pending.where(F.col("round") == cur["round"] + 1).select("url_hash")
        extend_s = self._timed(
            "probe.urlseen.extend",
            lambda: _noop(urlseen.extend_shards(shards, admitted, n_shards, bloom_bits)),
        )
        filter_s = self._timed(
            "probe.urlseen.filter",
            lambda: _noop(urlseen.filter_unseen(pending, shards, known, n_shards)),
        )
        fills = [
            np.unpackbits(np.frombuffer(r["filter_bytes"], dtype=np.uint8)).mean()
            for r in shards.select("filter_bytes").collect()
        ]
        known_rows = sum(
            s["counters"].get("seeded", 0) + s["counters"].get("discovered_new", 0)
            for s in store.snapshots()
        )
        return {
            "urlseen.extend_s": (extend_s, "s"),
            "urlseen.filter_s": (filter_s, "s"),
            "urlseen.bloom_fill": (float(np.mean(fills)), "ratio"),
            "state.known_rows": (known_rows, "count"),
            "state.pending_rows": (cur["pending_out"], "count"),
        }

    def schedule(self) -> dict:
        from pyspark.sql import functions as F

        from frontier_engine import politeness

        store = self.crawl.engine(self.root).store
        gated = politeness.apply_robots_gate(
            store.read(self.spark, "frontier_pending"), store.read(self.spark, "robots")
        ).where(F.col("robots_allowed")).persist()
        try:
            gated.count()
            wall = self._timed(
                "probe.schedule",
                lambda: _noop(politeness.schedule_hosts(gated, budget=self.crawl.params["budget"])),
            )
        finally:
            gated.unpersist()
        return {"politeness.schedule_s": (wall, "s")}

    def warc(self) -> dict:
        from frontier_engine import synth, warc_source

        warc_dir = os.path.join(self.crawl.work, "warc")
        os.makedirs(warc_dir)
        pdf = synth.generate_pages(n_pages=WARC_PAGES, seed=self.crawl.seed, n_hosts=100,
                                   compute_text=False)
        n_files = 4
        paths = [os.path.join(warc_dir, f"c{i:02d}.warc.gz") for i in range(n_files)]
        writers = [open(p, "wb") for p in paths]
        try:
            for i, r in enumerate(pdf.itertuples()):
                rec = {
                    "record_id": f"<urn:uuid:perfbench-{i}>",
                    "target_uri": r.url,
                    "warc_date": r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "payload": bytes(r.html),
                }
                writers[i % n_files].write(gzip.compress(warc_source.write_warc_bytes([rec]), 6))
        finally:
            for w in writers:
                w.close()
        n = {}

        def read():
            n["records"] = warc_source.read_warcs(
                self.spark, os.path.join(warc_dir, "*.warc.gz"),
                target_split_bytes=1 << 20, max_payload=4 << 20,
            ).count()

        read_s = self._timed("probe.warc_source", read)
        if n["records"] != len(pdf):
            raise RuntimeError(f"read_warcs returned {n['records']} records for {len(pdf)} written")
        blobs = []
        for p in paths:
            with open(p, "rb") as f:
                blobs.append((os.path.basename(p), f.read()))
        walls = []
        for _ in range(PASSES):
            t0 = time.perf_counter()
            parsed = sum(len(list(warc_source.parse_warc_stream(b, name))) for name, b in blobs)
            walls.append(time.perf_counter() - t0)
        return {
            "warc_source.read_s": (read_s, "s"),
            "warc_source.parse_us_per_record": (measure.median(walls) / parsed * 1e6, "us"),
        }

    # ----------------------------------------------------------- event log

    def from_event_log(self, att: dict) -> dict:
        """Spark core-seconds per doc of the isolated extraction stage over
        the single-thread kernel's seconds per doc."""
        core_s_per_doc = att["probe.pipeline"]["run_ms"] / 1000 / self.round_docs
        return {"pipeline.udf_overhead": (core_s_per_doc / (self.page_us / 1e6), "ratio")}
