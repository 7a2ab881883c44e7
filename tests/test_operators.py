"""Operator tests: rank parsing/join, bloom URL-seen, robots + scheduler,
IceLite snapshots (SURVEY.md §5.1, §5.6)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from frontier_engine import politeness, ranks, urlseen
from frontier_engine.icelite import IceLite


# ---------------------------------------------------------------- ranks

class TestRanks:
    def test_parse_and_join(self, spark, tmp_path):
        spam = ["17 doc-a", "3 doc-b", "notanum doc-c", "99", ""]
        pr = ["doc-a 0.5", "doc-c 0.25", "doc-d bogus", "lonely"]
        (tmp_path / "spam.txt").write_text("\n".join(spam))
        (tmp_path / "pr.txt").write_text("\n".join(pr))
        t = ranks.load_rank_table(spark, str(tmp_path / "spam.txt"), str(tmp_path / "pr.txt"))
        rows = {r.doc_id: (r.spam_rank, r.page_rank) for r in t.collect()}
        # malformed lines silently dropped (process.py:477-506)
        assert rows == {"doc-a": (17, 0.5), "doc-b": (3, None), "doc-c": (None, 0.25)}

        payload = spark.createDataFrame(
            [("doc-a", "x"), ("doc-z", "y")], "warc_target_uri string, title string"
        )
        joined = ranks.join_ranks(payload, t)
        got = {r.warc_target_uri: (r.spam_rank, r.page_rank) for r in joined.collect()}
        assert got == {"doc-a": (17, 0.5), "doc-z": (None, None)}  # left outer

    def test_join_is_broadcast(self, spark, tmp_path):
        (tmp_path / "s.txt").write_text("1 a")
        t = ranks.load_rank_table(spark, str(tmp_path / "s.txt"))
        payload = spark.createDataFrame([("a", "x")], "warc_target_uri string, title string")
        plan = ranks.join_ranks(payload, t)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------- urlseen

class TestUrlSeen:
    N_SHARDS = 8
    M_BITS = 1 << 14

    def _hashed(self, spark, urls):
        return spark.createDataFrame([(u,) for u in urls], "url_norm string").withColumn(
            "url_hash", F.xxhash64("url_norm")
        )

    def test_no_false_negatives(self, spark):
        urls = [f"http://h{i % 7}.com/p{i}" for i in range(500)]
        df = self._hashed(spark, urls)
        shards = urlseen.build_shards(df, self.N_SHARDS, self.M_BITS)
        marked = urlseen.mark_maybe_seen(df, shards, self.N_SHARDS)
        # bloom guarantee: every inserted item reports maybe_seen
        assert marked.where(~F.col("maybe_seen")).count() == 0

    def test_fpr_reasonable(self, spark):
        inserted = self._hashed(spark, [f"http://a.com/{i}" for i in range(500)])
        probes = self._hashed(spark, [f"http://b.org/{i}" for i in range(2000)])
        shards = urlseen.build_shards(inserted, self.N_SHARDS, self.M_BITS)
        fp = urlseen.mark_maybe_seen(probes, shards, self.N_SHARDS).where(F.col("maybe_seen")).count()
        assert fp / 2000 < 0.05

    def test_merge_equivalent_to_single_build(self, spark):
        a = self._hashed(spark, [f"http://a.com/{i}" for i in range(200)])
        b = self._hashed(spark, [f"http://b.com/{i}" for i in range(200)])
        both = a.unionByName(b)
        merged = urlseen.merge_shards(
            urlseen.build_shards(a, self.N_SHARDS, self.M_BITS),
            urlseen.build_shards(b, self.N_SHARDS, self.M_BITS),
        )
        single = urlseen.build_shards(both, self.N_SHARDS, self.M_BITS)
        m = {r.shard_id: r.filter_bytes for r in merged.collect()}
        s = {r.shard_id: r.filter_bytes for r in single.collect()}
        assert m == s

    def test_extend_shards_bit_identical_to_merge_of_build(self, spark):
        """The fused one-stage extend_shards must equal the unfused
        merge(prev, build(new)) BIT-FOR-BIT (it replaces that chain in the
        round commit; any drift would silently change bloom membership)."""
        prev_h = self._hashed(spark, [f"http://a.com/{i}" for i in range(200)])
        new_h = self._hashed(spark, [f"http://b.com/{i}" for i in range(200)])
        prev = urlseen.build_shards(prev_h, self.N_SHARDS, self.M_BITS)
        unfused = urlseen.merge_shards(
            prev, urlseen.build_shards(new_h, self.N_SHARDS, self.M_BITS)
        )
        fused = urlseen.extend_shards(prev, new_h, self.N_SHARDS, self.M_BITS)
        u = {r.shard_id: (r.filter_bytes, r.n_items) for r in unfused.collect()}
        f = {r.shard_id: (r.filter_bytes, r.n_items) for r in fused.collect()}
        assert u == f

    def test_extend_shards_none_prev_equals_build(self, spark):
        h = self._hashed(spark, [f"http://c.com/{i}" for i in range(300)])
        built = urlseen.build_shards(h, self.N_SHARDS, self.M_BITS)
        fused = urlseen.extend_shards(None, h, self.N_SHARDS, self.M_BITS)
        b = {r.shard_id: (r.filter_bytes, r.n_items) for r in built.collect()}
        f = {r.shard_id: (r.filter_bytes, r.n_items) for r in fused.collect()}
        assert b == f

    def test_filter_unseen_exact(self, spark):
        all_urls = [f"http://x.io/{i}" for i in range(300)]
        seen_urls = all_urls[:120]
        cand = self._hashed(spark, all_urls)
        seen = self._hashed(spark, seen_urls).select("url_hash", "url_norm")
        shards = urlseen.build_shards(seen, self.N_SHARDS, self.M_BITS)
        out = urlseen.filter_unseen(cand, shards, seen, self.N_SHARDS)
        got = sorted(r.url_norm for r in out.collect())
        assert got == sorted(all_urls[120:])  # exact: no FPs survive, no FNs dropped

    def test_bits_not_multiple_of_8_rejected(self, spark):
        """A bitmap is stored packed: a size that bytes cannot hold exactly
        would be probed modulo a different size than it was built with."""
        h = self._hashed(spark, ["http://r.com/1"])
        for bad in (1003, 0, -8):
            with pytest.raises(ValueError, match="multiple of 8"):
                urlseen.build_shards(h, self.N_SHARDS, bad)
            with pytest.raises(ValueError, match="multiple of 8"):
                urlseen.extend_shards(None, h, self.N_SHARDS, bad)

    def test_duplicate_shard_rows_raise(self, spark):
        """A shard table holding one shard_id twice would probe only one of
        its bitmaps; the membership test refuses it with a real error."""
        h = self._hashed(spark, [f"http://d.com/{i}" for i in range(50)])
        shards = urlseen.build_shards(h, self.N_SHARDS, self.M_BITS)
        doubled = shards.unionByName(shards)
        with pytest.raises(Exception, match="RuntimeError: duplicate urlseen shard rows"):
            urlseen.mark_maybe_seen(h, doubled, self.N_SHARDS).collect()

    def test_empty_shards_all_unseen(self, spark):
        cand = self._hashed(spark, ["http://q.com/1", "http://q.com/2"])
        shards = spark.createDataFrame([], urlseen.SHARD_SCHEMA)
        seen = spark.createDataFrame([], "url_hash long, url_norm string")
        assert urlseen.filter_unseen(cand, shards, seen, self.N_SHARDS).count() == 2


# ------------------------------------------------------------- politeness

class TestRobots:
    def test_parse_and_match(self):
        r = politeness.parse_robots(
            "User-agent: *\nDisallow: /private/\nAllow: /private/ok.html\nCrawl-delay: 2\n"
        )
        assert r.crawl_delay == 2.0
        assert politeness.robots_allowed(r, "/public/x") is True
        assert politeness.robots_allowed(r, "/private/x") is False
        assert politeness.robots_allowed(r, "/private/ok.html") is True  # longest match wins

    def test_absent_allows(self):
        assert politeness.robots_allowed(politeness.parse_robots(None), "/x") is True

    def test_other_agent_group_ignored(self):
        r = politeness.parse_robots("User-agent: BadBot\nDisallow: /\nUser-agent: *\nDisallow: /tmp/\n")
        assert politeness.robots_allowed(r, "/a") is True
        assert politeness.robots_allowed(r, "/tmp/a") is False

    @pytest.mark.parametrize("agents", ["*\nUser-agent: googlebot", "googlebot\nUser-agent: *"])
    def test_consecutive_agents_share_group(self, agents):
        # RFC 9309 §2.1: consecutive User-agent lines head one group
        r = politeness.parse_robots(f"User-agent: {agents}\nDisallow: /x\n")
        assert politeness.robots_allowed(r, "/x/1") is False
        assert politeness.robots_allowed(r, "/y") is True

    def test_gate_dataframe(self, spark):
        cand = spark.createDataFrame(
            [("h1.com", "http://h1.com/private/x"), ("h1.com", "http://h1.com/ok"),
             ("h2.com", "http://h2.com/anything")],
            "host string, url_norm string",
        )
        robots = spark.createDataFrame(
            [("h1.com", "User-agent: *\nDisallow: /private/\n")], "host string, robots_txt string"
        )
        out = {r.url_norm: r.robots_allowed for r in politeness.apply_robots_gate(cand, robots).collect()}
        assert out == {
            "http://h1.com/private/x": False,
            "http://h1.com/ok": True,
            "http://h2.com/anything": True,  # absent robots → allow
        }


class TestScheduler:
    def _cands(self, spark, n_hosts=5, per_host=30):
        rows = []
        for h in range(n_hosts):
            for i in range(per_host):
                rows.append((f"h{h}.com", f"http://h{h}.com/p{i}", (i * 37 % 11) / 10.0,
                            f"id{h:02d}{i:04d}", float(h) if h == 2 else None))
        return spark.createDataFrame(
            rows, "host string, url_norm string, priority double, idx_id string, crawl_delay double"
        )

    def test_pq_matches_window_oracle(self, spark):
        cand = self._cands(spark)
        pq = politeness.schedule_hosts(cand, budget=7).where(F.col("scheduled"))
        win = politeness.schedule_window(cand, budget=7).where(F.col("scheduled"))
        key = lambda df: sorted((r.host, r.seq, r.url_norm) for r in df.collect())
        assert key(pq) == key(win)

    def test_budget_respected(self, spark):
        out = politeness.schedule_hosts(self._cands(spark), budget=7).where(F.col("scheduled"))
        per_host = {r.host: r.n for r in out.groupBy("host").agg(F.count("*").alias("n")).collect()}
        for h, n in per_host.items():
            assert n <= 7

    def test_crawl_delay_shrinks_budget(self, spark):
        # host h2 has crawl_delay=2.0 → effective budget min(7, 300//2)=7; use
        # delay 100 → budget 3
        cand = self._cands(spark).withColumn(
            "crawl_delay", F.when(F.col("host") == "h2.com", 100.0)
        )
        out = politeness.schedule_hosts(cand, budget=7).where(F.col("scheduled"))
        per_host = {r.host: r.n for r in out.groupBy("host").agg(F.count("*").alias("n")).collect()}
        assert per_host["h2.com"] == 3
        assert per_host["h0.com"] == 7

    def test_deterministic_order(self, spark):
        cand = self._cands(spark)
        a = sorted((r.host, r.seq, r.idx_id) for r in politeness.schedule_hosts(cand, 5).where("scheduled").collect())
        b = sorted((r.host, r.seq, r.idx_id) for r in politeness.schedule_hosts(cand, 5).where("scheduled").collect())
        assert a == b

    @given(st.integers(1, 20), st.integers(0, 500))
    @settings(max_examples=20, deadline=None)
    def test_effective_budget_property(self, budget, delay):
        eff = politeness.effective_budget(budget, delay or None)
        assert 1 <= eff <= budget


# ---------------------------------------------------------------- icelite

class TestIceLite:
    def test_commit_read_timetravel(self, spark, tmp_path):
        store = IceLite(str(tmp_path / "t"))
        df1 = spark.range(5).withColumnRenamed("id", "x")
        s0 = store.commit(tables={"t": df1}, counters={"round": 0})
        df2 = spark.range(10).withColumnRenamed("id", "x")
        s1 = store.commit(tables={"t": df2}, counters={"round": 1})
        assert (s0, s1) == (0, 1)
        assert store.read(spark, "t").count() == 10
        assert store.read(spark, "t", snapshot_id=0).count() == 5  # time travel
        assert [s["id"] for s in store.snapshots()] == [0, 1]

    def test_append_tables(self, spark, tmp_path):
        store = IceLite(str(tmp_path / "t"))
        store.commit(tables={}, append_tables={"log": spark.range(3)})
        store.commit(tables={}, append_tables={"log": spark.range(4)})
        assert store.read(spark, "log").count() == 7

    def test_untouched_tables_carried(self, spark, tmp_path):
        """A commit carries every parent table it neither replaces nor
        appends: same files, schema and stats, no write."""
        store = IceLite(str(tmp_path / "t"))
        store.commit(tables={"static": spark.range(2), "v": spark.range(1)})
        store.commit(tables={"v": spark.range(9)})
        s0, s1 = store.snapshot(0), store.snapshot(1)
        for key in ("tables", "schemas", "stats"):
            assert s1[key]["static"] == s0[key]["static"], key
        assert s1["tables"]["v"] != s0["tables"]["v"]
        assert store.read(spark, "static").count() == 2
        assert store.read(spark, "v").count() == 9

    def test_stats_schema_for_every_column_type(self, spark, tmp_path):
        """Every written table gets a schema and per-file stats. Bounds are
        kept only for plain integer columns: date, timestamp and decimal
        footer values (INT32/INT64 or INT96 underneath) do not round-trip
        through JSON, and must not fail the commit. A prune on the long
        column opens only the files whose bounds intersect the range."""
        store = IceLite(str(tmp_path / "t"))
        df = spark.range(0, 40, 1, 4).selectExpr(
            "id",
            "date'2020-01-01' + cast(id AS int) AS d",
            "timestamp'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
            "to_timestamp_ntz('2020-01-01') AS ntz",
            "cast(id AS decimal(10, 2)) AS dec",
            "cast(id AS decimal(20, 2)) AS wide_dec",
        )
        store.commit(tables={"t": df})
        snap = store.snapshot(0)
        assert snap["schemas"]["t"] == df.schema.json()
        stats = snap["stats"]["t"]
        assert len(stats) == 4 and sum(s["rows"] for s in stats.values()) == 40
        assert all(set(s["bounds"]) == {"id"} for s in stats.values())
        assert sorted(store.read(spark, "t").collect()) == sorted(df.collect())
        pruned = store.read(spark, "t", prune=("id", 12, 15))
        assert len(pruned.inputFiles()) == 1
        assert sorted(r.id for r in pruned.where("id BETWEEN 12 AND 15").collect()) == [12, 13, 14, 15]

    def test_old_stats_format_reads_unpruned(self, spark, tmp_path):
        """A manifest whose stats are in the older one-column
        ``{col, rows, min, max}`` form reads safely: prune keeps every
        file, and ``rows`` still sums."""
        import json

        from frontier_engine import frontier

        store = IceLite(str(tmp_path / "t"))
        store.commit(tables={}, append_tables={"frontier_known": spark.range(0, 9, 1, 3).toDF("url_hash")})
        path = store._meta_path(0)
        with open(path) as f:
            snap = json.load(f)
        snap["stats"]["frontier_known"] = {
            fp: {"col": "url_hash", "rows": s["rows"], "min": s["bounds"]["url_hash"][0],
                 "max": s["bounds"]["url_hash"][1]}
            for fp, s in snap["stats"]["frontier_known"].items()
        }
        del snap["schemas"]
        with open(path, "w") as f:
            json.dump(snap, f)
        assert len(store.read(spark, "frontier_known", prune=("url_hash", 0, 0)).inputFiles()) == 3
        assert frontier._known_rows(store.snapshot(0)) == 9

    def test_crash_before_commit_point_invisible(self, spark, tmp_path):
        store = IceLite(str(tmp_path / "t"))
        store.commit(tables={"t": spark.range(3)})
        # simulate a crash: snapshot file written but current.json not swapped
        df = spark.range(99)
        path = os.path.join(store.root, "data", "t", "snap-1")
        df.write.parquet(path)
        with open(store._meta_path(1) + ".tmp", "w") as f:
            f.write("{}")
        assert store.current_snapshot_id() == 0
        assert store.read(spark, "t").count() == 3


class TestMaintenanceAndPartitioning:
    def test_ensure_table(self, spark, tmp_path):
        from frontier_engine.icelite import ensure_table

        store = IceLite(str(tmp_path / "t"))
        ensure_table(store, spark, "docs", "idx_id string, title string")
        assert store.read(spark, "docs").count() == 0
        store.commit(tables={"docs": spark.createDataFrame([("a", "t")], "idx_id string, title string")},)
        ensure_table(store, spark, "docs", "idx_id string, title string")  # no-op
        assert store.read(spark, "docs").count() == 1

    def test_expire_snapshots(self, spark, tmp_path):
        import os

        from frontier_engine.icelite import expire_snapshots

        store = IceLite(str(tmp_path / "t"))
        paths = []
        for i in range(6):
            store.commit(tables={"v": spark.range(i + 1)})
            paths.append(store.snapshot(store.current_snapshot_id())["tables"]["v"])
        expired = expire_snapshots(store, keep_last=2)
        assert expired == [0, 1, 2, 3]
        assert not os.path.exists(paths[0]) and os.path.exists(paths[5])
        assert store.read(spark, "v").count() == 6  # current snapshot intact
