"""Frontier round-loop tests: growth, politeness, dedup, and the
kill/resume determinism gate (SURVEY.md §5.4, north_rule)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from frontier_engine import frontier, pipeline, synth
from frontier_engine.frontier import FrontierEngine

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def crawl_inputs(spark, pages_pdf):
    pages = spark.createDataFrame(pages_pdf)
    seeds = spark.createDataFrame(synth.generate_seeds(pages_pdf, n_seeds=40))
    robots = spark.createDataFrame(synth.generate_robots(pages_pdf))
    pages_prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
    pages_prepared.count()
    return pages, seeds, robots, pages_prepared


def _mk_engine(spark, tmp_path, name):
    return FrontierEngine(spark, str(tmp_path / name), n_shards=8, bloom_bits=1 << 16, budget=5)


def _schedule_list(engine):
    df = engine.schedule_table()
    return [
        (r.round, r.host, r.seq, r.url_norm, r.idx_id)
        for r in df.orderBy("round", "host", "seq").collect()
    ]


class TestFrontierRounds:
    @pytest.fixture(scope="class")
    def run3(self, spark, tmp_path_factory, crawl_inputs):
        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path_factory.mktemp("fr"), "a")
        eng.init(seeds, robots)
        counters = [eng.run_round(pages_prepared) for _ in range(3)]
        return eng, counters

    def test_counters_consistent(self, run3):
        _, counters = run3
        for c in counters:
            assert c["pending_in"] == (
                c["dup"] + c["skipped_robots"] + c["scheduled"] + c["skipped_budget"]
            ), c
            assert c["scheduled"] == c["fetched"] + c["missing"]

    def test_frontier_grows_and_dedups(self, run3):
        eng, counters = run3
        assert counters[0]["scheduled"] > 0
        assert counters[1]["discovered_new"] >= 0
        # a URL never appears twice in the whole schedule (seen-set works)
        sched = eng.schedule_table()
        assert sched.groupBy("url_norm").count().where("count > 1").count() == 0

    def test_budget_per_host_per_round(self, run3):
        eng, _ = run3
        over = (
            eng.schedule_table()
            .groupBy("round", "host")
            .count()
            .where(F.col("count") > 5)
        )
        assert over.count() == 0

    def test_robots_enforced(self, spark, run3, crawl_inputs):
        eng, _ = run3
        _, _, robots, _ = crawl_inputs
        # disallow-all hosts (kind==1 in synth) must never be scheduled
        blocked_hosts = [
            r.host for r in robots.collect() if "Disallow: /\n" in r.robots_txt
        ]
        assert blocked_hosts
        n = eng.schedule_table().where(F.col("host").isin(blocked_hosts)).count()
        assert n == 0

    def test_docs_written(self, spark, run3):
        eng, counters = run3
        payload = eng.store.read(spark, "payload_docs")
        assert payload is not None
        assert payload.count() == sum(c["docs_ok"] for c in counters)
        assert payload.select("idx_id").distinct().count() == payload.count()

    def test_state_writes_are_delta_not_crawl(self, spark, run3):
        """Scale gate: per-round frontier state write volume ∝ round delta,
        never ∝ total crawl size. The settled log and known set are
        append-only (each snapshot dir holds ONLY that round's rows); the
        only replaced table is the pending working set."""
        import os

        eng, counters = run3

        def snap_rows(table, snap_id):
            path = os.path.join(eng.store.root, "data", table, f"snap-{snap_id}")
            if not os.path.isdir(path):
                return None
            return spark.read.parquet(path).count()

        for c in counters:
            sid = c["round"] + 1  # snapshot 0 = init
            settled = c["fetched"] + c["missing"] + c["dup"] + c["skipped_robots"]
            assert snap_rows("frontier_log", sid) == settled
            assert snap_rows("frontier_known", sid) == c["discovered_new"]
            assert snap_rows("frontier_pending", sid) == c["pending_out"]
            # history is NEVER rewritten: no full-frontier file in any round
            # snapshot (the old design wrote pending+log+history here)
            assert snap_rows("frontier", sid) is None

    def test_round_delta_writes_are_sized(self, run3):
        """Partition-sizing gate: round-delta tables are coalesced to a
        counter-driven width before write (~64k rows/partition), so a
        small round writes a SINGLE parquet file per table — not one
        near-empty file per inherited upstream partition. (At large round
        sizes the same formula keeps >= cluster parallelism; this pins
        the small end, where per-file cost capped measured scaling.)"""
        import glob
        import os

        eng, counters = run3
        for c in counters:
            sid = c["round"] + 1  # snapshot 0 = init
            for table in ("frontier_log", "frontier_pending",
                          "schedule", "meta_docs", "payload_docs"):
                path = os.path.join(eng.store.root, "data", table, f"snap-{sid}")
                files = glob.glob(os.path.join(path, "*.parquet"))
                # every tiny-round delta (<64k rows) must land in ONE file
                assert len(files) == 1, (table, sid, len(files))

    def test_frontier_table_view(self, spark, run3):
        """pending ∪ log view is consistent with counters and has no
        duplicate settled rows."""
        eng, counters = run3
        ft = eng.frontier_table()
        last = counters[-1]
        n_settled = sum(
            c["fetched"] + c["missing"] + c["dup"] + c["skipped_robots"] for c in counters
        )
        assert ft.where(F.col("status") != "pending").count() == n_settled
        assert ft.where(F.col("status") == "pending").count() == last["pending_out"]
        # a url_hash settles at most once
        dup_settled = (
            ft.where(F.col("status") != "pending")
            .groupBy("url_hash").count().where("count > 1").count()
        )
        assert dup_settled == 0

    def test_known_set_bloom_lockstep(self, spark, run3):
        """Discovered-link dedup is bloom-prefiltered (VERDICT r4 item 4).
        Invariants: (a) no candidate is ever admitted twice — frontier_known
        stays globally duplicate-free; a bloom false NEGATIVE on the fresh
        path would re-admit a known URL and break this; (b) known_shards
        covers every known hash (every admitted delta was OR-merged in), so
        the prefilter can never lose a candidate."""
        from frontier_engine import urlseen

        eng, _ = run3
        known = eng.store.read(spark, "frontier_known")
        assert known.groupBy("url_hash").count().where("count > 1").count() == 0
        shards = eng.store.read(spark, "known_shards")
        assert shards is not None and shards.count() > 0
        marked = urlseen.mark_maybe_seen(known, shards, 8)
        assert marked.where(~F.col("maybe_seen")).count() == 0

    def test_file_stats_pruned_read(self, spark, run3):
        """IceLite manifests carry per-file min/max stats for round-keyed
        append tables (VERDICT r4 item 5): a pruned read OPENS only the
        qualifying files (asserted on inputFiles), and returns exactly the
        rows the equivalent full-scan filter returns."""
        import os

        eng, counters = run3
        k = counters[1]["round"]
        pruned = eng.store.read(spark, "frontier_log", prune=("round", k, k))
        full = eng.store.read(spark, "frontier_log")
        expect_dir = os.path.join(
            eng.store.root, "data", "frontier_log", f"snap-{k + 1}"
        )
        opened = [f.removeprefix("file://") for f in pruned.inputFiles()]
        assert opened and all(os.path.dirname(f) == expect_dir for f in opened)
        # three round snapshots, one (sized) file each: prune skips two
        assert len(opened) == 1 and len(full.inputFiles()) == 3
        assert pruned.count() == full.where(F.col("round") == k).count() > 0
        sp = eng.store.read(spark, "schedule", prune=("round", k, k))
        assert sp.count() == counters[1]["scheduled"]
        # out-of-range prune opens nothing but keeps the schema
        none = eng.store.read(spark, "frontier_log", prune=("round", 99, 99))
        assert none.count() == 0 and none.columns == full.columns

    def test_stats_survive_statless_writer_commit(self, spark, run3):
        """A commit by a second IceLite instance on the same store
        (ensure_table / streaming sink) carries the parent's file stats
        forward for live files instead of writing stats={} and silently
        disabling round pruning (ADVICE r5)."""
        from frontier_engine.icelite import IceLite, ensure_table

        eng, counters = run3
        before = eng.store.snapshot(eng.store.current_snapshot_id())["stats"]
        assert before.get("frontier_log")
        statless = IceLite(eng.store.root)  # a second writer on the store
        ensure_table(statless, spark, "side_table", "k long")
        after = statless.snapshot(statless.current_snapshot_id())["stats"]
        assert after.get("frontier_log") == before["frontier_log"]
        # pruning still works from the new snapshot
        k = counters[1]["round"]
        pruned = statless.read(spark, "frontier_log", prune=("round", k, k))
        assert len(pruned.inputFiles()) == 1

    def test_snapshots_record_trace(self, run3):
        """Every commit records its table-write wall in the manifest's
        trace, and every round also its phase walls, with no switch set."""
        eng, _ = run3
        snaps = eng.store.snapshots()
        rounds = [s for s in snaps if s["note"].startswith("round-")]
        assert snaps[0]["note"] == "init" and set(snaps[0]["trace"]) == {"write_s"}
        assert len(rounds) == 3
        for s in rounds:
            assert set(s["trace"]) == {"schedule_fetch_extract", "counters_lineage_job", "write_s"}
        assert all("write_s" in s["trace"] for s in snaps)
        assert all(v >= 0 for s in snaps for v in s["trace"].values())

    def test_every_table_has_schema_and_stats(self, run3):
        """Every snapshot records a schema and per-file stats for every
        table it lists, the carried ``robots`` included, and a carried
        table keeps its parent's entries."""
        eng, _ = run3
        snaps = eng.store.snapshots()
        for s in snaps:
            assert set(s["schemas"]) == set(s["tables"]) == set(s["stats"]), s["id"]
            for t, dirs in s["tables"].items():
                dirs = dirs if isinstance(dirs, list) else [dirs]
                assert {os.path.dirname(f) for f in s["stats"][t]} == set(dirs), (s["id"], t)
        rounds = [s for s in snaps if s["note"].startswith("round-")]
        for s in rounds:
            for key in ("tables", "schemas", "stats"):
                assert s[key]["robots"] == snaps[0][key]["robots"], (s["id"], key)
        # round-keyed tables carry per-file bounds of their round column
        last = snaps[-1]["stats"]
        assert all("round" in st["bounds"] for t in ("frontier_log", "schedule") for st in last[t].values())

    def test_round_start_reads_launch_no_job(self, spark, run3):
        """The manifest's schema spares each read its schema-inference job:
        reading the four tables a round opens with launches no Spark job."""
        eng, _ = run3
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        for t in ("frontier_pending", "frontier_known", "known_shards", "robots"):
            assert eng.store.read(spark, t) is not None
        assert set(tracker.getJobIdsForGroup(None)) == before

    def test_show_store_prints_round_rows(self, run3):
        """``tools/show_store.py`` prints each snapshot's note, counters,
        trace and files/rows per table from the manifest; the frontier_log
        rows each round wrote equal its settled counters."""
        import json
        import subprocess
        import sys

        eng, counters = run3
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "show_store.py"), eng.store.root],
            capture_output=True, text=True, timeout=60, check=True,
        ).stdout
        blocks: dict[int, dict] = {}
        for ln in out.splitlines():
            if ln.startswith("snapshot "):
                cur = blocks.setdefault(int(ln.split()[1]), {})
            else:
                key, val = ln.split(":", 1)
                cur[key.strip()] = val
        for c in counters:
            b = blocks[c["round"] + 1]  # snapshot 0 = init
            assert b["note"].strip() == f"round-{c['round']}"
            assert json.loads(b["counters"]) == c
            assert set(json.loads(b["trace"])) == {"schedule_fetch_extract", "counters_lineage_job", "write_s"}
            files, rows, new_rows = (int(x) for x in b["frontier_log"].split()[::2])
            assert (files, new_rows) == (c["round"] + 1, c["fetched"] + c["missing"] + c["skipped_robots"])

    def test_bloom_bits_not_multiple_of_8_rejected(self, spark, tmp_path):
        root = tmp_path / "bad_bits"
        with pytest.raises(ValueError, match="multiple of 8"):
            FrontierEngine(spark, str(root), n_shards=8, bloom_bits=1003, budget=5)
        assert not root.exists()

    def test_lineage_recorded(self, run3):
        eng, _ = run3
        snaps = eng.store.snapshots()
        rounds = [s for s in snaps if s["note"].startswith("round-")]
        assert all(len(s["lineage"]) > 0 for s in rounds if s["counters"]["scheduled"] > 0)
        assert all(
            sum(l["scheduled"] for l in s["lineage"]) == s["counters"]["scheduled"]
            for s in rounds
        )

    @pytest.fixture(scope="class")
    def run3_bloom(self, spark, tmp_path_factory, crawl_inputs, round_paths):
        """``run3`` with link discovery forced onto the sharded-bloom
        known-set filter (the gate dropped to 0 rows)."""
        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path_factory.mktemp("fr_bloom"), "b")
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(frontier, "_KNOWN_BROADCAST_ROWS", 0)
            calls, _ = round_paths(mp)
            eng.init(seeds, robots)
            counters = [eng.run_round(pages_prepared) for _ in range(3)]
        assert len(calls) == 3  # every round took the bloom path
        return eng, counters

    @pytest.mark.parametrize("regime", ["run3", "run3_bloom"])
    def test_pending_never_rescheduled_and_known(self, spark, request, regime):
        """Each URL enters pending once (after the anti join against the
        known set) and leaves it when scheduled, so after every round the
        pending set shares no url_hash with any schedule row so far, and
        every pending url_hash is in frontier_known."""
        eng, counters = request.getfixturevalue(regime)
        for c in counters:
            sid = c["round"] + 1  # snapshot 0 = init
            pending = eng.store.read(spark, "frontier_pending", snapshot_id=sid).select("url_hash")
            sched = eng.store.read(spark, "schedule", snapshot_id=sid).select(
                F.xxhash64("url_norm").alias("url_hash")
            )
            known = eng.store.read(spark, "frontier_known", snapshot_id=sid)
            assert pending.count() > 0 and sched.count() > 0, sid
            assert pending.join(sched, "url_hash", "left_semi").count() == 0, sid
            assert pending.join(known, "url_hash", "left_anti").count() == 0, sid

    def test_known_filter_regimes_agree(self, run3, run3_bloom):
        eng, counters = run3
        eng_bloom, counters_bloom = run3_bloom
        assert counters == counters_bloom
        assert _schedule_list(eng) == _schedule_list(eng_bloom)

    def test_known_rows_survive_ensure_table(self, spark, tmp_path, crawl_inputs, round_paths):
        """The known-set gate sums frontier_known's per-file row stats from
        the parent manifest. An ensure_table commit between rounds copies
        the counters but adds no known rows, so the sum stays exact and the
        broadcast anti join still runs."""
        from frontier_engine.icelite import IceLite, ensure_table

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path, "ensure")
        eng.init(seeds, robots)
        ensure_table(IceLite(eng.store.root), spark, "side_table", "k long")

        def known_rows_match():
            snap = eng.store.snapshot(eng.store.current_snapshot_id())
            return frontier._known_rows(snap) == eng.store.read(spark, "frontier_known").count()

        assert known_rows_match()
        with pytest.MonkeyPatch.context() as mp:
            bloom_calls, _ = round_paths(mp)
            eng.run_round(pages_prepared)
        assert bloom_calls == [] and known_rows_match()

    def test_store_without_known_stats_takes_bloom_path(self, spark, tmp_path, run3, crawl_inputs,
                                                        round_paths):
        """A store whose frontier_known files carry no row stats (written
        before every table had them; here the init manifest's entry is
        stripped) cannot size the gate, so link discovery takes the exact
        bloom path, with the same results."""
        import json

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path, "statless_known")
        path = eng.store._meta_path(eng.init(seeds, robots))
        with open(path) as f:
            snap = json.load(f)
        del snap["stats"]["frontier_known"]
        with open(path, "w") as f:
            json.dump(snap, f)
        with pytest.MonkeyPatch.context() as mp:
            calls, _ = round_paths(mp)
            counters = [eng.run_round(pages_prepared) for _ in range(2)]
        assert len(calls) == 2
        eng_clean, counters_clean = run3
        assert counters == counters_clean[:2]
        assert _schedule_list(eng) == [s for s in _schedule_list(eng_clean) if s[0] < 2]

    def test_counter_mismatch_raises_before_commit(self, spark, tmp_path, crawl_inputs):
        """A parent snapshot whose pending_out disagrees with its
        frontier_pending rows fails the counter check, and nothing is
        committed."""
        import json

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path, "bad_counters")
        sid = eng.init(seeds, robots)
        path = eng.store._meta_path(sid)
        with open(path) as f:
            snap = json.load(f)
        snap["counters"]["pending_out"] += 1
        with open(path, "w") as f:
            json.dump(snap, f)
        with pytest.raises(RuntimeError, match="skipped_budget"):
            eng.run_round(pages_prepared)
        assert eng.store.current_snapshot_id() == sid

    def test_failed_write_aborts_round_and_retry_matches(self, spark, tmp_path, run3, crawl_inputs):
        """A table write raising inside ``IceLite.commit``'s pool fails the
        round before its commit point: no thread pool or cached frame
        outlives it, no manifest is written, and a retry commits the same
        counters as a clean run."""
        import os
        import threading

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path, "failing_write")
        eng.init(seeds, robots)
        sid = eng.store.current_snapshot_id()
        real_write = eng.store.write_table

        def failing_write(name, df, snap_id):
            if name == "meta_docs":
                raise OSError("injected meta_docs write failure")
            return real_write(name, df, snap_id)

        threads_before = set(threading.enumerate())
        cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
        eng.store.write_table = failing_write
        with pytest.raises(OSError, match="injected"):
            eng.run_round(pages_prepared)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
        leaked = [
            t for t in threading.enumerate()
            if t not in threads_before and t.name.startswith("ThreadPoolExecutor")
        ]
        assert not leaked, leaked
        assert eng.store.current_snapshot_id() == sid
        assert sorted(os.listdir(os.path.join(eng.store.root, "metadata"))) == [
            "current.json", f"snap-{sid}.json",
        ]
        eng.store.write_table = real_write
        assert eng.run_round(pages_prepared) == run3[1][0]

    def test_robots_gate_runs_once_per_pending_row(self, spark, tmp_path, crawl_inputs):
        """The robots gate's output is evaluated once per round: the allowed
        and blocked branches both read one cached verdict, so the rule
        kernel sees each pending row once. A spy wraps ``robots_allowed`` in
        a pandas UDF that logs each batch's row count to a file (UDFs run
        in Python worker processes)."""
        from frontier_engine import politeness

        log = tmp_path / "gate_rows.txt"
        log.touch()
        real_gate = politeness.apply_robots_gate

        @F.pandas_udf("boolean")
        def count_rows(allowed: pd.Series) -> pd.Series:
            with open(log, "a") as f:
                f.write(f"{len(allowed)}\n")
            return allowed

        def gate_spy(candidates, robots):
            gated = real_gate(candidates, robots)
            return gated.withColumn(
                "robots_allowed", count_rows.asNondeterministic()(F.col("robots_allowed"))
            )

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path, "robots_once")
        eng.init(seeds, robots)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(politeness, "apply_robots_gate", gate_spy)
            counters = eng.run_round(pages_prepared)
        assert counters["skipped_robots"] > 0
        assert sum(int(n) for n in log.read_text().split()) == counters["pending_in"]

    def test_unresolvable_href_dropped_not_fatal(self, spark, tmp_path):
        """``urljoin`` raises on ``http://[::1/x`` ("Invalid IPv6 URL"). A
        fetched page linking to it still commits its round: the bad href is
        dropped and the page's valid link is admitted."""
        html = (
            "<html><head><title>t</title></head><body><p>" + "Some text. " * 50 + "</p>"
            '<a href="http://[::1/x">bad</a> <a href="/ok.html">ok</a></body></html>'
        ).encode()
        pages = spark.createDataFrame(pd.DataFrame(
            {"url": ["http://a.com/"], "warc_ts": [pd.Timestamp("2021-03-01")], "html": [html]}
        ))
        seeds = spark.createDataFrame(pd.DataFrame({"url": ["http://a.com/"], "priority": [1.0]}))
        robots = spark.createDataFrame(pd.DataFrame({"host": ["a.com"], "robots_txt": [""]}))
        eng = _mk_engine(spark, tmp_path, "bad_href")
        sid = eng.init(seeds, robots)
        counters = eng.run_round(pipeline.dedup_newest(pipeline.canonicalized(pages)))
        assert eng.store.current_snapshot_id() == sid + 1
        assert counters["fetched"] == 1 and counters["discovered_new"] == 1
        pending = [r.url_norm for r in eng.store.read(spark, "frontier_pending").collect()]
        assert pending == ["http://a.com/ok.html"]
        # dropping the nulls must not evaluate the resolve UDF a second time
        links = spark.createDataFrame([("http://a.com/", "/ok.html", 0.5)],
                                      "base_url string, url string, priority double")
        cand = frontier.candidates_from_urls(links, 1, "synth", resolve_base_col="base_url")
        assert cand._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython") == 1

    def test_unparseable_seed_dropped_at_admission(self, spark, tmp_path, pages_pdf):
        """``urlsplit`` rejects ``http://[::1/x`` ("Invalid IPv6 URL"), and so
        would the extraction kernel. A seed (and page) with that url is
        dropped at admission, so the round commits and the frontier holds
        no row for it."""
        bad, ok = "http://[::1/x", "http://a.com/"
        html = pages_pdf["html"].iloc[0]
        pages = spark.createDataFrame(pd.DataFrame(
            {"url": [bad, ok], "warc_ts": [pd.Timestamp("2021-03-01")] * 2, "html": [html, html]}
        ))
        seeds = spark.createDataFrame(pd.DataFrame({"url": [bad, ok], "priority": [1.0, 1.0]}))
        robots = spark.createDataFrame(pd.DataFrame({"host": ["a.com"], "robots_txt": [""]}))
        eng = _mk_engine(spark, tmp_path, "bad_seed")
        sid = eng.init(seeds, robots)
        counters = eng.run_round(pipeline.dedup_newest(pipeline.canonicalized(pages)))
        assert eng.store.current_snapshot_id() == sid + 1
        assert counters["pending_in"] == 1 and counters["fetched"] == 1
        urls = [r.url_norm for r in eng.frontier_table().collect()]
        assert ok in urls and not any("[" in u for u in urls)

    def test_stream_sink_keeps_frontier(self, spark, tmp_path, run3, crawl_inputs, pages_pdf):
        """A ``stream_to_icelite`` batch committed into an initialized
        frontier store keeps every frontier table and the counters, so the
        next round matches a clean engine's first round."""
        from frontier_engine import streaming

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path, "shared")
        eng.init(seeds, robots)
        init_tables = set(eng.store.snapshot(eng.store.current_snapshot_id())["tables"])
        src = str(tmp_path / "ingest_src")
        spark.createDataFrame(pages_pdf.head(20)[["url", "lang"]]).write.parquet(src)
        q = streaming.stream_to_icelite(
            spark.readStream.schema("url string, lang string").parquet(src),
            eng.store.root, "ingest", str(tmp_path / "ingest_ck"),
        )
        q.processAllAvailable()
        q.stop()
        snap = eng.store.snapshot(eng.store.current_snapshot_id())
        assert set(snap["tables"]) == init_tables | {"ingest"}
        assert eng.store.read(spark, "ingest").count() == 20
        counters = eng.run_round(pages_prepared)
        assert set(eng.store.snapshot(eng.store.current_snapshot_id())["tables"]) >= init_tables | {"ingest"}
        eng_clean, counters_clean = run3
        assert counters == counters_clean[0]
        assert _schedule_list(eng) == [s for s in _schedule_list(eng_clean) if s[0] == 0]

    def test_round_demo_releases_its_cache(self, spark):
        """The catalog's ``frontier_round_demo`` leaves no cached frame
        behind after an evaluation."""
        from frontier_engine import queries

        cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert queries.REGISTRY["frontier_round_demo"][0](spark, None).count() > 0
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before


class TestResumeDeterminism:
    def test_resume_identical_schedule(self, spark, tmp_path, crawl_inputs):
        """north_rule: killed job resumes mid-crawl with identical ordering.
        3 uninterrupted rounds ≡ 1 round + process restart + 2 rounds."""
        self._check_resume(spark, tmp_path, crawl_inputs)

    def test_resume_identical_schedule_bloom_shuffle(self, spark, tmp_path, crawl_inputs,
                                                     round_paths):
        """The same resume gate with both row gates at 0: bloom known-set
        filter and shuffle fetch join in every round."""
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(frontier, "_KNOWN_BROADCAST_ROWS", 0)
            mp.setattr(frontier, "_FETCH_BROADCAST_ROWS", 0)
            bloom_calls, fetch_hints = round_paths(mp)
            self._check_resume(spark, tmp_path, crawl_inputs)
        # 3 uninterrupted + 1 + 2 resumed rounds
        assert len(bloom_calls) == 6 and fetch_hints == [False] * 6

    @staticmethod
    def _check_resume(spark, tmp_path, crawl_inputs):
        _, seeds, robots, pages_prepared = crawl_inputs

        eng_a = _mk_engine(spark, tmp_path, "uninterrupted")
        eng_a.init(seeds, robots)
        for _ in range(3):
            eng_a.run_round(pages_prepared)

        eng_b1 = _mk_engine(spark, tmp_path, "resumed")
        eng_b1.init(seeds, robots)
        eng_b1.run_round(pages_prepared)
        del eng_b1  # "kill"
        eng_b2 = _mk_engine(spark, tmp_path, "resumed")  # fresh instance, same store
        assert eng_b2.initialized()
        for _ in range(2):
            eng_b2.run_round(pages_prepared)

        assert _schedule_list(eng_a) == _schedule_list(eng_b2)

    def test_rerun_byte_identical(self, spark, tmp_path, crawl_inputs):
        _, seeds, robots, pages_prepared = crawl_inputs
        lists = []
        for name in ("r1", "r2"):
            eng = _mk_engine(spark, tmp_path, name)
            eng.init(seeds, robots)
            eng.run_round(pages_prepared)
            eng.run_round(pages_prepared)
            lists.append(_schedule_list(eng))
        assert lists[0] == lists[1]

    @pytest.mark.parametrize("gates_at_zero", [False, True], ids=["default_gates", "gates_at_zero"])
    def test_sigkill_mid_commit_resumes_previous_snapshot(self, spark, tmp_path, crawl_inputs,
                                                          round_paths, gates_at_zero):
        """Chaos gate (VERDICT r3 item 7): SIGKILL BETWEEN a round-commit's
        parquet/manifest writes (all seven round tables) and the
        current.json rename (the commit point). The store must read back
        the PREVIOUS snapshot, the aborted snapshot's orphan files must be
        inert (and not block the re-commit of the same snapshot id), and the
        resumed crawl must match an uninterrupted control byte-for-byte.
        Runs with the default row gates and with both gates at 0 (bloom
        known-set filter and shuffle fetch join in every round)."""
        import os
        import signal
        import subprocess
        import sys

        store = str(tmp_path / "chaos")
        code = f"""
import json, os, signal, sys
sys.path.insert(0, {ROOT!r})
real_rename = os.rename
def hook(src, dst):
    # kill exactly when snapshot 2's commit point is about to land —
    # after its parquet + manifest writes, before current.json flips
    if os.path.basename(dst) == "current.json":
        with open(src) as f:
            if json.load(f)["current"] == 2:
                os.kill(os.getpid(), signal.SIGKILL)
    real_rename(src, dst)
os.rename = hook
from frontier_engine.session import get_spark
from frontier_engine import frontier, pipeline, synth, urlseen
from frontier_engine.frontier import FrontierEngine
if {gates_at_zero!r}:
    frontier._KNOWN_BROADCAST_ROWS = frontier._FETCH_BROADCAST_ROWS = 0
real_filter = urlseen.filter_unseen
def filter_spy(*a, **k):
    print("BLOOM_FILTER", flush=True)
    return real_filter(*a, **k)
urlseen.filter_unseen = filter_spy
spark = get_spark(cores=4, driver_memory="4g", app="chaos")
pdf = synth.generate_pages(n_pages=300, seed=42, n_hosts=40)
pages = spark.createDataFrame(pdf)
eng = FrontierEngine(spark, {store!r}, n_shards=8, bloom_bits=1 << 16, budget=5)
eng.init(spark.createDataFrame(synth.generate_seeds(pdf, n_seeds=40)),
         spark.createDataFrame(synth.generate_robots(pdf)))
prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
eng.run_round(prepared)
eng.run_round(prepared)   # SIGKILL fires inside this round's commit
print("UNREACHABLE")
"""
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=500
        )
        assert out.returncode == -signal.SIGKILL, (
            out.returncode, out.stdout[-500:], out.stderr[-1500:],
        )
        assert "UNREACHABLE" not in out.stdout
        # the killed process took the forced path in both of its rounds
        assert out.stdout.count("BLOOM_FILTER") == (2 if gates_at_zero else 0), out.stdout[-500:]

        from frontier_engine.icelite import IceLite

        assert IceLite(store).current_snapshot_id() == 1  # snap 2 never landed

        _, seeds, robots, pages_prepared = crawl_inputs
        with pytest.MonkeyPatch.context() as mp:
            if gates_at_zero:
                mp.setattr(frontier, "_KNOWN_BROADCAST_ROWS", 0)
                mp.setattr(frontier, "_FETCH_BROADCAST_ROWS", 0)
            bloom_calls, fetch_hints = round_paths(mp)
            eng_res = FrontierEngine(spark, store, n_shards=8, bloom_bits=1 << 16, budget=5)
            assert eng_res.initialized()
            eng_res.run_round(pages_prepared)  # re-does the killed round 2
            eng_res.run_round(pages_prepared)

            eng_ctl = _mk_engine(spark, tmp_path, "chaos_control")
            eng_ctl.init(seeds, robots)
            for _ in range(3):
                eng_ctl.run_round(pages_prepared)
        # 2 resumed + 3 control rounds
        assert len(bloom_calls) == (5 if gates_at_zero else 0)
        assert fetch_hints == [not gates_at_zero] * 5
        assert _schedule_list(eng_res) == _schedule_list(eng_ctl)
