"""Frontier round-loop tests: growth, politeness, dedup, and the
kill/resume determinism gate (SURVEY.md §5.4, north_rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frontier_engine import frontier, pipeline, synth
from frontier_engine.frontier import FrontierEngine


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
        """A commit by an IceLite instance constructed WITHOUT stats_columns
        (ensure_table / streaming sink on the same store) must carry the
        parent's file stats forward for live files instead of writing
        stats={} and silently disabling round pruning (ADVICE r5)."""
        from frontier_engine.icelite import IceLite, ensure_table

        eng, counters = run3
        before = eng.store.snapshot(eng.store.current_snapshot_id())["stats"]
        assert before.get("frontier_log")
        statless = IceLite(eng.store.root)  # no stats_columns declared
        ensure_table(statless, spark, "side_table", "k long")
        after = statless.snapshot(statless.current_snapshot_id())["stats"]
        assert after.get("frontier_log") == before["frontier_log"]
        # pruning still works from the new snapshot
        k = counters[1]["round"]
        pruned = statless.read(spark, "frontier_log", prune=("round", k, k))
        assert len(pruned.inputFiles()) == 1

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
    def run3_bloom(self, spark, tmp_path_factory, crawl_inputs):
        """``run3`` with link discovery forced onto the sharded-bloom
        known-set filter (the gate dropped to 0 rows)."""
        from frontier_engine import urlseen

        _, seeds, robots, pages_prepared = crawl_inputs
        eng = _mk_engine(spark, tmp_path_factory.mktemp("fr_bloom"), "b")
        calls = []
        real_filter = urlseen.filter_unseen

        def counting_filter(*args, **kwargs):
            calls.append(1)
            return real_filter(*args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(frontier, "_KNOWN_BROADCAST_ROWS", 0)
            mp.setattr(urlseen, "filter_unseen", counting_filter)
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

    def test_prewrite_timings_cleared_after_commit(self, spark, run3):
        """A commit without prewrites reports only its own writes, never
        the previous round's prewritten tables."""
        from frontier_engine.icelite import ensure_table

        eng, _ = run3
        ensure_table(eng.store, spark, "side_table_timed", "k long")
        assert set(eng.store.last_write_secs) == {"side_table_timed"}

    def test_failed_write_aborts_round_and_retry_matches(self, spark, tmp_path, run3, crawl_inputs):
        """A raising table write fails the round before its commit point,
        shuts down the round's thread pool, and a retry commits the same
        counters as a clean run."""
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
        eng.store.write_table = failing_write
        with pytest.raises(OSError, match="injected"):
            eng.run_round(pages_prepared)
        leaked = [
            t for t in threading.enumerate()
            if t not in threads_before and t.name.startswith("ThreadPoolExecutor")
        ]
        assert not leaked, leaked
        assert eng.store.current_snapshot_id() == sid
        eng.store.write_table = real_write
        assert eng.run_round(pages_prepared) == run3[1][0]


class TestResumeDeterminism:
    def test_resume_identical_schedule(self, spark, tmp_path, crawl_inputs):
        """north_rule: killed job resumes mid-crawl with identical ordering.
        3 uninterrupted rounds ≡ 1 round + process restart + 2 rounds."""
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

    def test_sigkill_mid_commit_resumes_previous_snapshot(self, spark, tmp_path, crawl_inputs):
        """Chaos gate (VERDICT r3 item 7): SIGKILL BETWEEN a round-commit's
        parquet/manifest writes and the current.json rename (the commit
        point, icelite.py:148-151). The store must read back the PREVIOUS
        snapshot, the aborted snapshot's orphan files must be inert (and
        not block the re-commit of the same snapshot id), and the resumed
        crawl must match an uninterrupted control byte-for-byte."""
        import signal
        import subprocess
        import sys

        store = str(tmp_path / "chaos")
        code = f"""
import json, os, signal, sys
sys.path.insert(0, "/root/repo")
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
from frontier_engine import pipeline, synth
from frontier_engine.frontier import FrontierEngine
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

        from frontier_engine.icelite import IceLite

        assert IceLite(store).current_snapshot_id() == 1  # snap 2 never landed

        _, seeds, robots, pages_prepared = crawl_inputs
        eng_res = FrontierEngine(spark, store, n_shards=8, bloom_bits=1 << 16, budget=5)
        assert eng_res.initialized()
        eng_res.run_round(pages_prepared)  # re-does the killed round 2
        eng_res.run_round(pages_prepared)

        eng_ctl = _mk_engine(spark, tmp_path, "chaos_control")
        eng_ctl.init(seeds, robots)
        for _ in range(3):
            eng_ctl.run_round(pages_prepared)
        assert _schedule_list(eng_res) == _schedule_list(eng_ctl)
