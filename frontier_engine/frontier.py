"""The crawl-frontier engine: iterative rounds with snapshot checkpoints.

Each round (north_rule pipeline):

  pending candidates ──canonicalized at ingest, admitted once──▶
    1. membership        none at round start: pending is never re-filtered
    2. robots gate       broadcast join + rule kernel     (politeness.py)
    3. schedule          per-host PQ, budget-capped        (politeness.py)
    4. "fetch"           equi join against the pages table (keep-newest)
    5. process           extraction pipeline               (pipeline.py)
    6. discover          links → canonicalize → known-set bloom prefilter
                         + exact left_anti → new pending candidates
    7. commit            IceLite snapshot: pending/known-bloom replaced,
                         settled-log/known/schedule/meta/payload APPENDED,
                         counters + per-partition lineage in the manifest
                         (icelite.py)

Why step 1 is empty: frontier_known is the one URL-seen set. A URL enters
pending only through step 6's anti join against it (or as a seed, which
init also records there), and it leaves pending in the round that settles
it. So pending never holds a URL that was scheduled before, and a second
filter at round start could never remove a row (the ``dup`` counter stays
0 for that reason).

State layout (write volume ∝ round delta, never ∝ crawl size):
  frontier_pending  REPLACED  the working set (grows/shrinks with the crawl
                              wave — the only full rewrite, and it IS the
                              active state, not history)
  frontier_log      APPEND    settled rows (fetched/missing/blocked) from
                              this round only
  frontier_known    APPEND    url_hash of every candidate ever admitted —
                              the URL-seen set (8 B/row)
  known_shards      REPLACED  bloom shards over frontier_known (urlseen.py)
A full historical frontier view is ``frontier_table()`` = pending ∪ log.

Determinism: candidate identity is idx_id = index_uuid(round-millis,
url-derived offset, url-derived source file, webis_uuid(url_norm)) — the
reference's identity scheme (process.py:319-374) applied to frontier rows;
schedules order by (priority DESC, idx_id ASC) per host. A killed job
resumes from the last committed snapshot with an identical schedule
(tests/test_frontier.py::test_resume_determinism).

Scale: the only frontier-wide shuffles are the known-set anti join (bloom-
pruned to its maybe-member survivors) and the per-host window/groupBy; the
pages fetch join is an equi join on url_norm that AQE turns into a broadcast
when the scheduled set is small.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from frontier_engine import pipeline, politeness, urlseen
from frontier_engine.icelite import IceLite
from frontier_engine.identity import index_uuid, webis_uuid
from frontier_engine.oracle import derive_source
from frontier_engine.urlnorm import canonicalize_series, host_series

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("status", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("idx_id", T.StringType(), False),
    ]
)

PRIORITY_DECAY = 0.5
# Known-set sizes up to this many rows take the broadcast anti join at link
# discovery; larger sets take the sharded-bloom prefilter + exact anti join.
_KNOWN_BROADCAST_ROWS = 1_000_000


def candidates_from_urls(df: DataFrame, round_no: int, id_prefix: str,
                         priority_col: str = "priority",
                         resolve_base_col: str | None = None) -> DataFrame:
    """urls (+priority) → frontier rows (canonicalized, hashed, identified).

    ONE Arrow stage total (r6): (resolve+)canonicalize AND the (host,
    idx_id) kernel run in a single pandas UDF before the dedup shuffle.
    The r5 shape split them — canonicalize pre-shuffle, host/idx_id
    post-dedup — to avoid identifying duplicate spellings twice, but each
    python stage is a fixed JVM↔worker round trip per round and duplicate
    spellings are a small fraction of discovered links, so the extra
    kernel work on dups is far cheaper than a whole extra stage (guide
    §4.1: you control how many times data crosses the boundary). host and
    idx_id are pure functions of url_norm (+round), so ``any_value`` over
    the url_norm group is deterministic in value.

    ``resolve_base_col``: if set, ``url`` holds raw hrefs resolved against
    this base-URL column first (link discovery path).
    """

    def _identify(urls_norm: pd.Series) -> pd.DataFrame:
        ids = []
        for u in urls_norm:
            src, off = derive_source(u)
            ids.append(index_uuid(round_no * 1000, off, src, webis_uuid(id_prefix, u)))
        return pd.DataFrame(
            {"url_norm": urls_norm, "host": host_series(urls_norm), "idx_id": ids}
        )

    if resolve_base_col:

        @F.pandas_udf("url_norm string, host string, idx_id string")
        def _canon_id(base: pd.Series, href: pd.Series) -> pd.DataFrame:
            from urllib.parse import urljoin

            resolved = pd.Series(
                [urljoin(b, h) if (b is not None and h is not None) else None for b, h in zip(base, href)],
                index=href.index, dtype="object",
            )
            return _identify(canonicalize_series(resolved))

        canon_col = _canon_id(F.col(resolve_base_col), F.col("url"))
    else:

        @F.pandas_udf("url_norm string, host string, idx_id string")
        def _canon_id(urls: pd.Series) -> pd.DataFrame:
            return _identify(canonicalize_series(urls))

        canon_col = _canon_id(F.col("url"))

    out = (
        df.withColumn("_ci", canon_col)
        .withColumn("priority", F.coalesce(F.col(priority_col).cast("double"), F.lit(0.5)))
        # duplicate spellings of one page collapse here; keep max priority
        # (host/idx_id are url_norm-determined → any_value is exact)
        .groupBy(F.col("_ci.url_norm").alias("url_norm"))
        .agg(
            F.max("priority").alias("priority"),
            F.any_value(F.col("_ci.host")).alias("host"),
            F.any_value(F.col("_ci.idx_id")).alias("idx_id"),
        )
        .withColumn("url_hash", F.xxhash64(F.col("url_norm")))
        .withColumn("status", F.lit("pending"))
        .withColumn("round", F.lit(round_no).cast("int"))
    )
    return out.select([f.name for f in FRONTIER_SCHEMA.fields])


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        id_prefix: str = "synth",
        n_shards: int = 64,
        bloom_bits: int = 1 << 20,
        budget: int = politeness.DEFAULT_BUDGET,
        broadcast_row_limit: int = 8_000_000,
    ):
        self.spark = spark
        # round-keyed append tables declare file stats so readers prune to
        # the rounds they want (Iceberg manifest min/max semantics)
        self.store = IceLite(
            store_root,
            stats_columns={"frontier_log": "round", "schedule": "round"},
        )
        self.id_prefix = id_prefix
        self.n_shards = n_shards
        self.bloom_bits = bloom_bits
        self.budget = budget
        # ~120 B/row of (url_norm, host, 4 scalars) → ≈1 GB at the limit,
        # safely under Spark's 8 GB broadcast ceiling / driver heap
        self.broadcast_row_limit = broadcast_row_limit

    # ------------------------------------------------------------- state

    def initialized(self) -> bool:
        return self.store.current_snapshot_id() is not None

    def init(self, seeds: DataFrame, robots: DataFrame) -> int:
        """Snapshot 0: seeded pending set + known hashes (+ their bloom
        shards) + robots."""
        frontier = candidates_from_urls(seeds, round_no=0, id_prefix=self.id_prefix).persist()
        n = frontier.count()
        sid = self.store.commit(
            tables={
                "frontier_pending": frontier,
                "known_shards": urlseen.build_shards(
                    frontier.select("url_hash"), self.n_shards, self.bloom_bits
                ),
                "robots": robots,
            },
            append_tables={"frontier_known": frontier.select("url_hash")},
            counters={"round": -1, "seeded": n, "pending_out": n, "seen_total": 0},
            note="init",
        )
        frontier.unpersist()
        return sid

    def _read(self, table: str) -> Optional[DataFrame]:
        return self.store.read(self.spark, table)

    # ------------------------------------------------------------- round

    def run_round(self, pages_prepared: DataFrame, round_seconds: int = politeness.ROUND_SECONDS) -> dict:
        """One frontier round against a prepared pages table
        (``pipeline.canonicalized`` + ``pipeline.dedup_newest`` applied).
        Returns the committed counters."""
        spark = self.spark
        prev_counters = self.store.snapshot(self.store.current_snapshot_id())["counters"]
        round_no = prev_counters.get("round", -1) + 1
        # carried from the parent snapshot — no count() job needed
        n_pending_in = prev_counters["pending_out"]
        seen_total = prev_counters.get("seen_total", 0)

        # 1. membership: none needed here. A URL enters pending only through
        # the anti join against frontier_known (step 6) and leaves it when it
        # settles, so pending never holds a URL that was already scheduled.
        pending = self._read("frontier_pending").persist()
        known = self._read("frontier_known")
        known_shards = self._read("known_shards")
        robots = self._read("robots")

        # 2. robots gate
        gated = politeness.apply_robots_gate(pending, robots)
        allowed = gated.where(F.col("robots_allowed"))
        blocked = gated.where(~F.col("robots_allowed"))

        # 3. per-host PQ schedule
        sched_all = politeness.schedule_hosts(allowed, budget=self.budget, round_seconds=round_seconds).persist()
        scheduled = sched_all.where(F.col("scheduled"))

        # 4. fetch: equi join on url_norm against keep-newest pages. The
        # scheduled side is budget-bounded (≤ budget × hosts rows of a few
        # small columns) — broadcast it so the html-heavy pages side NEVER
        # shuffles: it streams straight from its cached partitions. The
        # broadcast is CONDITIONAL, decided from the PARENT SNAPSHOT's
        # pending_out counter (scheduled ⊆ pending, so pending_in is a free
        # upper bound — no count() job, no extra round barrier): above
        # ``broadcast_row_limit`` candidate rows the hint could exceed
        # driver/broadcast limits, so fall back to a shuffle join and let
        # AQE pick the strategy. At 10^10 scale the fallback is a bucketed
        # shuffle-hash join on url_norm (pages bucketed at write time).
        fetch_cols = ["url_norm", "url_hash", "host", "priority", "idx_id", "seq"]
        sched_small = scheduled.select(*fetch_cols)
        use_broadcast = n_pending_in <= self.broadcast_row_limit
        if not use_broadcast:
            # pending_in is only an upper bound: the schedule itself is
            # budget-bounded (≤ budget × hosts) and typically tiny even
            # when the frontier is huge — exactly the regime the broadcast
            # was built for. One count() on the already-persisted schedule
            # decides precisely (and eagerly materializes the cache the
            # fetch join reuses).
            use_broadcast = scheduled.count() <= self.broadcast_row_limit
        if use_broadcast:
            sched_small = F.broadcast(sched_small)
        # NOT persisted: ``html`` flows through this frame exactly once, into
        # the extraction UDF. Caching it here paid a second columnar encode
        # of every fetched page's html per round — pure memory-subsystem
        # traffic (the scarce resource at both 100 TB and on this host).
        # Fetched-key reuses (status marks, missing anti join) read the
        # html-free ``proc`` cache below instead.
        fetched_rows = sched_small.join(
            pages_prepared.select("url_norm", "url", "warc_ts", "html"), "url_norm", "inner"
        )

        import os
        import time as _time

        timing_on = os.environ.get("FRONTIER_TIMING")
        phases: dict[str, float] = {}

        def _mark(name: str, t0: float) -> float:
            t = _time.perf_counter()
            phases[name] = round(t - t0, 2)
            return t

        _t = _time.perf_counter()

        if os.environ.get("FRONTIER_PROFILE"):
            # Diagnostic sub-phase attribution (opt-in: the staged counts
            # add actions, slightly distorting the fused-phase number, so
            # never on in the headline protocol). Each frame is persisted
            # anyway — the staged count materializes the same cache the
            # fused action would have built, splitting the lazy chain at
            # its shuffle barriers.
            sched_all.count()
            _t = _mark("p_robots_schedule", _t)

        # 5. process fetched pages (extraction pipeline; idx_id from page
        # identity). In the broadcast-fetch regime the join output inherits
        # the pages scan/cache partitioning — hash-random in url space, so
        # host-skew-free by construction — and scan, broadcast probe and
        # extraction UDF fuse into ONE stage with no shuffle touching html.
        # Only the shuffle-join fallback (frontier too big to bound the
        # schedule) still salts: there the exchange exists anyway, and hot
        # hosts would otherwise concentrate in single post-shuffle tasks.
        # ``html`` is dropped BEFORE the persist: downstream consumers
        # (marks, links, counters, meta/payload projections) never read it,
        # so caching it would pay a columnar encode per round for bytes
        # nobody decodes — and proc is the ONLY per-round cache of fetched
        # pages (the join output itself is deliberately unpersisted above).
        n_part = spark.sparkContext.defaultParallelism * 2
        proc = pipeline.processed(
            fetched_rows,
            id_prefix=self.id_prefix,
            repartition_to=None if use_broadcast else n_part,
        ).drop("html").persist()
        # materialize the extraction cache BEFORE the fused counters job:
        # its tagged-union branches (new_frontier via discovered links, and
        # the docs branch) both read proc, and concurrent branches of one
        # job would otherwise compute the heavy UDF twice in parallel.
        proc.count()
        _t = _mark("schedule_fetch_extract", _t)
        missing = scheduled.select("url_norm", "url_hash", "host", "priority", "idx_id").join(
            proc.select("url_norm"), "url_norm", "left_anti"
        )

        # Counter-driven partition sizing for round-delta WRITES (no
        # count() job — the parent snapshot's pending_out bounds settled ∪
        # leftover, and scheduled/fetched/meta/payload are budget-bounded
        # subsets of it). The deltas are unions/projections of upstream
        # caches and would otherwise inherit the SUM of their parents'
        # partition counts — dozens of near-empty parquet files per commit,
        # a fixed per-round cost that caps small-round scaling.
        #
        # CRITICAL placement rule, measured the hard way: coalesce ONLY on
        # the write side of a persist boundary (or on pure projections of
        # a cache), never upstream of real compute. coalesce() propagates
        # through narrow chains, and when AQE broadcasts the small side of
        # an anti join the whole chain above it becomes narrow — a
        # pre-persist coalesce(1) then serializes the anti join, the cache
        # scans, even the link-canonicalize Arrow UDF into one task
        # (measured: 10-16 s fused counters job degrading to 62-86 s,
        # intermittent with AQE's runtime broadcast decision). At 10^10
        # round sizes the same formula yields ≥ cluster parallelism, so
        # the write files stay right-sized either way.
        def _sized(df: DataFrame, est_rows: int = n_pending_in,
                   rows_per_part: int = 65536) -> DataFrame:
            # CONTRACT: call only on persisted-and-materialized frames or
            # pure projections of them. df.rdd below compiles a physical
            # plan (and under AQE can eagerly materialize shuffle stages);
            # it is cheap here only because every input is a narrow view of
            # an already-materialized cache (ADVICE r5).
            target = int(min(max(1, est_rows // rows_per_part + 1), n_part))
            # coalesce merges by PULLING sibling partitions into the
            # surviving tasks — on multi-JVM executors that is remote
            # block fetch of the whole frame. Worth it when it collapses
            # dozens of near-empty files into a few; NOT worth it when the
            # frame already sits near the target (measured: the payload
            # write's 15→12 merge cost 15.2 s at 16 one-core executors vs
            # 6.9 s at 4 — cross-executor traffic for a 20 % file-count
            # trim). Skip unless the merge at least halves the file count
            # (tiny rounds: any cur ≥ 2 with target 1 still collapses to
            # one file — the sized-write gate in test_frontier.py holds).
            cur = df.rdd.getNumPartitions()
            if cur < 2 * target:
                return df
            return df.coalesce(target)

        # meta/payload are write-only pure projections of the materialized
        # proc cache — coalescing them merges cached partitions, no
        # recompute; coalesce BEFORE sortWithinPartitions preserves the
        # sink's per-partition ordering. Their rows are WIDE (payload
        # carries body + full_body, ~tens of KB/row), so the sizing target
        # is byte-informed: 64k wide rows in one file is a ~GB single-task
        # parquet encode that serializes the commit (measured 81 s at
        # local[4]); 8k rows/file lands in the 100-250 MB lake sweet spot.
        meta = _sized(pipeline.meta_docs(proc), rows_per_part=16384).sortWithinPartitions("idx_id")
        payload = _sized(pipeline.payload_docs(proc), rows_per_part=8192).sortWithinPartitions("idx_id")

        # 6. discover links → next round's pending candidates (resolve +
        # canonicalize fused into one Arrow stage)
        links = (
            proc.select(
                (F.col("priority") * PRIORITY_DECAY).alias("priority"),
                F.col("url").alias("base_url"),
                F.explode_outer(F.col("doc.links")).alias("url"),
            )
            .where(F.col("url").isNotNull())
        )
        discovered = candidates_from_urls(
            links,
            round_no=round_no + 1,
            id_prefix=self.id_prefix,
            resolve_base_col="base_url",
        )

        # 7. new state — O(round delta) writes: settled rows APPEND to the
        # status log, newly-admitted hashes APPEND to the known set, and only
        # the pending working set (which shrinks as the wave settles) is
        # replaced. History is never rewritten. Persists keep NATURAL
        # parallelism (the fused counters job materializes them); the
        # commit below writes `_sized(...)` views of the caches.
        mark = lambda df, status: df.select(
            "url_norm", "url_hash", "host", "priority",
            F.lit(status).alias("status"), F.lit(round_no).cast("int").alias("round"), "idx_id",
        )
        settled_delta = (
            mark(proc, "fetched")
            .unionByName(mark(missing, "missing"))
            .unionByName(mark(blocked, "skipped_robots"))
        ).persist()
        # not scheduled this round → stays pending (budget carry-over);
        # one anti join against the union of settled keys
        settled_keys = scheduled.select("url_hash").unionByName(blocked.select("url_hash"))
        leftover = pending.join(settled_keys, "url_hash", "left_anti").select(
            [f.name for f in FRONTIER_SCHEMA.fields]
        )
        # anti vs known only: every url_hash ever admitted (pending at any
        # point) is in frontier_known — 8 B/row. Bloom-PREFILTERED (the
        # bloom prunes the definitely-unknown majority, only maybe-known rows
        # reach the exact left_anti). Without this, the append-only known
        # table — ~80 GB of hashes at 10^10 URLs — shuffles in full every round;
        # with it the exact join input is ≈ |discovered ∩ known| + FPR·rest.
        # r6: while the known set is still broadcast-sized (~16 B/hash;
        # known_total is the exact append count summed from snapshot
        # counters — no job), a broadcast hash anti join beats the bloom
        # mark + exact anti outright: the bloom exists to prune a SHUFFLE
        # the broadcast regime never pays.
        # known_shards is None only for stores created before this table
        # existed — fall back to the plain exact anti join there.
        known_total = sum(
            s.get("counters", {}).get("seeded", 0)
            + s.get("counters", {}).get("discovered_new", 0)
            for s in self.store.snapshots()
        )
        if known_total <= _KNOWN_BROADCAST_ROWS:
            new_pending = discovered.join(
                F.broadcast(known.select("url_hash")), "url_hash", "left_anti"
            )
        elif known_shards is not None:
            new_pending = urlseen.filter_unseen(
                discovered, known_shards, known, self.n_shards
            )
        else:
            new_pending = discovered.join(known.select("url_hash"), "url_hash", "left_anti")
        pending_new = leftover.unionByName(new_pending).persist()
        # known-set bloom kept in lockstep: this round's newly-admitted
        # hashes (round == round_no+1 rows of the pending cache — the same
        # cache-read trick as the frontier_known delta below) OR-merge into
        # known_shards, so next round's discovered-link prefilter covers
        # every admitted URL. Exactness is unaffected by bloom saturation
        # (false positives only add rows to the exact join). FUSED
        # build+merge (extend_shards): one shuffle + one pandas stage instead
        # of build → bitmap-shuffle → merge (bit-identical, property-tested).
        if known_shards is not None:
            new_known_shards = urlseen.extend_shards(
                known_shards,
                pending_new.where(F.col("round") == round_no + 1).select("url_hash"),
                self.n_shards,
                self.bloom_bits,
            )
        else:
            new_known_shards = None

        # Overlap independent writes with the counters job (guide §2.6):
        # meta/payload are pure projections of the proc cache — materialized
        # by the proc job above and UNTOUCHED by the counters job below, so
        # their commit writes can run on driver threads while the counters
        # job computes. Their _sized targets never depended on the exact
        # counters (they size off the parent-snapshot pending_out bound), so
        # the written files are byte-identical to in-commit writes; the
        # commit manifests the prewritten paths exactly as its own. A failure
        # surfaces at fut.result() and aborts before the commit point
        # (orphans inert); leaving the block waits for every other future,
        # so no write or aggregation outlives a failed round.
        from concurrent.futures import ThreadPoolExecutor

        next_sid = self.store.next_snapshot_id()
        with ThreadPoolExecutor(max_workers=6) as early_pool:
            early_futs = {
                name: early_pool.submit(self.store.write_table, name, df, next_sid)
                for name, df in (("meta_docs", meta), ("payload_docs", payload))
            }

            if os.environ.get("FRONTIER_PROFILE"):
                # split the counters job's inputs (opt-in, distorts the fused
                # numbers): settled materialization vs the link-discovery UDF
                # chain behind pending_new, measured sequentially
                settled_delta.count()
                _t = _mark("p_settled_materialize", _t)
                pending_new.count()
                _t = _mark("p_pending_links_udf", _t)
            # ALL round metrics via four CONCURRENT per-frame aggregations in
            # the same pool as the early writes (guide §2.6) — the
            # Metrics.counter analog, process.py:120. The settled/pending aggs
            # double as the materialization of those caches (a groupBy over
            # an unmaterialized persisted frame computes and caches every
            # partition, exactly like the count() it replaces); the
            # scheduled/proc aggs read caches the fused job above already
            # materialized. Running the four small aggs concurrently folds
            # the whole counters wall into the materialization window. Keys
            # never collide across the two status frames (settled statuses ≠
            # 'pending').
            s_fut = early_pool.submit(
                lambda: settled_delta.groupBy("status", "round").agg(F.count(F.lit(1)).alias("n")).collect()
            )
            p_fut = early_pool.submit(
                lambda: pending_new.groupBy("status", "round").agg(F.count(F.lit(1)).alias("n")).collect()
            )
            shard_fut = early_pool.submit(
                lambda: scheduled.groupBy(
                    urlseen.shard_of(F.col("url_hash"), self.n_shards).alias("shard_id")
                ).agg(F.count(F.lit(1)).alias("n")).collect()
            )
            docs_fut = early_pool.submit(
                lambda: proc.groupBy(F.col("doc.skip_reason").alias("reason"))
                .agg(F.count(F.lit(1)).alias("n")).collect()
            )
            status_counts = {
                (r["status"], int(r["round"])): r["n"] for r in s_fut.result() + p_fut.result()
            }
            n_docs_ok = sum(r["n"] for r in docs_fut.result() if r["reason"] == "")
            lineage = sorted(
                ({"shard_id": int(r["shard_id"]), "scheduled": r["n"]} for r in shard_fut.result()),
                key=lambda d: d["shard_id"],
            )
            _t = _mark("counters_lineage_job", _t)
            # join the overlapped writes before the commit point; a failed
            # early write raises here and aborts
            prewritten = {name: (fut.result(), True) for name, fut in early_futs.items()}

        n_fetched = status_counts.get(("fetched", round_no), 0)
        n_missing = status_counts.get(("missing", round_no), 0)
        n_blocked = status_counts.get(("skipped_robots", round_no), 0)
        n_scheduled = n_fetched + n_missing
        counters = {
            "round": round_no,
            "pending_in": n_pending_in,
            # pending never holds an already-scheduled URL (step 1), so no
            # candidate settles as a duplicate; kept for the counter schema
            "dup": 0,
            "skipped_robots": n_blocked,
            "skipped_budget": n_pending_in - n_blocked - n_scheduled,
            "scheduled": n_scheduled,
            "fetched": n_fetched,
            "missing": n_missing,
            "docs_ok": n_docs_ok,
            "discovered_new": status_counts.get(("pending", round_no + 1), 0),
        }
        counters["pending_out"] = counters["skipped_budget"] + counters["discovered_new"]
        counters["seen_total"] = seen_total + n_scheduled
        # Delta sizing uses the EXACT per-frame counts the fused counters
        # job just computed — not the n_pending_in upper bound, which for
        # the budget-bounded frames (schedule: ≤ budget × hosts; known
        # delta: discovered_new) is orders of magnitude too high and
        # saturated the coalesce target at n_part, emitting n_part
        # near-empty files per round.
        n_settled = n_scheduled + n_blocked
        tables = {
            # sized views over the ALREADY-MATERIALIZED caches (the
            # counters job ran first): coalesce here merges cached
            # partitions for the write — no recompute, no serialized
            # upstream chain
            "frontier_pending": _sized(pending_new, counters["pending_out"]),
        }
        if new_known_shards is not None:
            tables["known_shards"] = new_known_shards
        self.store.commit(
            tables=tables,
            append_tables={
                "frontier_log": _sized(settled_delta, n_settled),
                # new-round rows carry round == round_no+1 (leftover keeps
                # its admission round ≤ round_no), so the known-set delta
                # reads the pending cache — the old `new_pending.select`
                # lineage re-ran the whole link-canonicalize UDF chain
                # inside the commit
                "frontier_known": _sized(
                    pending_new.where(F.col("round") == round_no + 1).select("url_hash"),
                    counters["discovered_new"],
                ),
                "schedule": _sized(
                    scheduled.select(
                        F.lit(round_no).cast("int").alias("round"),
                        "host", "seq", "url_norm", "idx_id", "priority",
                    ),
                    n_scheduled,
                ),
            },
            carry_tables=["robots"],
            counters=counters,
            lineage=lineage,
            note=f"round-{round_no}",
            prewritten=prewritten,
        )
        _mark("commit_writes", _t)
        if timing_on:
            if os.environ.get("FRONTIER_PROFILE"):
                ws = getattr(self.store, "last_write_secs", None)
                if ws:  # per-table commit attribution (diagnostic only:
                    # non-numeric phase values stay out of ledger runs)
                    phases["p_write_secs"] = ws
            print(f"[frontier-timing] round {round_no}: {phases}", flush=True)
            counters["phases"] = phases  # machine-readable (scaling harness)
        for df in (pending, sched_all, proc, settled_delta, pending_new):
            df.unpersist()
        return counters

    # ------------------------------------------------------------- loop

    def run(self, pages: DataFrame, n_rounds: int, round_seconds: int = politeness.ROUND_SECONDS) -> list[dict]:
        pages_prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
        out = []
        for _ in range(n_rounds):
            out.append(self.run_round(pages_prepared, round_seconds))
        pages_prepared.unpersist()
        return out

    def schedule_table(self) -> Optional[DataFrame]:
        return self._read("schedule")

    def frontier_table(self) -> Optional[DataFrame]:
        """Full historical frontier view: pending working set ∪ settled
        status log. A READ-side union — the underlying state is never
        rewritten (see module docstring, State layout)."""
        pending = self._read("frontier_pending")
        log = self._read("frontier_log")
        if pending is None:
            return log
        return pending if log is None else pending.unionByName(log)
