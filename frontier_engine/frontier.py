"""The crawl-frontier engine: iterative rounds with snapshot checkpoints.

Each round (north_rule pipeline):

  pending candidates ──canonicalized at ingest, admitted once──▶
    1. membership        none at round start: pending is never re-filtered
    2. robots gate       broadcast join + rule kernel, once (politeness.py)
    3. schedule          per-host PQ, budget-capped        (politeness.py)
    4. "fetch"           equi join against the pages table (keep-newest)
    5. process           extraction pipeline               (pipeline.py)
    6. discover          links → canonicalize → known-set bloom prefilter
                         + exact left_anti → new pending candidates
    7. commit            one IceLite commit writes all seven round tables:
                         pending/known-bloom replaced, settled-log/known/
                         schedule/meta/payload APPENDED, each sized from the
                         round's exact counters; counters + per-partition
                         lineage in the manifest (icelite.py)

Why step 1 is empty: frontier_known is the one URL-seen set. A URL enters
pending only through step 6's anti join against it (or as a seed, which
init also records there), and it leaves pending in the round that settles
it. So pending never holds a URL that was scheduled before, and a second
filter at round start could never remove a row (the ``dup`` counter stays
0 for that reason).

State layout (row writes ∝ round delta, never ∝ crawl size; the bloom is
the exception):
  frontier_pending  REPLACED  the working set (grows/shrinks with the crawl
                              wave; it IS the active state, not history)
  frontier_log      APPEND    settled rows (fetched/missing/blocked) from
                              this round only
  frontier_known    APPEND    url_hash of every candidate ever admitted —
                              the URL-seen set (8 B/row)
  known_shards      REPLACED  bloom shards over frontier_known (urlseen.py),
                              rewritten whole every round: its writes are
                              ∝ n_shards × bloom_bits / 8, not ∝ the delta
                              (~12 GB per round at the 10^10 sizing in
                              urlseen.py's docstring)
A full historical frontier view is ``frontier_table()`` = pending ∪ log.
Each snapshot's ``trace`` holds the round's phase walls
(``schedule_fetch_extract``, ``counters_lineage_job``) and the commit's
``write_s``.

Round caches (each step above runs once; ``run_round`` unpersists all five
when the round ends, whether it commits or raises):
  gated          pending + robots verdict; the allowed and blocked branches
                 both read it, so the rule kernel sees each row once
  scheduled      the scheduled rows only (fetch, missing, lineage, schedule)
  proc           extracted docs without html; the docs_ok aggregation
                 materializes it
  settled_delta  this round's fetched/missing/blocked rows
  pending_new    leftover (allowed, not scheduled) ∪ newly admitted URLs

Determinism: candidate identity is idx_id = index_uuid(round-millis,
url-derived offset, url-derived source file, webis_uuid(url_norm)) — the
reference's identity scheme (process.py:319-374) applied to frontier rows;
schedules order by (priority DESC, idx_id ASC) per host. A killed job
resumes from the last committed snapshot with an identical schedule
(tests/test_frontier.py::test_resume_determinism).

Scale: two gates, read from the parent manifest (no count job), pick each
join's strategy; every regime gives the same results (tests/test_golden.py
runs the goldens in all four). Known sets up to _KNOWN_BROADCAST_ROWS rows
take a broadcast anti join, larger ones the known_shards bloom prefilter +
exact anti join. Schedules up to _FETCH_BROADCAST_ROWS rows are broadcast
into the fetch join, so the html-heavy pages side never shuffles; larger
ones take a plain equi join on url_norm, whose hash partitioning already
spreads a hot host's URLs evenly. The only other frontier-wide shuffle is
the per-host window/groupBy. Known-set broadcast × shuffle fetch is reachable
only with the gates forced (the tests set them to 0): the fetch gate reads
pending_in, and scheduled ≤ pending_in ≤ known rows ≤ 1 M < 8 M.
"""

from __future__ import annotations

import os
import time
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from frontier_engine import pipeline, politeness, urlseen
from frontier_engine.icelite import IceLite
from frontier_engine.identity import index_uuid, webis_uuid
from frontier_engine.oracle import derive_source
from frontier_engine.urlnorm import canonicalize_url, host_series

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
# Schedules up to this many rows are broadcast into the fetch join. ~120 B/row
# of (url_norm, host, 4 scalars) → ≈1 GB at the limit, safely under Spark's
# 8 GB broadcast ceiling / driver heap.
_FETCH_BROADCAST_ROWS = 8_000_000


def _known_rows(snap: dict) -> Optional[int]:
    """Rows of ``frontier_known`` summed from the manifest's per-file row
    stats, or None when any of its dirs has none (a store written before
    every table had stats)."""
    dirs = snap["tables"]["frontier_known"]
    stats = snap.get("stats", {}).get("frontier_known", {})
    if not set(dirs) <= {os.path.dirname(f) for f in stats}:
        return None
    return sum(s["rows"] for s in stats.values())


def candidates_from_urls(df: DataFrame, round_no: int, id_prefix: str,
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
    this base-URL column first (link discovery path); seeds pass no base.
    A url that cannot be resolved or parsed (``urljoin`` or ``urlsplit``
    raises ``ValueError``, e.g. ``http://[::1/x``) and a null url yield a
    null url_norm, and that row is dropped before the dedup, for seeds as
    for links: one bad url must not fail a round.
    """

    @F.pandas_udf("url_norm string, host string, idx_id string")
    def _canon_id(base: pd.Series, href: pd.Series) -> pd.DataFrame:
        from urllib.parse import urljoin, urlsplit

        def canon(b, h):
            if h is None:
                return None
            try:
                u = canonicalize_url(h if b is None else urljoin(b, h))
                urlsplit(u)  # the extraction kernel parses every fetched url
                return u
            except ValueError:
                return None

        urls_norm = pd.Series(
            [canon(b, h) for b, h in zip(base, href)], index=href.index, dtype="object"
        )
        ids = []
        for u in urls_norm:
            if u is None:
                ids.append(None)
                continue
            src, off = derive_source(u)
            ids.append(index_uuid(round_no * 1000, off, src, webis_uuid(id_prefix, u)))
        return pd.DataFrame(
            {"url_norm": urls_norm, "host": host_series(urls_norm), "idx_id": ids}
        )

    base = F.col(resolve_base_col) if resolve_base_col else F.lit(None).cast("string")
    # marked nondeterministic only so Catalyst cannot push the null filter
    # below the UDF, which would evaluate the UDF twice (once per side)
    out = (
        df.withColumn("_ci", _canon_id.asNondeterministic()(base, F.col("url")))
        .where(F.col("_ci.url_norm").isNotNull())
        .withColumn("priority", F.coalesce(F.col("priority").cast("double"), F.lit(0.5)))
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
    ):
        urlseen.check_bits(bloom_bits)  # before IceLite creates the store dirs
        self.spark = spark
        self.store = IceLite(store_root)
        self.id_prefix = id_prefix
        self.n_shards = n_shards
        self.bloom_bits = bloom_bits
        self.budget = budget

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
                "known_shards": urlseen.extend_shards(
                    None, frontier.select("url_hash"), self.n_shards, self.bloom_bits
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

    def run_round(self, pages_prepared: DataFrame) -> dict:
        """One frontier round against a prepared pages table
        (``pipeline.canonicalized`` + ``pipeline.dedup_newest`` applied).
        Returns the committed counters; the snapshot's ``trace`` also holds
        the round's phase walls."""
        spark = self.spark
        parent = self.store.snapshot(self.store.current_snapshot_id())
        prev_counters = parent["counters"]
        round_no = prev_counters.get("round", -1) + 1
        # carried from the parent snapshot — no count() job needed
        n_pending_in = prev_counters["pending_out"]
        seen_total = prev_counters.get("seen_total", 0)

        # 1. membership: none needed here. A URL enters pending only through
        # the anti join against frontier_known (step 6) and leaves it when it
        # settles, so pending never holds a URL that was already scheduled.
        pending = self._read("frontier_pending")
        known = self._read("frontier_known")
        known_shards = self._read("known_shards")
        robots = self._read("robots")

        # every cache the round persists, freed on success and on error
        caches: list[DataFrame] = []

        def _cache(df: DataFrame) -> DataFrame:
            df = df.persist()
            caches.append(df)
            return df

        try:
            # 2. robots gate, cached: both branches below read its output, so
            # the rule kernel runs once per pending row
            gated = _cache(politeness.apply_robots_gate(pending, robots))
            allowed = gated.where(F.col("robots_allowed"))
            blocked = gated.where(~F.col("robots_allowed"))

            # 3. per-host PQ schedule
            scheduled = _cache(
                politeness.schedule_hosts(allowed, budget=self.budget)
                .where(F.col("scheduled"))
            )

            # 4. fetch: equi join on url_norm against keep-newest pages. The
            # scheduled side is budget-bounded (≤ budget × hosts rows of a few
            # small columns) — broadcast it so the html-heavy pages side NEVER
            # shuffles: it streams straight from its cached partitions. The
            # broadcast is CONDITIONAL, decided from the PARENT SNAPSHOT's
            # pending_out counter (scheduled ⊆ pending, so pending_in is a free
            # upper bound — no count() job, no extra round barrier): above
            # ``_FETCH_BROADCAST_ROWS`` candidate rows the hint could exceed
            # driver/broadcast limits, so fall back to a shuffle join and let
            # AQE pick the strategy.
            fetch_cols = ["url_norm", "url_hash", "host", "priority", "idx_id", "seq"]
            sched_small = scheduled.select(*fetch_cols)
            use_broadcast = n_pending_in <= _FETCH_BROADCAST_ROWS
            if not use_broadcast:
                # pending_in is only an upper bound and the schedule is budget-
                # bounded: one count() on its cache decides precisely
                use_broadcast = scheduled.count() <= _FETCH_BROADCAST_ROWS
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

            # phase walls (s), stored in the snapshot's trace by the commit
            trace: dict[str, float] = {}

            def _mark(name: str, t0: float) -> float:
                t = time.perf_counter()
                trace[name] = round(t - t0, 2)
                return t

            _t = time.perf_counter()

            # 5. process fetched pages (extraction pipeline; idx_id from page
            # identity). In the broadcast-fetch regime the join output inherits
            # the pages scan/cache partitioning — hash-random in url space, so
            # host-skew-free by construction — and scan, broadcast probe and
            # extraction UDF fuse into ONE stage with no shuffle touching html.
            # The shuffle-join fallback partitions by hash(url_norm), equally
            # host-skew-free, so the extraction UDF reads the join output as is
            # (html crosses one exchange, never two; plan-tested).
            # ``html`` is dropped BEFORE the persist: downstream consumers
            # (marks, links, counters, meta/payload projections) never read it,
            # so caching it would pay a columnar encode per round for bytes
            # nobody decodes — and proc is the ONLY per-round cache of fetched
            # pages (the join output itself is deliberately unpersisted above).
            n_part = spark.sparkContext.defaultParallelism * 2
            proc = _cache(pipeline.processed(fetched_rows, id_prefix=self.id_prefix).drop("html"))
            # the docs_ok aggregation materializes the extraction cache BEFORE
            # the concurrent counter aggregations below: two of them
            # (settled_delta, and pending_new via discovered links) read proc,
            # and would otherwise compute the heavy UDF twice in parallel.
            n_docs_ok = sum(
                r["n"] for r in proc.groupBy(F.col("doc.skip_reason").alias("reason"))
                .agg(F.count(F.lit(1)).alias("n")).collect()
                if r["reason"] == ""
            )
            _t = _mark("schedule_fetch_extract", _t)
            missing = scheduled.select("url_norm", "url_hash", "host", "priority", "idx_id").join(
                proc.select("url_norm"), "url_norm", "left_anti"
            )

            # Counter-driven partition sizing for round-delta WRITES: every
            # written frame is sized from the EXACT row count the counter
            # aggregations compute (no count() job). The deltas are unions/projections
            # of upstream caches and would otherwise inherit the SUM of their
            # parents' partition counts — dozens of near-empty parquet files per
            # commit, a fixed per-round cost that caps small-round scaling.
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
            def _sized(df: DataFrame, est_rows: int, rows_per_part: int = 65536) -> DataFrame:
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
            # parallelism (the counter aggregations materialize them); the
            # commit below writes `_sized(...)` views of the caches.
            mark = lambda df, status: df.select(
                "url_norm", "url_hash", "host", "priority",
                F.lit(status).alias("status"), F.lit(round_no).cast("int").alias("round"), "idx_id",
            )
            settled_delta = _cache(
                mark(proc, "fetched")
                .unionByName(mark(missing, "missing"))
                .unionByName(mark(blocked, "skipped_robots"))
            )
            # allowed but not scheduled this round → stays pending (budget
            # carry-over); every pending row is either blocked or allowed
            leftover = allowed.join(scheduled.select("url_hash"), "url_hash", "left_anti").select(
                [f.name for f in FRONTIER_SCHEMA.fields]
            )
            # anti vs known only: every url_hash ever admitted (pending at any
            # point) is in frontier_known — 8 B/row. Bloom-PREFILTERED: the
            # bloom passes the definitely-unknown majority of discovered links
            # straight through, so only maybe-known rows (≈ |discovered ∩
            # known| + FPR·rest) form the probe side of the exact left_anti.
            # Its build side is still the whole append-only known table
            # (~80 GB of hashes at 10^10 URLs), which that join shuffles.
            # While the known set is still broadcast-sized (~16 B/hash; its row
            # count is summed from the parent manifest's file stats — no job), a
            # broadcast hash anti join beats the bloom mark + exact anti
            # outright: the bloom exists to prune a SHUFFLE the broadcast regime
            # never pays. A store without those stats takes the (exact) bloom
            # path.
            known_rows = _known_rows(parent)
            if known_rows is not None and known_rows <= _KNOWN_BROADCAST_ROWS:
                new_pending = discovered.join(
                    F.broadcast(known.select("url_hash")), "url_hash", "left_anti"
                )
            else:
                new_pending = urlseen.filter_unseen(
                    discovered, known_shards, known, self.n_shards
                )
            pending_new = _cache(leftover.unionByName(new_pending))
            # known-set bloom kept in lockstep: this round's newly-admitted
            # hashes (round == round_no+1 rows of the pending cache — the same
            # cache-read trick as the frontier_known delta below) OR-merge into
            # known_shards, so next round's discovered-link prefilter covers
            # every admitted URL. Exactness is unaffected by bloom saturation
            # (false positives only add rows to the exact join). FUSED
            # build+merge (extend_shards): one shuffle + one pandas stage instead
            # of build → bitmap-shuffle → merge (bit-identical, property-tested).
            new_known_shards = urlseen.extend_shards(
                known_shards,
                pending_new.where(F.col("round") == round_no + 1).select("url_hash"),
                self.n_shards,
                self.bloom_bits,
            )

            # The other round metrics via three CONCURRENT per-frame
            # aggregations (guide §2.6) — the Metrics.counter analog,
            # process.py:120. The settled/pending aggs double as the
            # materialization of those caches (a groupBy over an unmaterialized
            # persisted frame computes and caches every partition, exactly like
            # a count()); the scheduled agg reads a cache the docs_ok
            # aggregation above already materialized. Running the three small
            # aggs concurrently folds the whole counters wall into the
            # materialization window. Keys never collide across the two status
            # frames (settled statuses ≠ 'pending'). Leaving the block waits
            # for every future, so no aggregation outlives a failed round.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                s_fut = pool.submit(
                    lambda: settled_delta.groupBy("status", "round").agg(F.count(F.lit(1)).alias("n")).collect()
                )
                p_fut = pool.submit(
                    lambda: pending_new.groupBy("status", "round").agg(F.count(F.lit(1)).alias("n")).collect()
                )
                shard_fut = pool.submit(
                    lambda: scheduled.groupBy(
                        urlseen.shard_of(F.col("url_hash"), self.n_shards).alias("shard_id")
                    ).agg(F.count(F.lit(1)).alias("n")).collect()
                )
                status_counts = {
                    (r["status"], int(r["round"])): r["n"] for r in s_fut.result() + p_fut.result()
                }
                lineage = sorted(
                    ({"shard_id": int(r["shard_id"]), "scheduled": r["n"]} for r in shard_fut.result()),
                    key=lambda d: d["shard_id"],
                )
            _mark("counters_lineage_job", _t)

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
            # skipped_budget is derived, so the balance identity holds by
            # construction: check it against the leftover (admitted in rounds ≤
            # round_no) the pending aggregation counted, before the commit point
            n_leftover = sum(n for (st, r), n in status_counts.items() if st == "pending" and r <= round_no)
            if n_leftover != counters["skipped_budget"]:
                raise RuntimeError(f"round {round_no}: {n_leftover} pending rows left over, "
                                   f"counters say skipped_budget={counters['skipped_budget']}")
            n_settled = n_scheduled + n_blocked
            self.store.commit(
                # sized views over the ALREADY-MATERIALIZED caches (the counters
                # job ran first): coalesce here merges cached partitions for the
                # write — no recompute, no serialized upstream chain
                tables={
                    "frontier_pending": _sized(pending_new, counters["pending_out"]),
                    "known_shards": new_known_shards,
                },
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
                    # write-only projections of the proc cache: coalesce merges
                    # cached partitions, no recompute; coalesce BEFORE
                    # sortWithinPartitions keeps the sink's per-partition order.
                    # Their rows are WIDE (payload carries body + full_body, ~tens
                    # of KB/row), so the target is byte-informed: 64k wide rows
                    # in one file is a ~GB single-task parquet encode that
                    # serializes the commit (measured 81 s at local[4]); 8k
                    # rows/file lands in the 100-250 MB lake sweet spot.
                    "meta_docs": _sized(
                        pipeline.meta_docs(proc), n_docs_ok, rows_per_part=16384
                    ).sortWithinPartitions("idx_id"),
                    "payload_docs": _sized(
                        pipeline.payload_docs(proc), n_docs_ok, rows_per_part=8192
                    ).sortWithinPartitions("idx_id"),
                },
                counters=counters,
                lineage=lineage,
                trace=trace,
                note=f"round-{round_no}",
            )
            return counters
        finally:
            for df in caches:
                df.unpersist()

    # ------------------------------------------------------------- reads

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
