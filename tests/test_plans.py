"""Physical-plan regression tests: the plans Catalyst must produce for the
engine's operators (SURVEY.md §4). These guard the 100TB properties —
pushdown, pruning, broadcast, partial aggregation — that row counts can't."""

from __future__ import annotations

from itertools import takewhile

import pytest
from pyspark.sql import functions as F

from frontier_engine import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPlanShapes:
    def test_filter_pushdown_and_column_pruning(self, spark):
        df = Q.REGISTRY["scan_filter_project"][0](spark, SF)
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull" in plan and "LessThan(l_shipdate" in plan
        # pruned scan: unused columns absent from the FileScan column list
        scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
        assert "l_shipdate" in scan_cols
        assert "l_tax" not in scan_cols and "l_returnflag" not in scan_cols

    def test_lookup_join_is_broadcast(self, spark):
        df = Q.REGISTRY["lookup_join"][0](spark, SF)
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_agg_has_partial_and_final(self, spark):
        df = Q.REGISTRY["agg_pricing_summary"][0](spark, SF)
        plan = plan_of(df)
        # map-side combine: partial_sum before the exchange
        assert "partial_sum" in plan

    def test_global_topk_is_take_ordered(self, spark):
        df = Q.REGISTRY["global_topk_ordered"][0](spark, SF)
        assert "TakeOrderedAndProject" in plan_of(df)  # no full global sort

    def test_anti_join_shape(self, spark):
        df = Q.REGISTRY["seen_anti_join"][0](spark, SF)
        assert "LeftAnti" in plan_of(df)

    def test_whole_stage_codegen_covers_relational_ops(self, spark):
        # content_filters: pure scan+filter+project, no exchange — its plan
        # is not AQE-wrapped, so codegen spans are visible in explain.
        # (quality_score, the previous subject, gained a scale-adaptive scan
        # fan-out exchange in r6; AQE's pre-execution explain hides `*(n)`.)
        df = Q.REGISTRY["content_filters"][0](spark, SF)
        plan = plan_of(df)
        assert "*(1)" in plan  # the `*(n)` prefix marks WholeStageCodegen spans
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        # quality_score keeps the no-row-Python discipline post-fan-out
        plan_q = plan_of(Q.REGISTRY["quality_score"][0](spark, SF))
        assert "BatchEvalPython" not in plan_q

    def test_extraction_has_single_arrow_stage(self, spark, pages_df):
        from frontier_engine import pipeline

        proc = pipeline.processed(pipeline.canonicalized(pages_df))
        plan = plan_of(proc)
        # pandas UDFs run as ArrowEvalPython; row-Python (BatchEvalPython) banned
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan

    def test_pages_scan_prunes_html_for_frontier_queries(self, spark, tmp_path, pages_pdf):
        """A frontier-only query over the pages table must not read the
        (dominant) html column — the pushdown win the reference architecture
        cannot express (SURVEY.md §4)."""
        path = str(tmp_path / "pages")
        spark.createDataFrame(pages_pdf).write.parquet(path)
        df = spark.read.parquet(path).select("url", "warc_ts").where(F.col("lang") == "en")
        plan = plan_of(df)
        read_schema = plan.split("ReadSchema:")[1]
        assert "html" not in read_schema

    def test_load_wide_probes_footers_only_for_narrow_tables(self, spark, tmp_path, monkeypatch):
        """A table of at least max(2, cores // 2) files already scans that
        wide (each non-empty file holds a row group), so ``load_wide``
        opens no parquet footer and adds no repartition. A single-file
        table keeps the footer probe and is fanned out."""
        import pyarrow.parquet as pq

        enough = max(2, spark.sparkContext.defaultParallelism // 2)
        spark.range(100).repartition(enough).write.parquet(str(tmp_path / "multi.parquet"))
        spark.range(100).coalesce(1).write.parquet(str(tmp_path / "single.parquet"))
        opened = []
        real_parquet_file = pq.ParquetFile

        def counting_parquet_file(*args, **kwargs):
            opened.append(args[0])
            return real_parquet_file(*args, **kwargs)

        monkeypatch.setattr(pq, "ParquetFile", counting_parquet_file)
        multi = Q.load_wide(spark, str(tmp_path), "multi")
        assert opened == []
        single = Q.load_wide(spark, str(tmp_path), "single")
        assert len(opened) == 1
        assert "RoundRobinPartitioning" not in plan_of(multi)
        assert "RoundRobinPartitioning" in plan_of(single)
        for df in (multi, single):
            assert sorted(r.id for r in df.collect()) == list(range(100))

    def test_ranks_join_broadcast(self, spark, tmp_path):
        from frontier_engine import ranks

        (tmp_path / "s.txt").write_text("1 a\n2 b")
        t = ranks.load_rank_table(spark, str(tmp_path / "s.txt"))
        payload = spark.createDataFrame([("a", "x")], "warc_target_uri string, title string")
        assert "BroadcastHashJoin" in plan_of(ranks.join_ranks(payload, t))

    def test_jaccard_self_join_input_is_prefix_bounded(self, spark):
        """Scale guard for the exact-Jaccard verifier: the candidate
        self-join runs over per-doc PREFIXES (the (1-t)·|d|+1 globally
        rarest tokens), never the full inverted index — so the hot tokens
        that dominate df (and would k²-blow-up a raw token self-join) are
        excluded from the join input."""
        from pyspark.sql.window import Window

        d = spark.read.parquet(f"{SF}/documents.parquet")
        tok = d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            ).alias("tok"),
        )
        dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        wdoc = Window.partitionBy("doc_id")
        ranked = (
            tok.join(dfreq, "tok")
            .withColumn("pos", F.row_number().over(wdoc.orderBy("df", "tok")))
            .withColumn("sz", F.count(F.lit(1)).over(wdoc))
        )
        prefix = ranked.where(
            F.col("pos") <= F.col("sz") - F.ceil(F.lit(Q.JACCARD_T) * F.col("sz")).cast("long") + 1
        )
        n_tok, n_prefix = tok.count(), prefix.count()
        # join input shrinks to ~(1-t) of the index (+1 token per doc)
        assert n_prefix <= (1 - Q.JACCARD_T) * n_tok + d.count() + 1
        # the corpus' hottest token must NOT be join input (it sorts last)
        hottest = dfreq.orderBy(F.col("df").desc()).first()
        max_df_in_prefix = prefix.agg(F.max("df")).collect()[0][0]
        assert max_df_in_prefix < hottest.df

    def test_bloom_membership_cogrouped_not_joined(self, spark):
        """The bitmap must cross the Arrow boundary once per shard group —
        a join would replicate m_bits/8 bytes onto every candidate row."""
        from frontier_engine import urlseen

        d = spark.createDataFrame([("u",)], "url_norm string").withColumn(
            "url_hash", F.xxhash64("url_norm")
        )
        shards = urlseen.build_shards(d, 8, 1 << 14)
        plan = plan_of(urlseen.mark_maybe_seen(d, shards, 8))
        assert "FlatMapCoGroupsInPandas" in plan
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan

    def test_exact_anti_join_input_is_bloom_survivors(self, spark):
        """filter_unseen's EXACT anti join must probe with only the bloom's
        maybe-member survivors — never the full candidate set. The bloom
        shrinks the probe side only: the build side is still the whole
        known set (~80 GB of hashes at 10^10 URLs), so it must reach the
        join unaggregated (a left anti join ignores duplicates on its build
        side; a distinct there would aggregate the known set every round).
        Asserted three ways: plan shape (the LeftAnti's probe side filters
        on maybe_seen, and no Aggregate sits on its build side), measured
        IO (survivor count ≈ known ∩ candidates + FPR·rest) and exactness."""
        from frontier_engine import urlseen

        cand = (
            spark.range(1000)
            .selectExpr("concat('http://h/', id) AS url_norm")
            .withColumn("url_hash", F.xxhash64("url_norm"))
        )
        known = cand.limit(10).select("url_hash")
        shards = urlseen.build_shards(known, 8, 1 << 14)
        out = urlseen.filter_unseen(cand, shards, known.select("url_hash"), 8)

        plan = optimized_of(out)
        lines = plan.splitlines()
        at = next(i for i, line in enumerate(lines) if "Join LeftAnti" in line)
        assert any("maybe_seen" in line for line in lines[at + 1:at + 4]), plan
        col = lines[at].index("Join")
        # the build side: the join's "+-" child and every line nested under it
        right = next(i for i in range(at + 1, len(lines)) if lines[i][col:col + 2] == "+-")
        build = [lines[right]] + list(
            takewhile(lambda line: not line[:col + 3].strip(), lines[right + 1:])
        )
        assert not any("Aggregate" in line for line in build), plan
        # measured prune: exact-join input ≪ candidates (10 known + FP)
        survivors = urlseen.mark_maybe_seen(cand, shards, 8).where("maybe_seen")
        assert survivors.count() < 50
        # exactness: identical result to the unpruned anti join
        exact = {r.url_hash for r in cand.join(known, "url_hash", "left_anti").collect()}
        assert {r.url_hash for r in out.collect()} == exact

    def test_robots_gate_evaluated_once_per_branch(self, spark):
        """A filter on robots_allowed must not be pushed below the gate's
        projection: the pushed copy would run the Python kernel a second
        time on every candidate row."""
        from frontier_engine import politeness

        cand = spark.createDataFrame(
            [("a.com", "http://a.com/x"), ("b.com", "http://b.com/y")], "host string, url_norm string"
        )
        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /x\n")], "host string, robots_txt string"
        )
        gated = politeness.apply_robots_gate(cand, robots)
        for branch, want in (("robots_allowed", ["b.com"]), ("NOT robots_allowed", ["a.com"])):
            df = gated.where(branch)
            assert plan_of(df).count("ArrowEvalPython") == 1, plan_of(df)
            assert [r.host for r in df.collect()] == want

    def test_shuffle_fetch_moves_html_once(self, spark, tmp_path, pages_pdf):
        """In the shuffle-fetch regime the extraction UDF reads the fetch
        join's url_norm-partitioned output directly: no REPARTITION_BY_NUM
        exchange moves the html a second time."""
        from frontier_engine import frontier, pipeline, synth

        pages = spark.createDataFrame(pages_pdf)
        prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
        eng = frontier.FrontierEngine(spark, str(tmp_path / "store"), n_shards=8,
                                      bloom_bits=1 << 16, budget=5)
        eng.init(spark.createDataFrame(synth.generate_seeds(pages_pdf, n_seeds=40)),
                 spark.createDataFrame(synth.generate_robots(pages_pdf)))
        plans, processed = [], pipeline.processed

        def spy(df, *args, **kwargs):
            out = processed(df, *args, **kwargs)
            plans.append((optimized_of(df), plan_of(out)))
            return out

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(frontier, "_FETCH_BROADCAST_ROWS", 0)
            mp.setattr(pipeline, "processed", spy)
            eng.run_round(prepared)
        prepared.unpersist()
        [(fetch_join, extraction)] = plans
        assert "Join Inner" in fetch_join and "strategy=broadcast" not in fetch_join
        assert "ArrowEvalPython" in extraction
        assert "REPARTITION_BY_NUM" not in extraction, extraction


class TestKmeansPlan:
    def test_assignment_is_shuffle_free(self, spark):
        """kmeans assignment must be a pure map over the corpus: literal
        centroid arrays + zip_with/aggregate argmin, NO Exchange (the
        MLlib shape — centroids travel, the 100 TB corpus doesn't)."""
        from frontier_engine.simsearch import kmeans_lloyd

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        assign, _ = kmeans_lloyd(emb, k=4, iters=1)
        plan = plan_of(assign)
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_update_agg_is_partial(self, spark):
        """The centroid update must map-side combine (partial_avg before the
        exchange) so the only shuffle moves ~tasks*k*dim rows."""
        from frontier_engine.simsearch import _assign_expr

        emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(F.col("vec_id") != 0)
        cent = [(i, [0.0] * 64) for i in range(1, 5)]
        upd = (
            emb.select(_assign_expr(cent).getField("cluster").alias("cluster"), "embedding")
            .select("cluster", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("cval"))
        )
        plan = plan_of(upd)
        assert "partial_avg" in plan, plan
