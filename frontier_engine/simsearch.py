"""Similarity search over embedding columns (training-data pipeline op).

All math is JVM-side (``zip_with``/``aggregate`` — whole-stage-codegen'd,
no Python in the hot path). Brute-force cosine is the baseline; the scale
path is an IVF probe over a Lloyd's k-means coarse quantizer
(``kmeans_lloyd`` + ``ivf_probe_cluster``).

At 100 TB the broadcast side is the query set (queries ≪ corpus): cosine
against each query is a broadcast nested loop over corpus partitions, which
Spark executes as BroadcastNestedLoopJoin with no corpus shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def dot_col(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential order (engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (l2_norm_col(a) * l2_norm_col(b))


def cosine_to_query(
    corpus: DataFrame, query: DataFrame, keep_cols: list[str] | None = None, digits: int = 4
) -> DataFrame:
    """Brute-force cosine of every corpus row against a one-row query
    DataFrame (column ``qv``). The query side is broadcast; the corpus is
    never shuffled."""
    cols = ["vec_id"] + (keep_cols or [])
    joined = corpus.crossJoin(F.broadcast(query))
    return joined.select(
        *cols, F.round(cosine_col(F.col("embedding"), F.col("qv")), digits).alias("cos")
    )


def _pos_explode(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, embedding) → (id, pos, val) position-exploded doubles. The
    positional form makes every k-means step a plain equi-join + agg —
    no array UDFs, fully codegen'd, and expressible 1:1 in the oracle SQL."""
    return emb.select(
        id_col, F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))


def _assign_expr(centroids: list[tuple[int, list[float]]]):
    """argmin-distance column over literal centroid arrays: for each
    centroid, Σ(eᵢ−cᵢ)² — NO shuffle, no Python; array_min over
    (d2, cluster) structs = argmin with cluster-id tie-break (lexicographic
    struct ordering).

    (r6 note: an unrolled per-position form — 4×64 GetArrayItem terms —
    was A/B-measured at ~2× SLOWER than this zip_with/aggregate form
    (kmeans_clusters 3.8 s → 7.6 s): the giant generated method blows the
    JIT/codegen method-size budget and falls back to interpreted
    expression trees, which lose to the HOF evaluator. Kept as measured.)"""
    cands = []
    for cid, vec in centroids:
        carr = F.array(*[F.lit(float(x)) for x in vec])
        d2 = F.aggregate(
            F.zip_with(
                F.col("embedding"), carr,
                lambda a, c: (a.cast("double") - c) * (a.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(d2.alias("d2"), F.lit(cid).cast("long").alias("cluster")))
    return F.array_min(F.array(*cands))


def kmeans_lloyd(emb: DataFrame, k: int = 4, iters: int = 2) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's k-means over an embedding column (IVF coarse
    quantizer — small fixed ``iters``, not a convergence loop).

    Init: the k smallest non-zero vec_ids seed the centroids (cluster label
    = seed vec_id) — deterministic, no RNG, engine-portable.

    Execution shape (the MLlib pattern — centroids are k·dim ≈ KBs, the
    corpus is the 100 TB side, so centroids travel, the corpus doesn't):
    - each iteration collects the centroids to the driver and embeds them
      as LITERAL arrays; assignment is then a pure map: per-row
      Σ(val−cval)² via zip_with/aggregate + array_min argmin (cluster-id
      tie-break) — whole-stage-codegen'd, ZERO shuffle over the corpus,
    - update: posexplode the assigned corpus → partial-agg avg per
      (cluster, pos) — map-side combine collapses each task to ≤ k·dim
      rows, so the only shuffle per iteration moves ~tasks·k·dim rows.

    Returns (assign: vec_id→cluster, centroids: cluster, pos, cval) —
    centroid positions as a DataFrame for downstream probe/norm queries.
    """
    corpus = emb.where(F.col("vec_id") != 0)
    # r6: the training loop runs iters+1 driver actions over the corpus
    # (seed collect + one centroid-update collect per iteration), and each
    # action compiles a fresh plan — without a cache every one re-executes
    # the corpus lineage (scan + any upstream fan-out exchange). Persist for
    # the duration of training only; the returned `assign` frame is built on
    # the UNCACHED lineage so nothing stays pinned after kmeans_lloyd
    # returns (bench/oracle runs recompute from parquet every invocation).
    cache = corpus.persist()
    try:
        seeds = (
            cache.where((F.col("vec_id") >= 1) & (F.col("vec_id") <= k))
            .select("vec_id", "embedding")
            .collect()
        )
        cent = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]
        cent_used = cent  # centroids the final assignment was computed against
        for _ in range(iters):
            cent_used = cent
            # assignment + explode fused into ONE corpus pass (assignment is
            # a pure expression — no join back, no second scan). Two
            # projection steps because Spark's generator extraction drops
            # struct field names when getField shares a select with
            # posexplode; Catalyst collapses them back into one.
            new_cent = (
                cache.select(_assign_expr(cent).getField("cluster").alias("cluster"), "embedding")
                .select("cluster", F.posexplode("embedding").alias("pos", "val"))
                .withColumn("val", F.col("val").cast("double"))
                .groupBy("cluster", "pos")
                .agg(F.avg("val").alias("cval"))
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in new_cent:
                by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(r["cval"])
            cent = [
                (cid, [vals[p] for p in sorted(vals)]) for cid, vals in sorted(by_cluster.items())
            ]
    finally:
        cache.unpersist(blocking=False)
    # assign carries the embedding too (r6): downstream IVF consumers need
    # (vec_id, cluster, embedding) and previously re-joined assign back onto
    # the corpus on vec_id — a full corpus self-join shuffle for a column
    # that was already on the row. Column pruning drops it for consumers
    # that only read (vec_id, cluster).
    assign = corpus.select(
        "vec_id", "embedding", _assign_expr(cent_used).getField("cluster").alias("cluster")
    )
    spark = emb.sparkSession
    cent_rows = [(cid, p, v) for cid, vec in cent for p, v in enumerate(vec)]
    cent_df = spark.createDataFrame(cent_rows, "cluster long, pos int, cval double")
    return assign, cent_df


def ivf_probe_cluster(query: DataFrame, cent: DataFrame, nprobe: int = 1) -> DataFrame:
    """The ``nprobe`` nearest centroids to the query vector (one-row
    DataFrame, column ``qv``): the IVF probe step. Real IVF recall at a
    cluster boundary needs multi-probe — a query between two centroids has
    its true NN in the runner-up cluster roughly half the time, so
    production IVF always probes >1 (faiss default nprobe≥1, tuned upward).
    Returns an ``nprobe``-row (cluster) DataFrame."""
    qpos = _pos_explode(query.select(F.col("qv").alias("embedding")).withColumn("vec_id", F.lit(-1)))
    d2 = (
        qpos.join(F.broadcast(cent), "pos")
        .groupBy("cluster")
        .agg(F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("d2"))
    )
    w = Window.orderBy("d2", "cluster")
    return d2.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= nprobe).select("cluster")
