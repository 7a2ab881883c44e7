"""Duplicate-cluster resolution: connected components over near-dup edges.

The LSH / exact-Jaccard stages (queries.py) emit candidate PAIRS; a
training-data pipeline needs per-document CLUSTER ids so one canonical
document survives per duplicate group (A~B and B~C must collapse A,B,C
together even though (A,C) was never emitted as a pair). That closure is
connected components — the step the reference delegates to its
Elasticsearch dedup tooling downstream; here it is a first-class operator.

Algorithm: hash-to-min label propagation (Rastogi et al., "Finding
Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13 —
public algorithm). Each node carries a label (initially itself); each
round every node takes the min of its own and its neighbors' labels.
Converges in O(diameter) rounds — near-dup clusters are dense and
shallow (diameter ≲ 3 via their shared-bucket star edges), so 3-5 rounds
settle real corpora; ``max_iter`` bounds pathological chains.

Scale notes (the parts that survive 100×):
- edges are STARS (member → bucket-min), linear in bucket size — never
  the k² pair expansion of a bucket,
- each round is one shuffle (edge join on label key) + one map-side-
  combinable min-agg; AQE handles hot buckets (boilerplate clusters),
- labels are ``localCheckpoint``-ed every round: iterative joins
  otherwise stack lineage and replan O(i²),
- convergence test rides the same job as the label update (count of
  changed labels), one action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Label every node with min node-id reachable in its component.

    ``nodes``: one column ``id``; ``edges``: columns ``a``, ``b``
    (undirected semantics; pass each pair once). Returns (id, cluster_id).

    Failure mode: the edge set and each round's labels are
    ``localCheckpoint``-ed, i.e. kept only as cached blocks on the
    executors, with their lineage truncated. If an executor holding such a
    block is lost, Spark cannot recompute it and the job fails (the result
    is never silently wrong); rerun the call.
    """
    # r6: the undirected edge set (and the node set it touches) is
    # localCheckpoint-ed ONCE — it is read by every iteration's action, and
    # each action compiles a fresh physical plan, so without materialization
    # every round re-derives the caller's full edge lineage (for the LSH
    # path: parquet scan + tokenize + md5 signatures) from scratch.
    und = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()
    # Iterate ONLY over nodes that have at least one edge: a node with no
    # neighbors never receives a nbr_min row, so its label provably stays
    # `id` through every round — fold those back in at the end instead of
    # dragging the (typically much larger) isolated majority through every
    # join + checkpoint. `und` is symmetric, so its `a` side covers every
    # endpoint.
    edge_nodes = und.select(F.col("a").alias("id")).distinct().localCheckpoint()
    # narrow projection of the checkpointed edge_nodes — no checkpoint of
    # its own needed (a second materialization job would duplicate it)
    labels = edge_nodes.select(F.col("id"), F.col("id").alias("cluster_id"))
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und["b"] == labels["id"])
            .groupBy(und["a"].alias("id"))
            .agg(F.min("cluster_id").alias("nbr"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nbr"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
                (F.col("nbr") < F.col("cluster_id")).alias("_changed"),
            )
            # lazy checkpoint: the convergence count below materializes it,
            # fusing checkpoint + convergence into ONE job per round (the
            # eager checkpoint + limit(1).count pair was two)
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    else:
        # max_iter exhausted with labels still moving: partial labels are
        # silently wrong, so fail loudly (star edges keep diameter ~2, so
        # hitting this means pathological input or a too-small max_iter)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (labels would be partially propagated)"
        )
    isolated = nodes.join(edge_nodes, "id", "left_anti").select(
        F.col("id"), F.col("id").alias("cluster_id")
    )
    return labels.unionByName(isolated)


def lsh_star_edges(bands: DataFrame) -> DataFrame:
    """Near-dup edges from LSH band buckets as stars: every bucket member
    links to the bucket's min doc_id. Linear in bucket size (k-1 edges for
    a k-doc bucket, not k²) and component-equivalent to the full clique.

    r6: bucket roots/sizes come from window aggregates over one
    (band, bucket) exchange instead of groupBy + join-back, which shuffled
    the bands twice more (agg side + probe side) for the identical rows
    (guide §2.4: two operations keyed the same way share one exchange)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "bucket")
    return (
        bands.withColumn("root", F.min("doc_id").over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .where((F.col("n") > 1) & (F.col("doc_id") != F.col("root")))
        .select(F.col("doc_id").alias("a"), F.col("root").alias("b"))
        .distinct()
    )
