"""Distributed connected components — near-dup clusters from pair sets.

Near-dup detection (MinHash-LSH, SimHash, cosine) emits *pairs*; a
dedup pipeline needs *clusters* so it can keep one canonical document
per group. Pairs→clusters is connected components over the similarity
graph, and the scale-correct algorithm is the alternating
large-star / small-star method of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC 2014): each round is two
grouped aggregations + two joins (pure shuffles on node id), and the
edge set converges to stars (node → component-min) in O(log n) rounds
— versus O(graph diameter) for naive label propagation, which on a
100 TB near-dup chain can be thousands of rounds.

Driver-side iteration is inherent to the algorithm (every published
MapReduce/Spark CC does it); the input edge set and each round's edge
set are materialized (`materialize()`), so a round's plan and its
fixpoint test start from the last round's edges instead of replaying
every earlier round. Only the (u, v) long pairs ever shuffle — never
document payloads. On a real cluster set `spark.checkpoint.dir` so the
rounds checkpoint reliably and survive executor loss on long chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round on an undirected edge set.

    For each node u, let m = min(Γ(u) ∪ {u}); connect every *larger*
    neighbor v > u directly to m. Output edges are oriented
    (larger → smaller), strictly decreasing, so each round can only
    pull nodes toward their component minimum.
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    gamma_min = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    # No broadcast hint here or in _small_star: both join sides grow with
    # the graph, so AQE picks the build side at run time (on tiny graphs
    # it flips between runs; tests/test_plan_snapshot.py ALLOW_GROWTH).
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(gamma_min, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round on a (larger → smaller)-oriented edge set.

    For each node u with smaller neighbors N(u), let m = min(N(u));
    connect u and every other small neighbor to m. Flattens the tail
    of each star that large-star left behind.
    """
    gamma_min = edges.groupBy("u").agg(F.min("v").alias("m"))
    with_min = edges.join(gamma_min, "u")
    moved = with_min.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = gamma_min.select("u", F.col("m").alias("v"))
    return moved.union(self_edges).distinct()


def connected_components(
    pairs: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`.

    `component` is the minimum node id in the node's connected
    component (a deterministic canonical representative — exactly the
    "keep the smallest doc_id" dedup convention). Nodes with no edges
    don't appear; callers left-join and coalesce to self.

    Each iteration alternates large-star and small-star and checks the
    fixpoint (edge set unchanged). Near-dup graphs converge in 2–4
    rounds; `max_iter` is a safety net (O(log n) is the proven bound),
    and non-convergence raises rather than returning partial clusters.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        # Measured against the identity (q_llm_dedup_clusters): sf0.1
        # 4.20/3.83/3.67 vs 5.85/5.65/4.95 s, sf1.0 19.2/15.9/17.1 vs 20.6/19.7/19.5.
        .transform(materialize)
    )
    for _ in range(max_iter):
        # Measured against the identity (q_llm_dedup_clusters): sf0.1
        # 3.90/4.19/4.51 vs 7.76/8.64/8.71 s, sf1.0 16.5/16.7/16.8 vs 22.6/19.2/20.1.
        nxt = _small_star(_large_star(edges)).transform(materialize)
        # Both edge sets are distinct, so an edge in only one of them
        # sums to ±1: the fixpoint test is one aggregate over their
        # symmetric difference (one shuffle, one result job).
        tagged = nxt.withColumn("s", F.lit(1)).union(edges.withColumn("s", F.lit(-1)))
        unchanged = tagged.groupBy("u", "v").agg(F.sum("s").alias("s")).filter("s != 0").isEmpty()
        edges = nxt
        if unchanged:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # At the fixpoint every edge is (node → component-min); the roots
    # themselves appear only on the right side, so union them in.
    roots = edges.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (
        edges.union(roots)
        .distinct()
        .select(F.col("u").alias("node"), F.col("v").alias("component"))
    )
