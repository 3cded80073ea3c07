"""The nearest-centre primitive (functions/vectors.py) on tiny literal
frames: sqdist's integer arithmetic, and `nearest`'s rule — least
distance wins, the lowest cid among equal distances, `best` is the
least distance — for the integer-L2 form (k-means, PQ, IVF), the
per-subspace join of PQ, and semdedup's −round(cos, 6).

Each tie is listed in the order in which a min_by keyed on the
distance alone keeps the higher cid, so these tests fail if the cid
leaves the min_by key."""

from __future__ import annotations

from pyspark.sql import functions as F

from fact_hive_custom_spark.functions.vectors import nearest, norm, sqdist
from fact_hive_custom_spark.queries.llm_ops import _assign_pivots


def test_sqdist_scaled_matches_hand_value(spark):
    df = spark.createDataFrame(
        [([1, 2, 3], [60, 130, 192])], "a array<bigint>, b array<bigint>"
    )
    got = df.select(
        sqdist("a", "b", scale=64).alias("d"), sqdist("a", "a").alias("z")
    )
    # (64-60)² + (128-130)² + (192-192)² = 16 + 4 + 0
    assert got.schema["d"].dataType.simpleString() == "bigint"
    assert tuple(got.first()) == (20, 0)


def test_nearest_ties_to_lowest_cid_and_best_is_min(spark):
    # from (0, 0): cids 2 and 7 are both at L2² 2, cid 9 at 8; from
    # (3, 3): cid 9 alone is nearest (L2² 2)
    cents = spark.createDataFrame(
        [(2, [1, -1]), (9, [2, 2]), (7, [1, 1])], "cid bigint, cv array<bigint>"
    )
    rows = spark.createDataFrame(
        [(0, [0, 0]), (1, [3, 3])], "id bigint, v array<bigint>"
    )

    def got(centres, dist):
        out = nearest(rows, centres, "id", "cid", dist)
        return [tuple(r) for r in out.select("id", "best", "cluster").orderBy("id").collect()]

    assert got(cents, sqdist("v", "cv")) == [(0, 2, 2), (1, 2, 9)]
    # the scaled form keeps the same rule: centres on the ×64 grid
    scaled = cents.select("cid", F.transform("cv", lambda x: x * 64).alias("cv"))
    assert got(scaled, sqdist("v", "cv", scale=64)) == [
        (0, 2 * 64 * 64, 2),
        (1, 2 * 64 * 64, 9),
    ]


def test_nearest_on_subspace_joins_only_its_centres(spark):
    # subspace 1: cids 3 and 5 tie at L2² 2; subspace 2: cid 8 at 1.
    # cid 8 would also be nearest in subspace 1 if the join ignored m.
    cents = spark.createDataFrame(
        [(1, 5, [1, 1]), (1, 3, [1, -1]), (2, 4, [5, 5]), (2, 8, [0, 1])],
        "m bigint, cid bigint, cv array<bigint>",
    )
    rows = spark.createDataFrame(
        [(0, 1, [0, 0]), (0, 2, [0, 0])], "id bigint, m bigint, v array<bigint>"
    )
    out = nearest(rows, cents, ["id", "m"], "cid", sqdist("v", "cv"), on="m")
    got = {(r.id, r.m): (r.cluster, r.best) for r in out.collect()}
    assert got == {(0, 1): (3, 2), (0, 2): (8, 1)}


def test_semdedup_nearest_ties_to_lowest_pid_on_rounded_cosine(spark):
    # pivot 7 is exactly parallel (cos 1.0); pivot 4 is off by 1e-4
    # (cos 1 − 5e-9), which rounds to 1.0 at 6 dp — a tie the lower
    # pivot id wins; pivot 1 is orthogonal
    pivots = spark.createDataFrame(
        [(4, [1.0, 0.0001]), (7, [3.0, 0.0]), (1, [0.0, 1.0])],
        "pivot_id bigint, pivot_vec array<double>",
    ).withColumn("pivot_nrm", norm(F.col("pivot_vec")))
    emb = spark.createDataFrame(
        [(0, [2.0, 0.0])], "vec_id bigint, embedding array<double>"
    ).withColumn("nrm", norm(F.col("embedding")))
    (r,) = _assign_pivots(emb, pivots).collect()
    assert (r.vec_id, r.cluster, list(r.embedding), r.nrm) == (0, 4, [2.0, 0.0], 2.0)
