"""The nearest-centre primitive (functions/vectors.py) on tiny literal
frames: sqdist's integer arithmetic, centre_array's cid order, and
argmin's tie rule — lowest cid among equal distances — for both the
integer-L2 form (k-means, PQ, IVF) and semdedup's −round(cos, 6)."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from fact_hive_custom_spark.functions.vectors import (
    argmin,
    centre_array,
    norm,
    sqdist,
)
from fact_hive_custom_spark.queries.llm_ops import _neg_cos6


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


def test_centre_array_sorted_by_cid(spark):
    cents = spark.createDataFrame(
        [(5, 1, [0]), (1, 1, [1]), (3, 1, [2]), (4, 2, [3]), (2, 2, [4])],
        "c bigint, m bigint, v array<bigint>",
    )
    (one,) = centre_array(cents, "c", "v").collect()
    assert [(p.cid, list(p.cv)) for p in one.cents] == [
        (1, [1]), (2, [4]), (3, [2]), (4, [3]), (5, [0])
    ]
    by_m = {
        r.m: [p.cid for p in r.cents]
        for r in centre_array(cents, "c", "v", "m").collect()
    }
    assert by_m == {1: [1, 3, 5], 2: [2, 4]}


def test_argmin_ties_to_lowest_cid_and_best_is_min(spark):
    # from (0, 0): cids 7 and 2 are both at L2² 2, cid 9 at 8; from
    # (3, 3): cid 9 alone is nearest (L2² 2)
    cents = spark.createDataFrame(
        [(7, [1, 1]), (9, [2, 2]), (2, [1, -1])], "cid bigint, cv array<bigint>"
    )
    rows = spark.createDataFrame(
        [(0, [0, 0]), (1, [3, 3])], "id bigint, v array<bigint>"
    )
    got = (
        rows.crossJoin(centre_array(cents, "cid", "cv"))
        .select("id", argmin("v", "cents", sqdist).alias("acc"))
        .select("id", "acc.best", "acc.cid")
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [(0, 2, 2), (1, 2, 9)]
    # the scaled form keeps the same rule: centres on the ×64 grid
    scaled = cents.select("cid", F.transform("cv", lambda x: x * 64).alias("cv"))
    got64 = (
        rows.crossJoin(centre_array(scaled, "cid", "cv"))
        .select(argmin("v", "cents", partial(sqdist, scale=64)).alias("acc"))
        .select("acc.best", "acc.cid")
        .collect()
    )
    assert sorted(tuple(r) for r in got64) == [(2 * 64 * 64, 2), (2 * 64 * 64, 9)]


def test_semdedup_argmin_ties_to_lowest_pid_on_rounded_cosine(spark):
    # pivot 7 is exactly parallel (cos 1.0); pivot 4 is off by 1e-4
    # (cos 1 − 5e-9), which rounds to 1.0 at 6 dp — a tie the lower
    # pivot id wins; pivot 1 is orthogonal
    pivots = spark.createDataFrame(
        [(7, [3.0, 0.0]), (4, [1.0, 0.0001]), (1, [0.0, 1.0])],
        "pivot_id bigint, pivot_vec array<double>",
    ).withColumn("pivot_nrm", norm(F.col("pivot_vec")))
    emb = spark.createDataFrame(
        [([2.0, 0.0],)], "embedding array<double>"
    ).withColumn("nrm", norm(F.col("embedding")))
    parr = centre_array(pivots, "pivot_id", F.struct("pivot_vec", "pivot_nrm"))
    (r,) = (
        emb.crossJoin(parr)
        .select(argmin("embedding", "cents", _neg_cos6, worst=2.0).alias("acc"))
        .select("acc.best", "acc.cid")
        .collect()
    )
    assert (r.cid, r.best) == (4, -1.0)
