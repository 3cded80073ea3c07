"""Hot-key (skewed-fixture) pins — VERDICT r12 item 1.

Opt-in, like tests/test_scale.py:

    python tools/make_scale_fixture.py          # → .scale/sf1.0
    python tools/make_skew_fixture.py           # → .scale/sf1.0-skew
    SPARK_GRAFT_SKEW_DIR=/root/repo/.scale/sf1.0-skew \
        python -m pytest tests/test_skew.py -q

What's pinned (the wall-clock story lives in SKEW_r13.md, produced by
tools/skew_sweep.py — these tests pin the MECHANISMS):

- the fixture really is skewed (one user_id ≈ 20% of events, one
  supplier ≈ 20% of lineitem);
- AQE's skew-split actually fires on the hot shuffle join
  (SortMergeJoin(skew=true) + "AQEShuffleRead … skewed" in the
  finalized plan) once its byte thresholds see the skew — at cluster
  scale the defaults (256 MB) see a 20-TB hot key without tuning;
- the salted remedies stay EXACT on the hot key: salted_join /
  salted_aggregate equal their plain equivalents on the skewed data,
  and q_udf_cogroup spreads the hot user over several pandas calls
  and still equals its JVM reference.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fact_hive_custom_spark.operators.skew import salted_aggregate, salted_join
from fact_hive_custom_spark.tables import load_table

SKEW_DIR = os.environ.get("SPARK_GRAFT_SKEW_DIR")

pytestmark = pytest.mark.skipif(
    not SKEW_DIR, reason="set SPARK_GRAFT_SKEW_DIR to run the skew suite"
)


def test_fixture_has_hot_keys(spark):
    ev = load_table(spark, SKEW_DIR, "events")
    top, total = (
        ev.groupBy("user_id").count().orderBy(F.desc("count")).first()["count"],
        ev.count(),
    )
    assert 0.15 <= top / total <= 0.25, f"hot user holds {top}/{total}"
    li = load_table(spark, SKEW_DIR, "lineitem")
    ltop, ltotal = (
        li.groupBy("l_suppkey").count().orderBy(F.desc("count")).first()["count"],
        li.count(),
    )
    assert 0.15 <= ltop / ltotal <= 0.25, f"hot supplier holds {ltop}/{ltotal}"


def test_aqe_skew_split_fires_on_hot_join(spark):
    """The engine's first line of defense needs no code: AQE splits
    the hot partition at runtime. Thresholds are lowered to engage at
    fixture scale (the 20%-hot partition is ~20 MB here, 20 TB at
    target scale where the 256 MB default sees it unaided). With P
    shuffle partitions the hot supplier's partition holds 20% + 80%/P
    of lineitem against 80%/P for the median, so the factor of 2 (a
    strict bound) needs P > 4: 16 here, whatever the core count."""
    confs = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SKEW_DIR, "lineitem").select(
            "l_suppkey", "l_quantity"
        )
        supp = load_table(spark, SKEW_DIR, "supplier").select(
            F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
        )
        df = li.join(supp, "l_suppkey")
        jqe = df._jdf.queryExecution()
        jqe.executedPlan().execute().count()  # finalize AQE, JVM-side
        plan = jqe.executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan[:2000]
    assert any(
        "AQEShuffleRead" in l and "skewed" in l for l in plan.splitlines()
    ), plan[:2000]


def test_salted_join_exact_on_hot_key(spark):
    """salted_join must be a pure physical rewrite: same multiset of
    joined rows as the plain join, measured where it matters — the
    fixture whose hot supplier holds ~20% of the fact."""
    li = load_table(spark, SKEW_DIR, "lineitem").select(
        "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, SKEW_DIR, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )

    def agg(df):
        return sorted(
            df.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("q"),
            )
            .collect()
        )

    assert agg(salted_join(li, supp, on=["l_suppkey"], salt=8)) == agg(
        li.join(supp, "l_suppkey")
    )


def test_salted_agg_exact_on_hot_key(spark):
    ev = load_table(spark, SKEW_DIR, "events")
    salted = salted_aggregate(
        ev,
        key=["user_id"],
        salt=8,
        n=("user_id", "count"),
        vmax=("value", "max"),
    )
    plain = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("vmax")
    )
    s = {r["user_id"]: (r["n"], r["vmax"]) for r in salted.collect()}
    p = {r["user_id"]: (r["n"], r["vmax"]) for r in plain.collect()}
    assert s == p


def test_cogroup_two_phase_salts_hot_key_and_stays_exact(spark):
    """q_udf_cogroup on the hot-key fixture: the salt spreads the hot
    user's events over more than one pandas call (one pre-merge
    partial row per bucket it reached) instead of one straggler call,
    and the merged result equals the single-phase answer exactly (the
    partials are an integer commutative monoid)."""
    from fact_hive_custom_spark.queries import QUERIES
    from fact_hive_custom_spark.queries.udfs import cogroup_partials

    ev = load_table(spark, SKEW_DIR, "events")
    hot_user, hot_n = (
        ev.groupBy("user_id")
        .count()
        .orderBy(F.desc("count"))
        .first()[0:2]
    )
    hot_calls = (
        cogroup_partials(spark, SKEW_DIR)
        .filter((F.col("k") == hot_user) & ~F.col("kn") & (F.col("side") == 1))
        .count()
    )
    assert hot_calls > 1, (
        f"hot user {hot_user} ({hot_n} events) reached {hot_calls} pandas call(s)"
    )

    got = {
        r["custkey"]: (r["n_orders"], r["spend_c"], r["n_events"], r["value_e4"])
        for r in QUERIES["q_udf_cogroup"](spark, SKEW_DIR).collect()
    }
    # single-phase reference computed JVM-side (same integer units)
    o = load_table(spark, SKEW_DIR, "orders").groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "spend_c"
        ),
    )
    e = ev.groupBy(F.col("user_id").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias(
            "value_e4"
        ),
    )
    ref = {
        r["custkey"]: (
            r["n_orders"] or 0,
            r["spend_c"] or 0,
            r["n_events"] or 0,
            r["value_e4"] or 0,
        )
        for r in o.join(e, "custkey", "full").collect()
    }
    assert got == ref
    # the hot key's row survives the merge with the full event count
    assert got[hot_user][2] == hot_n


def test_fixture_has_hot_shingle(spark):
    """The documents side of the skew fixture: one boilerplate header
    (25 tokens → 23 identical 3-gram shingles) in ~20% of docs."""
    from fact_hive_custom_spark.operators.dedup import shingles

    docs = load_table(spark, SKEW_DIR, "documents")
    n_docs = docs.count()
    top_df = (
        shingles(docs, k=3)
        .groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .agg(F.max("df"))
        .first()[0]
    )
    assert 0.15 * n_docs <= top_df <= 0.25 * n_docs, (
        f"hottest shingle in {top_df}/{n_docs} docs"
    )


def test_minhash_cap_bounds_hot_shingle_candidates(spark):
    """Round-14 cap fix (VERDICT r13 item 6): uncapped, the
    boilerplate header drives band buckets to ~1500 docs and the
    candidate pair count ~95× (19k → 1.8M measured). With the df ≤
    1000 cap the banding runs on informative shingles only — pin that
    the capped bucket census on the HOT fixture stays near the
    uniform fixture's scale."""
    from pyspark.sql import Window as W

    from fact_hive_custom_spark.operators.dedup import (
        hashed_shingles,
        minhash_signatures,
    )

    sh = (
        hashed_shingles(load_table(spark, SKEW_DIR, "documents"), k=3)
        .withColumn(
            "__df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
        )
        .filter(F.col("__df") <= 1000)
        .drop("__df")
    )
    sig = minhash_signatures(sh, num_hashes=24)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * 3 + r}") for r in range(3)],
                    F.lit(10_000 + b),
                ).alias("bucket"),
            )
            for b in range(8)
        ]
    )
    buckets = (
        sig.select("doc_id", F.explode(bands).alias("bb"))
        .select("doc_id", F.col("bb.band"), F.col("bb.bucket"))
    )
    stats = (
        buckets.groupBy("band", "bucket")
        .count()
        .agg(
            F.max("count").alias("max_bucket"),
            F.sum(F.expr("count * (count - 1) / 2"))
            .cast("bigint")
            .alias("cand_pairs"),
        )
        .first()
    )
    # uncapped measured: max_bucket 1539, cand_pairs 1.82M
    assert stats["max_bucket"] <= 50, stats
    assert stats["cand_pairs"] <= 100_000, stats


@pytest.mark.parametrize(
    "name",
    [
        "q_llm_minhash_lsh",
        "q_llm_prefix_jaccard",
        "q_llm_span_dedup",
        "q_llm_jaccard_dedup",
        # round 15: the unaligned (content-defined-anchor) detector
        # must also stay oracle-green when 20% of docs share a
        # boilerplate header — its anchors are offset-independent, so
        # the hot block collides at every offset by design.
        "q_llm_substring_dedup",
    ],
)
def test_dedup_family_parity_on_hot_shingle_corpus(spark, name):
    """The dedup queries must stay ORACLE-GREEN on the hot-shingle
    corpus, not just fast: the capped minhash/jaccard semantics and
    the uncapped prefix path are each mirrored by their SQL oracles,
    so both engines agree even when 20% of docs share a header."""
    from tests.parity import compare

    ok, detail = compare(spark, name, SKEW_DIR, rtol=1e-9, digest_threshold=200_000)
    assert ok, f"{name} on hot-shingle corpus: {detail}"
