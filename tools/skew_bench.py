#!/usr/bin/env python
"""Skew measurement: hot-key join under (a) nothing, (b) AQE skew
split, (c) manual salting — measured, not argued.

Builds a deliberately skewed join from the lineitem fixture: a derived
key that lands ~half of all rows on ONE value (top-key share is
printed), joined to a 1 000-row dim. Broadcast is disabled so the join
is the shuffle kind skew actually hurts (a broadcast join is the
FIRST remedy for a skewed dim join — this bench measures the case
where the build side is too big or the engine must shuffle anyway).

AQE's skew split fires on byte thresholds tuned for clusters
(256 MB / factor 5); at fixture scale those are lowered so the
mechanism engages — what transfers to 100 TB is the RATIO between the
three rows and the partition histograms, not the absolute seconds.

Usage: python tools/skew_bench.py [sf_dir] > skew report (markdown)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1.0"

    from pyspark.sql import functions as F

    from fact_hive_custom_spark.materialize import materialize
    from fact_hive_custom_spark.operators.skew import salted_join
    from fact_hive_custom_spark.session import get_session
    from fact_hive_custom_spark.tables import load_table

    spark = get_session("skew-bench", quiet=True)

    # skewed fact: ~50% of rows share key 0, rest spread over 1..999
    fact = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn(
            "k",
            F.when(F.xxhash64("l_orderkey", "l_linenumber") % 2 == 0, F.lit(0))
            .otherwise(F.abs(F.xxhash64("l_linenumber", "l_orderkey")) % 1000),
        )
        .select("k", "l_quantity", "l_extendedprice")
        .transform(materialize)
    )
    n = fact.count()
    dim = (
        spark.range(1000)
        .select(F.col("id").cast("long").alias("k"), (F.col("id") * 7).alias("payload"))
        .transform(materialize)
    )

    top = fact.groupBy("k").count().orderBy(F.desc("count")).first()
    print("# Skew join measurement")
    print()
    print(f"Fixture: `{sf_dir}` — fact {n} rows, dim 1000 rows;")
    print(f"hottest key holds {top['count']} rows "
          f"(**{100.0 * top['count'] / n:.1f}% of the fact**).")
    print()
    print("Shuffle join forced (autoBroadcastJoinThreshold=-1). AQE skew")
    print("thresholds lowered to engage at fixture scale "
          "(threshold 8 MB, advisory 4 MB); the transferable result is")
    print("the ratio column. Generated by `tools/skew_bench.py`.")
    print()

    def joined(use_salt: bool):
        if use_salt:
            j = salted_join(fact, dim, on=["k"], salt=32)
        else:
            j = fact.join(dim, "k")
        return j.agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )

    def run(label: str, use_salt: bool, skew_split: bool) -> tuple[float, int]:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_split).lower())
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        best = float("inf")
        rows = None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = joined(use_salt).collect()
            best = min(best, time.perf_counter() - t0)
        assert rows is not None
        return best, rows[0]["c"]

    base_sec, base_c = run("none", use_salt=False, skew_split=False)
    aqe_sec, aqe_c = run("aqe", use_salt=False, skew_split=True)
    salt_sec, salt_c = run("salt", use_salt=True, skew_split=False)
    assert base_c == aqe_c == salt_c, (base_c, aqe_c, salt_c)

    # restore session defaults
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

    print("| remedy | wall s (best of 3) | vs none |")
    print("|---|---|---|")
    print(f"| none (one hot SMJ partition) | {base_sec:.2f} | 1.00× |")
    print(f"| AQE skew split | {aqe_sec:.2f} | {base_sec / aqe_sec:.2f}× |")
    print(f"| salted_join(salt=32) | {salt_sec:.2f} | {base_sec / salt_sec:.2f}× |")
    print()
    print(f"All three joins agree on the result ({base_c} joined rows).")
    print("At 100 TB the 'none' row is not a slowdown but an OOM: one")
    print("executor receives half the fact. AQE's split is free and")
    print("automatic where its byte thresholds see the skew; salting is")
    print("the deterministic fallback for aggregation pipelines and for")
    print("skew AQE cannot reach (e.g. hot keys inside a single stage).")


if __name__ == "__main__":
    main()
