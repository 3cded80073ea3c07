"""Scan / source / sink operators (SURVEY.md §2.2.A).

Scans go through `tables.load_table`: a parquet read with the schema
taken from the file footer, so planning runs no inference job. The
vectorized reader plus Catalyst give column pruning and predicate
pushdown for free; the queries here exist to *prove* that (tests
assert `PushedFilters` / `ReadSchema` in the physical plan,
tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import load_table


@register(
    "q_scan_parquet",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan: count + column checksums over the fact table."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").alias("sum_orderkey"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


@register(
    "q_scan_pruned",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruning scan: touches 1 of 11 lineitem columns.

    Catalyst prunes the reader schema to exactly the referenced columns
    (ReadSchema in the plan shows only l_returnflag) — at 100 TB this
    is the difference between reading ~1/11th of the bytes and all.
    """
    return load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_scan_filter_pushdown",
    oracle="""
    SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def q_scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown scan: the shipdate filter reaches the parquet
    reader (PushedFilters: [GreaterThanOrEqual(l_shipdate, …)]), letting
    row-group statistics skip whole chunks at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )
