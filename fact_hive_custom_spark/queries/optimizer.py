"""Optimizer-behavior operators (SURVEY.md §4): dynamic partition
pruning and the cost-based optimizer, exercised as first-class queries
so the correctness gate certifies their ANSWERS while tests/test_plans.py
pins their PLANS (dynamicpruningexpression in the scan; stats-informed
join reorder).

Both matter only at scale — at sf0.01 they save milliseconds, at 100 TB
DPP is the difference between scanning 7 and 365 date partitions, and
CBO join order between shuffling the fact table once or twice — which is
exactly why the plan shape, not the runtime, is the thing to assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.plans.stats import register_with_stats
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.sources.io import stage_dir
from fact_hive_custom_spark.tables import load_table


@register(
    "q_scan_dpp",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
    GROUP BY CAST(ts AS DATE)
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a date-partitioned fact joined to a
    calendar dim filtered to one week. The dim filter is only known at
    plan time on the DIM side — DPP turns it into a runtime
    PartitionFilter on the fact scan (reusing the dim's broadcast), so
    only 7 of 31 date directories are read. At 100 TB with 365+
    partitions this is the first-order scan optimization for star joins
    on the partition key. Plan assertion: tests/test_plans.py asserts
    `dynamicpruningexpression` inside the fact scan's PartitionFilters.

    One file per date partition (repartition on the partition column
    before the write) — the small-files discipline a daily-partitioned
    100 TB table needs.
    """
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    fact_path = stage_dir("events_by_date")
    ev.repartition("event_date").write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(fact_path)
    # partition discovery types event_date from the directory names
    fact = spark.read.parquet(fact_path)

    # Calendar dim as a real file source (not a literal LocalRelation) so
    # the week filter is a genuine scan predicate DPP can harvest.
    cal_path = stage_dir("calendar_dim")
    spark.range(0, 31).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d")
    ).coalesce(1).write.mode("overwrite").parquet(cal_path)
    dim = spark.read.schema("d DATE").parquet(cal_path).filter(
        (F.col("d") >= F.lit("2024-01-10")) & (F.col("d") <= F.lit("2024-01-16"))
    )

    return (
        fact.join(dim, fact.event_date == dim.d)
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "q_cbo_join_reorder",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 4) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY r.r_name
    """,
)
def q_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering over a 3-table star, written in the
    WORST order (fact ⋈ unfiltered dim first, filtered dim last). With
    ANALYZE'd statistics + spark.sql.cbo.joinReorder, Catalyst rewrites
    it to (nation ⋈ filtered region) ⋈ customer — the dim cluster
    collapses to a handful of rows before the fact table is touched.
    At 100 TB that ordering is the difference between one broadcast
    join and shuffling the fact twice. The reorder itself (top join
    flipping from n_regionkey to c_nationkey) is plan-asserted in
    tests/test_plans.py; CBO flags are restored after planning so the
    session is left as found."""
    names = register_with_stats(spark, sf_dir, ["customer", "nation", "region"])
    old_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    old_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        df = spark.sql(
            f"""
            SELECT r.r_name, COUNT(*) AS n_customers,
                   ROUND(SUM(c.c_acctbal), 4) AS total_acctbal
            FROM {names["customer"]} c
            JOIN {names["nation"]} n ON c.c_nationkey = n.n_nationkey
            JOIN {names["region"]} r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name IN ('ASIA', 'EUROPE')
            GROUP BY r.r_name
            """
        )
        # Force analysis + optimization while CBO is on; the optimized
        # plan is cached on the QueryExecution, so later execution uses
        # the reordered join even after the flags are restored.
        df._jdf.queryExecution().optimizedPlan()
        return df
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", old_reorder)


@register(
    "q_join_bloom",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective dim-side filter
    (URGENT orders, ~20%) whose key set Spark condenses into a bloom
    filter injected on the PROBE side of the shuffle join — probe rows
    that can't match are dropped BEFORE the shuffle, the runtime
    analogue of DPP for non-partition keys. At 100 TB this cuts the
    dominant cost (the fact-side exchange) by the filter's selectivity.

    The rule only fires when the creation side isn't broadcast-able, so
    the flags (incl. autoBroadcastJoinThreshold=-1) are set for ONE
    forced optimization (cached on this QueryExecution, the
    q_cbo_join_reorder trick) and restored; re-planning under default
    confs simply broadcasts instead — same rows either way. Plan
    assertion: tests/test_plans.py checks bloom_filter_agg +
    might_contain under these flags.
    """
    flags = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in flags}
    for k, v in flags.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, sf_dir, "lineitem")
        df = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                ).alias("price_c"),
            )
        )
        df._jdf.queryExecution().optimizedPlan()
        return df
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@register(
    "q_star_join_region",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
           COUNT(*) AS n_items
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
                    AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_star_join_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join (TPC-H Q5 shape): local-supplier revenue by
    nation for one region-year — the canonical snowflake probe for
    join ordering and broadcast planning.

    Physical strategy at 100 TB: region/nation are single-digit-row
    broadcasts (hinted — their parquet stats already qualify, the hint
    documents intent); the fact chain orders⋈lineitem shuffles on the
    orderkey; customer and supplier ride as broadcast or shuffle
    joins per AQE's runtime row counts. The region filter reaches the
    region scan and, through the n_regionkey chain, prunes nation
    BEFORE either fact table is touched — Catalyst pushes the derived
    predicates; nothing is hand-scheduled.

    Revenue is exact-integer (cents × discount-complement-percent,
    both 2-dp by data contract) so cross-engine sums are bit-equal.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    joined = (
        F.broadcast(r)
        .join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("bigint").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_tpch_q3",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue_e4 DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 shape): the highest-revenue
    orders placed before a cutoff date whose items are still unshipped
    after it, for one market segment — the classic dim-filter →
    fact-chain → top-k probe.

    Physical strategy at 100 TB: the segment filter reduces customer
    ~5× before it broadcasts (hinted — post-filter size is exactly the
    estimate Catalyst's stats can miss); orders⋈lineitem is the one
    real shuffle, on the orderkey both facts already share, with both
    date predicates pushed into their scans (PushedFilters — at scale,
    parquet row-group skipping on the date columns). The final top-10
    is TakeOrderedAndProject over the grouped rows — a per-partition
    heap merge, never a global sort. Revenue is exact-integer (cents ×
    discount-complement-percent), and the ORDER BY carries the
    orderkey tiebreak so LIMIT is deterministic on both engines.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    joined = (
        F.broadcast(c)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )
    return (
        joined.groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("o_orderkey"))
        .limit(10)
    )
