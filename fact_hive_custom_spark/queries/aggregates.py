"""Aggregation operators (SURVEY.md §2.2.D).

All aggregates are expressed with `df.groupBy().agg()` / `spark.sql`
built-ins, so Spark plans two-phase hash aggregation (partial map-side
combine → shuffle on the group keys → final) automatically — the
shape that scales to 100 TB. Floating aggregates are ROUND()ed per
SURVEY.md §7.4.2 so results are hash-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import load_table, register_views


@register(
    "q_agg_flagship",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        ROUND(SUM(l_quantity), 4)                                        AS sum_qty,
        ROUND(SUM(l_extendedprice), 4)                                   AS sum_base_price,
        ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
        ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
        ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
        ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
        ROUND(AVG(l_discount), 4)                                        AS avg_disc,
        COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 shape — multi-aggregate group-by over the fact table.

    Plan shape at scale: vectorized parquet scan with the shipdate
    predicate pushed to the reader, partial hash-agg per partition,
    shuffle on the (low-cardinality) group keys, final hash-agg.
    No custom code — Catalyst does partial aggregation automatically.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — post-aggregation filter."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase aggregate automatically."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@register(
    "q_agg_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one query (Expand-based plan)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "q_agg_approx_cd",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           true AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++) — the 100 TB path for
    distinct-user counts: constant memory per group vs the exact
    Expand-based plan.

    The HLL++ sketch value itself is engine-specific, so the oracle
    contract is the *accuracy bound*: emit the exact count plus a
    boolean `|approx - exact| / exact <= 5%` (5× the rsd=1% target).
    DuckDB reproduces the exact count and expects the bound to hold,
    which hash-verifies the sketch's accuracy, not its internals.
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            # Zero-guard: a group whose user_ids are all NULL has
            # exact_users = 0; the relative-error expression would be
            # NULL there while the oracle emits literal true. Both
            # sketches agree the group is empty, so the bound holds.
            F.when(
                F.col("exact_users") == 0, F.col("approx_users") == 0
            )
            .otherwise(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            )
            .alias("within_bound"),
        )
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() null-vs-subtotal disambiguation."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: year → month hierarchy of order totals."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            "o_totalprice",
        )
        .rollup("o_year", "o_month")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all subtotal combinations of status × priority."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/var/corr/covar), rounded per §7.4.2."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        )
    )


@register(
    "q_agg_minmax_by",
    oracle="""
    SELECT o_custkey,
           max_by(o_orderkey, o_totalprice) AS best_order,
           min_by(o_orderkey, o_totalprice) AS worst_order
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin: the order key at the extreme totalprice per customer."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("best_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("worst_order"),
        )
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation — sort_array for determinism (§7.4.4).

    Output is serialized to a comma string: the driver's value-hash can't
    hash Python lists, so both engines emit the same scalar representation.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("l_linenumber"))).alias(
                "line_numbers"
            )
        )
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile (linear interpolation) per group."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
            F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        )
    )


@register(
    "q_agg_approx_pct",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS exact_p95,
           true AS within_bound
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_approx_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile (Greenwald-Khanna) — the scale path for
    quantiles: mergeable constant-size sketch, no global sort.

    Like q_agg_approx_cd, the sketch output is engine-specific, so the
    oracle contract is the accuracy bound: exact p95 plus a boolean
    `|approx - exact| / exact <= 5%` (GK at accuracy=10000 bounds rank
    error to N/10000, far inside 5% of value here).
    """
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("exact_p95"),
            F.approx_percentile("o_totalprice", F.lit(0.95), F.lit(10000)).alias("approx_p95"),
        )
        .select(
            "o_orderstatus",
            "exact_p95",
            # Zero/NULL-guard (see q_agg_approx_cd): an all-NULL price
            # group yields exact_p95 NULL (both sketches agree), an
            # all-zero group yields exact_p95 = 0 — either way the
            # division form would not be literal true like the oracle.
            F.when(
                F.col("exact_p95").isNull(), F.col("approx_p95").isNull()
            )
            .when(F.col("exact_p95") == 0, F.col("approx_p95") == 0)
            .otherwise(
                F.abs(F.col("approx_p95") - F.col("exact_p95")) / F.col("exact_p95")
                <= 0.05
            )
            .alias("within_bound"),
        )
    )


@register(
    "q_agg_first_last",
    oracle="""
    SELECT o_custkey,
           min_by(o_orderpriority, o_orderkey) AS first_priority,
           max_by(o_orderpriority, o_orderkey) AS last_priority
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_agg_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first/last in group — expressed as min_by/max_by on an
    explicit unique order key (plain first()/last() are order-undefined
    after a shuffle; §7.4)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
            F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
        )
    )


@register(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS price_bin,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 2) AS bin_min,
           ROUND(MAX(l_extendedprice), 2) AS bin_max,
           ROUND(SUM(l_extendedprice), 2) AS bin_sum
    FROM lineitem
    GROUP BY price_bin
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram (5000-wide price bins) with per-bin
    extrema and mass — the profiling staple. The bin key is computed
    in codegen, so the plan is one partial+final hash aggregation on a
    small key domain; at 100 TB map-side partials reduce each bin to
    one row per task before the (tiny) shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.floor(F.col("l_extendedprice") / 5000.0).cast("bigint")
    return (
        li.groupBy(bin_col.alias("price_bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("bin_min"),
            F.round(F.max("l_extendedprice"), 2).alias("bin_max"),
            F.round(F.sum("l_extendedprice"), 2).alias("bin_sum"),
        )
    )


@register(
    "q_agg_sketch_rollup",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           true AS within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB pre-aggregation trick:
    fine-grained groups keep an HLL sketch (hll_sketch_agg), and any
    coarser rollup merges the stored sketches (hll_union_agg) instead
    of rescanning raw data. Here (returnflag, linestatus) sketches
    merge up to per-returnflag distinct-part estimates.

    Like q_agg_approx_cd, the oracle contract is the accuracy bound
    (merged estimate within 5% of the exact distinct count, rsd ≈1.6%
    at the default lgConfigK=12), because sketch bytes are
    engine-specific. The merge path itself is what's under test: a
    wrong union would blow the bound immediately.
    """
    li = load_table(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = fine.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_parts")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return exact.join(merged, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        F.when(F.col("exact_parts") == 0, F.col("approx_parts") == 0)
        .otherwise(
            F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
            <= 0.05
        )
        .alias("within_bound"),
    )


@register(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per order status via MERGEABLE bitmap
    sketches (Spark 4 bitmap_construct_agg): keys bucket into 32k-bit
    bitmaps per (status, bucket), and the rollup SUMS per-bucket
    bitmap_count — buckets partition the key space, so the sum IS the
    exact distinct count.

    Why not COUNT(DISTINCT) directly: bitmaps are the PRE-AGGREGABLE
    form — at 100 TB a daily (status, bucket, bitmap) table lets every
    later dashboard query roll up exact distincts (bitmap_or_agg for
    arbitrary re-grouping) without ever re-shuffling raw keys; this
    query demonstrates the two-level pattern. The oracle states plain
    COUNT(DISTINCT) — identical result, the point of the rollup."""
    o = load_table(spark, sf_dir, "orders")
    l1 = o.groupBy(
        "o_orderstatus",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias(
            "bm"
        )
    )
    return l1.groupBy("o_orderstatus").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


@register(
    "q_agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
               AS n_big,
           CAST(COUNT(*) FILTER (WHERE l_discount = 0) AS BIGINT)
               AS n_nodisc,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    FILTER (WHERE l_quantity > 25) AS BIGINT)
               AS big_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates (ANSI `FILTER (WHERE ...)`): several
    differently-conditioned aggregates in ONE pass over the fact
    table — the idiom that replaces N self-joining subqueries with one
    partial-aggregated scan. Spark parses the same clause; each
    filtered aggregate partial-aggregates map-side like any sum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("COUNT(*) FILTER (WHERE l_quantity > 25)")
        .cast("bigint")
        .alias("n_big"),
        F.expr("COUNT(*) FILTER (WHERE l_discount = 0)")
        .cast("bigint")
        .alias("n_nodisc"),
        F.expr(
            "SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) "
            "FILTER (WHERE l_quantity > 25)"
        )
        .cast("bigint")
        .alias("big_cents"),
    )


@register(
    "q_agg_decimal128",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                         AS DECIMAL(38,0))) AS VARCHAR) AS total_cents,
           CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                         AS DECIMAL(38,0))
                    * CAST(round(l_quantity) AS BIGINT))
                AS VARCHAR) AS qty_weighted_cents,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_decimal128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow-free money aggregation in DECIMAL(38,0) — the 128-bit
    accumulator SCALING.md prescribes once int64 cent-sums leave their
    headroom (~9.2e18: a 100 TB fact table of 1e12 rows × 1e5-cent
    prices needs ~1e17 per sum — fine — but any product-weighted
    moment, like the qty-weighted sum here, multiplies straight
    through that budget).

    Both engines accumulate in exact 128-bit decimal (Spark's Decimal
    on the JVM, DuckDB's HUGEINT-backed DECIMAL) and the result is
    emitted as a STRING: decimal-typed columns would hash differently
    (precision/scale metadata differs across engines), while the
    digit string is the portable exact value.

    Scale: partial (map-side) decimal sums merge associatively exactly
    like longs — same one-shuffle plan as q_agg_flagship, ~2× ALU cost
    per row, zero overflow risk at any scale factor."""
    li = load_table(spark, sf_dir, "lineitem")
    cents_dec = F.expr(
        "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))"
    )
    return li.groupBy("l_returnflag").agg(
        F.sum(cents_dec).cast("string").alias("total_cents"),
        F.sum(
            cents_dec * F.expr("CAST(round(l_quantity) AS BIGINT)")
        )
        .cast("string")
        .alias("qty_weighted_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_moments",
    oracle="""
    WITH p AS (
        SELECT l_returnflag AS flag,
               CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                    AS DECIMAL(38,0)) AS x
        FROM lineitem
    )
    SELECT flag,
           COUNT(*) AS n,
           CAST(SUM(x) AS VARCHAR) AS s1,
           CAST(SUM(x * x) AS VARCHAR) AS s2,
           CAST(SUM(x * x * x) AS VARCHAR) AS s3,
           CAST(SUM(x * x * x * x) AS VARCHAR) AS s4
    FROM p GROUP BY flag
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact raw power sums Σx..Σx⁴ per group in DECIMAL(38,0) — the
    mergeable sufficient statistics from which mean, variance,
    skewness, and kurtosis all derive EXACTLY, sidestepping the trap
    that the built-in `skewness`/`kurtosis` use different bias
    corrections across engines (Spark: population m₃/m₂^1.5; DuckDB:
    sample-adjusted) and float accumulation order besides.

    The 4th power forces 128-bit: cents ≤ 1e7 ⇒ x⁴ ≤ 1e28, × 6e6 rows
    at sf1.0 ≈ 1e35 — inside DECIMAL(38) with 3 decades to spare, far
    outside int64. Digit-string output keeps the hash portable
    (decimal precision metadata differs across engines). Note the
    Spark-side casts re-assert DECIMAL(38,0) after each multiply:
    Spark narrows intermediate decimal products to the operand
    precision budget, and an unchecked chain would overflow to NULL
    at p=38 — the oracle's HUGEINT path has no such narrowing.

    Scale: one partial-aggregated groupBy — identical shape to
    q_agg_flagship; moments merge associatively, so map-side combine
    does most of the work and the shuffle carries 4 decimals per
    group."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " AS DECIMAL(38,0))"
        ).alias("x"),
    )
    x2 = F.expr("CAST(x * x AS DECIMAL(38,0))")
    x3 = F.expr("CAST(CAST(x * x AS DECIMAL(38,0)) * x AS DECIMAL(38,0))")
    x4 = F.expr(
        "CAST(CAST(CAST(x * x AS DECIMAL(38,0)) * x AS DECIMAL(38,0))"
        " * x AS DECIMAL(38,0))"
    )
    return p.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("string").alias("s1"),
        F.sum(x2).cast("string").alias("s2"),
        F.sum(x3).cast("string").alias("s3"),
        F.sum(x4).cast("string").alias("s4"),
    )


@register(
    "q_agg_grouping_id",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS flag,
           COALESCE(l_linestatus, '<all>') AS status,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with explicit GROUPING markers: the gid column tells a
    consumer which aggregation level each row belongs to — essential
    once super-aggregate rows and genuine NULL group keys coexist
    (COALESCE alone cannot distinguish them; grouping() can).

    The marker is composed as grouping(a)·2 + grouping(b) IDENTICALLY
    on both engines rather than via grouping_id()/multi-arg GROUPING,
    whose bit conventions are the engine-specific part. Scale: same
    expand+partial-aggregate plan as q_agg_rollup — the markers are
    free metadata on rows the rollup already produces."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("SUM(CAST(round(l_quantity) AS BIGINT))")
            .cast("bigint")
            .alias("sum_qty"),
            (
                F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
            )
            .cast("bigint")
            .alias("gid"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("flag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias(
                "status"
            ),
            "gid",
            "n",
            "sum_qty",
        )
    )


_CMS_D = 4
_CMS_W = 64


@register(
    "q_agg_cms_estimate",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cms AS (
        SELECT j,
               ('0x' || substr(md5(tok || ':' || j), 1, 15))::BIGINT
                   % {_CMS_W} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM toks, unnest(generate_series(1, {_CMS_D})) AS t(j)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY tok
    ),
    probes AS (
        SELECT tok, cnt FROM exact
        ORDER BY cnt DESC, tok LIMIT 5
    ),
    est AS (
        SELECT p.tok, p.cnt,
               MIN(m.c) AS cms_est
        FROM probes p
        CROSS JOIN unnest(generate_series(1, {_CMS_D})) AS t(j)
        JOIN cms m
          ON m.j = t.j
         AND m.bucket = ('0x' || substr(md5(p.tok || ':' || t.j), 1, 15))::BIGINT
                        % {_CMS_W}
        GROUP BY p.tok, p.cnt
    )
    SELECT tok, cnt AS exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - cnt AS BIGINT) AS overcount
    FROM est ORDER BY exact_cnt DESC, tok
    """,
)
def q_agg_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch (d=4 rows × w=64 buckets) over the corpus
    token stream, point-queried for the 5 heaviest tokens against
    their exact counts — the mergeable fixed-size frequency sketch a
    streaming/telemetry layer keeps where exact per-key counts don't
    fit. The sketch is fully deterministic (portable 60-bit
    md5-prefix row hashes, the operators/dedup.py family), so the
    whole structure — cells, estimates, per-probe overcount — is
    oracle-checkable: CMS guarantees est ≥ exact, and the overcount
    column exposes the collision error the d×w budget buys.

    Plan: ONE token pass fans out d=4 (j, bucket) cells per token
    map-side and combines into the 256-cell sketch — the exchange
    carries ≤ d·w partial rows per task regardless of corpus size
    (THE sketch property; the exact side exists only as the oracle's
    ground truth and for the probe top-5). Probes attach to the
    sketch by broadcast."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    j = F.explode(F.expr(f"sequence(1, {_CMS_D})")).alias("j")
    bucket = F.expr(
        f"CAST(conv(substr(md5(concat(tok, ':', j)), 1, 15), 16, 10)"
        f" AS BIGINT) % {_CMS_W}"
    )
    cms = (
        toks.select("tok", j)
        .select("j", bucket.alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    probes = exact.orderBy(F.desc("cnt"), "tok").limit(5)
    pj = probes.select("tok", "cnt", j).select(
        "tok", "cnt", "j", bucket.alias("bucket")
    )
    return (
        pj.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
        .select(
            "tok",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "tok")
    )


_HLL_M = 64  # registers; alpha for m=64 is 0.709 (Flajolet et al. 2007)


@register(
    "q_agg_hll_custom",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    h AS (
        SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM (
            SELECT tok FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            )
        )
    ),
    reg AS (
        SELECT hv % {_HLL_M} AS bucket,
               MAX(CAST(floor(log2((hv // {_HLL_M}) & -(hv // {_HLL_M})) + 0.5)
                   AS BIGINT) + 1) AS rho
        FROM h WHERE hv // {_HLL_M} > 0
        GROUP BY 1
    ),
    acc AS (
        SELECT CAST(SUM(CAST(CAST(1 AS BIGINT) << (60 - rho) AS HUGEINT))
                    AS HUGEINT) AS s_used,
               CAST(COUNT(*) AS BIGINT) AS m_used
        FROM reg
    ),
    est AS (
        SELECT m_used,
               CAST(floor(
                   0.709 * {_HLL_M} * {_HLL_M}
                   * CAST(CAST(CAST(1 AS BIGINT) << 60 AS HUGEINT) AS DOUBLE)
                   / CAST(s_used + ({_HLL_M} - m_used)
                          * CAST(CAST(1 AS BIGINT) << 60 AS HUGEINT)
                          AS DOUBLE)
                   + 0.5) AS BIGINT) AS hll_est
        FROM acc
    ),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM toks)
    SELECT ex.n_exact, est.m_used, est.hll_est,
           CAST(abs(est.hll_est - ex.n_exact) * 1000000 // ex.n_exact
                AS BIGINT) AS rel_err_ppm
    FROM est CROSS JOIN ex
    """,
)
def q_agg_hll_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A from-scratch HyperLogLog (m=64 registers) over the corpus
    token stream, checked against the exact distinct count — the
    deterministic, ORACLE-CHECKABLE twin of q_agg_approx_cd (Spark's
    built-in HLL++ sketch cannot be reproduced in SQL; this one can,
    because every piece is portable: md5-prefix hashes, bucket = h %
    m, ρ = 1 + index of the lowest set bit of h/m via log2(h & −h) —
    log2 of an exact power of two is exact in IEEE double on both
    engines — and the harmonic denominator Σ2^(60−ρ) is a LITERAL
    integer sum on both engines: each term is an integer SHIFT
    (shiftleft / <<), never a double pow, so the exactness claim
    holds by construction (round-10 ADVICE: DuckDB's ** returns
    DOUBLE, which was only conditionally exact), and no float
    addition-order can diverge). The
    single double division is floor-pinned half-up; empty registers
    contribute 2^60 exactly as the algorithm requires. Completes the
    oracle-checked sketch family: CMS (q_agg_cms_estimate), Bloom
    (q_llm_bloom_vocab), MinHash (q_llm_minhash_est), SimHash, HLL.

    Plan: ONE token pass map-combines per-bucket maxima — the
    exchange carries ≤ m=64 (bucket, ρ) partials per task at ANY
    corpus size (the sketch property; the exact leg exists as ground
    truth). rel_err_ppm documents what m=64 buys (±1.04/√64 ≈ 13%
    theoretical)."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    d38 = "decimal(38,0)"
    h = toks.select(
        F.expr(
            "CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv")
    )
    reg = (
        h.filter(F.expr(f"hv DIV {_HLL_M} > 0"))
        .groupBy(F.expr(f"hv % {_HLL_M}").alias("bucket"))
        .agg(
            F.max(
                F.expr(
                    f"CAST(floor(log2((hv DIV {_HLL_M})"
                    f" & -(hv DIV {_HLL_M})) + 0.5) AS BIGINT) + 1"
                )
            ).alias("rho")
        )
    )
    acc = reg.agg(
        F.sum(F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), 60 - rho) AS {d38})"))
        .cast(d38)
        .alias("s_used"),
        F.count(F.lit(1)).cast("bigint").alias("m_used"),
    )
    est = acc.select(
        "m_used",
        F.expr(
            f"CAST(floor(0.709 * {_HLL_M} * {_HLL_M}"
            f" * CAST(CAST(shiftleft(CAST(1 AS BIGINT), 60) AS {d38}) AS DOUBLE)"
            f" / CAST(s_used + ({_HLL_M} - m_used)"
            f" * CAST(shiftleft(CAST(1 AS BIGINT), 60) AS {d38}) AS DOUBLE)"
            " + 0.5) AS BIGINT)"
        ).alias("hll_est"),
    )
    ex = toks.distinct().agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return est.crossJoin(F.broadcast(ex)).select(
        "n_exact",
        "m_used",
        "hll_est",
        F.expr(
            "CAST(abs(hll_est - n_exact) * 1000000 DIV n_exact AS BIGINT)"
        ).alias("rel_err_ppm"),
    )


_QSK_K = 256  # sketch size: bottom-k sample, ±~4·sqrt(q(1-q)/k) rank error


@register(
    "q_agg_quantile_sketch",
    oracle=f"""
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS val_cents,
               strftime(l_shipdate, '%Y-%m') AS shard,
               ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                   || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS hv,
               l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_shipdate IS NOT NULL
          AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    ),
    shard_sk AS (
        SELECT * FROM v
        QUALIFY row_number() OVER (
            PARTITION BY shard
            ORDER BY hv, l_orderkey, l_linenumber, val_cents)
                <= {_QSK_K}
    ),
    merged AS (
        SELECT * FROM shard_sk
        QUALIFY row_number() OVER (
            ORDER BY hv, l_orderkey, l_linenumber, val_cents)
                <= {_QSK_K}
    ),
    ranked AS (
        SELECT val_cents,
               row_number() OVER (
                   ORDER BY val_cents, hv, l_orderkey, l_linenumber) AS vr
        FROM merged
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM v),
    sel AS (
        SELECT CAST(q_pct AS BIGINT) AS q_pct,
               (q_pct * {_QSK_K} + 99) // 100 AS idx
        FROM unnest([50, 95, 99]) AS t(q_pct)
    )
    SELECT s.q_pct, CAST({_QSK_K} AS BIGINT) AS sample_k, n.n_rows,
           r.val_cents AS est_cents
    FROM sel s JOIN ranked r ON r.vr = s.idx CROSS JOIN n
    ORDER BY q_pct
    """,
)
def q_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A from-scratch MERGEABLE quantile sketch (bottom-k / KMV
    sample): keep the k={_QSK_K} rows with the smallest deterministic
    md5-prefix hash of the row key, estimate any quantile from the
    retained sample at rank ⌈q·k⌉. Mergeability is exact by
    construction — bottom-k of a union IS the bottom-k of the unioned
    bottom-ks — demonstrated in-query: per-month partial sketches
    (the pre-aggregable p50/p95/p99 cells a recurring 100 TB
    dashboard stores) merge into the global sketch, and
    tests/test_operators.py asserts the merged sketch is IDENTICAL to
    a direct global bottom-k plus holds the ±4·√(q(1−q)/k) rank-error
    bound vs exact percentiles. Completes the oracle-checked sketch
    family (CMS, Bloom, MinHash, SimHash, HLL — round-10 verdict
    item 4): like them, the hash is the md5-prefix integer both
    engines compute identically, so the sketch itself is
    hash-compared, not just its estimates.

    Plan: the shard stage is one window per month partition (partial
    per-shard heaps, map-side filterable); the merge input is bounded
    at |shards|·k rows, the merge itself a TakeOrderedAndProject heap,
    and every later relation is ≤ k rows. The only corpus-wide
    aggregate is the exact row count (metadata the sketch carries
    anyway). Values never shuffle unhashed: the exchange carries
    (shard, hv, cents, key) for surviving sample rows only."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # NULL quarantine (fixture-drift rule, SURVEY.md §7.4): a NULL
    # price or key would enter the sketch with a NULL cents/hv, and
    # the engines order NULLs oppositely (Spark FIRST, DuckDB LAST) —
    # caught by tests/test_fixture_drift.py on the NULL-laden lineitem
    from fact_hive_custom_spark.tables import fan_out

    # fan_out BEFORE the md5 projection: the per-row sketch hash is
    # the dominant map cost and Catalyst fuses the projection into the
    # scan task — one row group locally = one serial task for 600k
    # md5s (r16; identity at scale, see tables.fan_out).
    v = fan_out(
        li.filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_shipdate").isNotNull()
            & F.col("l_orderkey").isNotNull()
            & F.col("l_linenumber").isNotNull()
        )
    ).select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
            "val_cents"
        ),
        F.date_format("l_shipdate", "yyyy-MM").alias("shard"),
        F.expr(
            "CAST(conv(substr(md5(CAST(l_orderkey AS STRING) || ':'"
            " || CAST(l_linenumber AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
        "l_orderkey",
        "l_linenumber",
    )
    # (hv, l_orderkey, l_linenumber) alone is NOT a total order: the
    # fixture carries duplicate (orderkey, linenumber) pairs with
    # different prices, so the md5 hash ties exactly and the bottom-k
    # boundary would pick among tied rows arbitrarily (caught as a
    # run-to-run flip by the NULL-lineitem drift test). val_cents
    # completes the key on both engines.
    wsh = Window.partitionBy("shard").orderBy(
        "hv", "l_orderkey", "l_linenumber", "val_cents"
    )
    shard_sk = (
        v.withColumn("rn", F.row_number().over(wsh))
        .filter(F.col("rn") <= _QSK_K)
        .drop("rn")
    )
    merged = shard_sk.orderBy(
        "hv", "l_orderkey", "l_linenumber", "val_cents"
    ).limit(_QSK_K)
    ranked = merged.withColumn(
        "vr",
        F.row_number().over(
            Window.orderBy("val_cents", "hv", "l_orderkey", "l_linenumber")
        ),
    ).select("val_cents", "vr")
    n = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    sel = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias("q_pct")
    ).select(
        F.col("q_pct").cast("bigint").alias("q_pct"),
        F.expr(f"(q_pct * {_QSK_K} + 99) DIV 100").alias("idx"),
    )
    return (
        sel.join(F.broadcast(ranked), F.col("vr") == F.col("idx"))
        .crossJoin(F.broadcast(n))
        .select(
            "q_pct",
            F.lit(_QSK_K).cast("bigint").alias("sample_k"),
            "n_rows",
            F.col("val_cents").alias("est_cents"),
        )
        .orderBy("q_pct")
    )


_THETA_K = 256  # KMV sketch size; relative error ~ 1/sqrt(K-2) ≈ 6.3%


def _theta_segs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (seg, ck) membership for the two customer segments —
    the theta sketch's input relation. Split out so the plan pin can
    assert its shape pre-checkpoint (tests/test_plans.py)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_custkey").isNotNull()
            & F.col("o_orderdate").isNotNull()
            & F.year("o_orderdate").isin(1996, 1997)
        )
        .select(
            F.year("o_orderdate").cast("bigint").alias("seg"),
            F.col("o_custkey").alias("ck"),
        )
        .distinct()
    )


def _theta_seg_sketch(segs: DataFrame) -> DataFrame:
    """Per-segment bottom-K KMV sketch (≤ 2K rows): md5-prefix hash,
    per-(seg, shard) bottom-K heaps (WindowGroupLimit), shard merge.
    Split out so the plan pin keeps asserting the WindowGroupLimit
    shape now that the query checkpoints the (tiny) result."""
    from pyspark.sql import Window

    hashed = segs.select(
        "seg",
        "ck",
        F.expr(
            "CAST(conv(substr(md5(concat('th:', CAST(ck AS STRING))), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("hv"),
        F.expr("ck % 16").alias("shard"),
    )
    w_shard = Window.partitionBy("seg", "shard").orderBy("hv", "ck")
    shard_sk = (
        hashed.withColumn("rn", F.row_number().over(w_shard))
        .filter(F.col("rn") <= _THETA_K)
        .drop("rn")
    )
    w_seg = Window.partitionBy("seg").orderBy("hv", "ck")
    return (
        shard_sk.withColumn("rn", F.row_number().over(w_seg))
        .filter(F.col("rn") <= _THETA_K)
        .drop("rn", "shard")
    )


@register(
    "q_agg_theta_sketch",
    oracle=f"""
    WITH segs AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS seg,
               o_custkey AS ck
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND year(o_orderdate) IN (1996, 1997)
    ),
    hashed AS (
        SELECT seg, ck,
               ('0x' || substr(md5('th:' || CAST(ck AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv,
               ck % 16 AS shard
        FROM segs
    ),
    shard_sk AS (
        SELECT * FROM hashed
        QUALIFY row_number() OVER (
            PARTITION BY seg, shard ORDER BY hv, ck) <= {_THETA_K}
    ),
    seg_sk AS (
        SELECT * FROM shard_sk
        QUALIFY row_number() OVER (
            PARTITION BY seg ORDER BY hv, ck) <= {_THETA_K}
    ),
    seg_stats AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_sk,
               CASE WHEN COUNT(*) < {_THETA_K}
                    THEN CAST(1 AS BIGINT) << 60
                    ELSE MAX(hv) END AS theta
        FROM seg_sk GROUP BY 1
    ),
    seg_est AS (
        SELECT s.seg,
               CAST(
                   (SELECT COUNT(*) FROM seg_sk k
                    WHERE k.seg = s.seg AND k.hv < s.theta)
                   * (CAST(1 AS HUGEINT) << 60) // s.theta AS BIGINT)
                   AS est
        FROM seg_stats s
    ),
    un_sk AS (
        SELECT hv FROM (SELECT DISTINCT hv FROM seg_sk) t
        QUALIFY row_number() OVER (ORDER BY hv) <= {_THETA_K}
    ),
    un_stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sk,
               CASE WHEN COUNT(*) < {_THETA_K}
                    THEN CAST(1 AS BIGINT) << 60
                    ELSE MAX(hv) END AS theta
        FROM un_sk
    ),
    un_est AS (
        SELECT CAST((SELECT COUNT(*) FROM un_sk k WHERE k.hv < u.theta)
               * (CAST(1 AS HUGEINT) << 60) // u.theta AS BIGINT) AS est
        FROM un_stats u
    ),
    theta_min AS (
        SELECT MIN(theta) AS tm FROM seg_stats
    ),
    inter_est AS (
        SELECT CAST(
            (SELECT COUNT(*) FROM seg_sk a JOIN seg_sk b
             ON a.hv = b.hv AND a.seg = 1996 AND b.seg = 1997
             WHERE a.hv < (SELECT tm FROM theta_min))
            * (CAST(1 AS HUGEINT) << 60) // (SELECT tm FROM theta_min)
            AS BIGINT) AS est
    ),
    exact AS (
        SELECT
            CAST(COUNT(DISTINCT ck) FILTER (WHERE seg = 1996) AS BIGINT)
                AS n_a,
            CAST(COUNT(DISTINCT ck) FILTER (WHERE seg = 1997) AS BIGINT)
                AS n_b,
            CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_union
        FROM segs
    ),
    exact_i AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_inter FROM (
            SELECT ck FROM segs WHERE seg = 1996
            INTERSECT
            SELECT ck FROM segs WHERE seg = 1997
        ) t
    )
    SELECT CAST({_THETA_K} AS BIGINT) AS sketch_k,
           e.n_a AS n_a_exact, e.n_b AS n_b_exact,
           e.n_union AS n_union_exact, i.n_inter AS n_inter_exact,
           (SELECT est FROM seg_est WHERE seg = 1996) AS est_a,
           (SELECT est FROM seg_est WHERE seg = 1997) AS est_b,
           (SELECT est FROM un_est) AS est_union,
           (SELECT est FROM inter_est) AS est_inter,
           CASE WHEN e.n_union = 0 THEN NULL
                ELSE CAST(abs((SELECT est FROM un_est) - e.n_union)
                     * 1000000 // e.n_union AS BIGINT)
           END AS err_union_ppm
    FROM exact e, exact_i i
    """,
)
def q_agg_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch SET ALGEBRA: estimate the union, intersection,
    and per-segment cardinalities of two customer segments (customers
    ordering in 1996 vs 1997 — the returning-customer overlap) from
    two mergeable bottom-k sketches, never materializing a distinct
    join. The audience-overlap primitive a 100 TB engine answers from
    pre-aggregated per-partition sketches: union of KMV sketches IS
    the bottom-k of the merged sketches (the q_agg_quantile_sketch
    mergeability argument), and intersection uses the standard
    restricted-sample estimator c·2^60/θ with θ = min(θ_A, θ_B),
    counting hashes BOTH sketches retain below θ. When a segment has
    fewer than K distinct members the sketch degrades to exact
    (θ = 2^60), so small segments cost nothing in accuracy.

    Like every sketch in the family (CMS, HLL, MinHash, SimHash,
    bottom-k quantiles), the hash is the deterministic md5-prefix
    integer both engines compute identically — the sketch itself is
    oracle-checked, exact counts ride along, and the union error is
    emitted in ppm (tests assert the ~1/sqrt(K−2) bound).

    Plan: the corpus collapses to distinct (segment, custkey) in one
    map-combined exchange; per-(segment, shard) bottom-k heaps run as
    WindowGroupLimit on 16-way salted shards (the quantile-sketch
    shard/merge discipline — no single-reducer sort of a segment),
    merges touch ≤ 16·K rows, and every estimator input is ≤ K rows."""
    d38 = "decimal(38,0)"
    segs = _theta_segs(spark, sf_dir)
    # Measured against the identity: sf0.1 1.68/2.29/1.56 vs
    # 1.91/2.93/2.34 s; sf1.0 not yet measured.
    seg_sk = _theta_seg_sketch(segs).transform(materialize)
    two60 = f"CAST(shiftleft(CAST(1 AS BIGINT), 60) AS {d38})"
    seg_stats = seg_sk.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sk"),
        F.expr(
            f"CASE WHEN COUNT(*) < {_THETA_K}"
            " THEN shiftleft(CAST(1 AS BIGINT), 60)"
            " ELSE MAX(hv) END"
        ).alias("theta"),
    )
    seg_counts = (
        seg_sk.join(F.broadcast(seg_stats), "seg")
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("seg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    seg_est = (
        seg_stats.join(seg_counts, "seg", "left")
        .select(
            "seg",
            F.expr(
                f"CAST(CAST(coalesce(c, CAST(0 AS BIGINT)) AS {d38})"
                f" * {two60} DIV theta AS BIGINT)"
            ).alias("est"),
        )
    )
    un_sk = seg_sk.select("hv").distinct().orderBy("hv").limit(_THETA_K)
    un_stats = un_sk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sk"),
        F.expr(
            f"CASE WHEN COUNT(*) < {_THETA_K}"
            " THEN shiftleft(CAST(1 AS BIGINT), 60)"
            " ELSE MAX(hv) END"
        ).alias("theta_u"),
    )
    # Totality: un_stats/theta_min are global aggs (always exactly one
    # row); LEFT-joining the ≤K-row sketch onto that single row under
    # the hv<θ predicate keeps the scalar side one row even when the
    # sketch (or a whole segment) is empty — matching the oracle's
    # scalar subqueries, which always return one row (r11 ADVICE).
    un_est = (
        un_stats.join(
            F.broadcast(un_sk), F.col("hv") < F.col("theta_u"), "left"
        )
        .groupBy("theta_u")
        .agg(F.count("hv").cast("bigint").alias("c"))
        .select(
            F.expr(
                f"CAST(CAST(c AS {d38}) * {two60} DIV theta_u AS BIGINT)"
            ).alias("est_union")
        )
    )
    theta_min = seg_stats.agg(F.min("theta").alias("tm"))
    a_sk = seg_sk.filter(F.col("seg") == 1996).select("hv")
    b_sk = seg_sk.filter(F.col("seg") == 1997).select("hv")
    inter_est = (
        theta_min.join(
            F.broadcast(a_sk.join(b_sk, "hv")),
            F.col("hv") < F.col("tm"),
            "left",
        )
        .groupBy("tm")
        .agg(F.count("hv").cast("bigint").alias("c"))
        .select(
            F.expr(f"CAST(CAST(c AS {d38}) * {two60} DIV tm AS BIGINT)")
            .alias("est_inter")
        )
    )
    exact = segs.agg(
        F.countDistinct(F.when(F.col("seg") == 1996, F.col("ck")))
        .cast("bigint")
        .alias("n_a_exact"),
        F.countDistinct(F.when(F.col("seg") == 1997, F.col("ck")))
        .cast("bigint")
        .alias("n_b_exact"),
        F.countDistinct("ck").cast("bigint").alias("n_union_exact"),
    )
    exact_i = (
        segs.filter(F.col("seg") == 1996)
        .select("ck")
        .join(segs.filter(F.col("seg") == 1997).select("ck"), "ck")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter_exact"))
    )
    # max() over the ≤1-row filtered frame = "the value, or NULL if the
    # segment is absent" — exactly the oracle's scalar-subquery shape.
    est_a = seg_est.filter(F.col("seg") == 1996).agg(
        F.max("est").alias("est_a")
    )
    est_b = seg_est.filter(F.col("seg") == 1997).agg(
        F.max("est").alias("est_b")
    )
    return (
        exact.crossJoin(F.broadcast(exact_i))
        .crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(un_est))
        .crossJoin(F.broadcast(inter_est))
        .select(
            F.lit(_THETA_K).cast("bigint").alias("sketch_k"),
            "n_a_exact",
            "n_b_exact",
            "n_union_exact",
            "n_inter_exact",
            "est_a",
            "est_b",
            F.col("est_union"),
            F.col("est_inter"),
            F.expr(
                "CASE WHEN n_union_exact = 0 THEN NULL"
                " ELSE CAST(abs(est_union - n_union_exact) * 1000000"
                " DIV n_union_exact AS BIGINT) END"
            ).alias("err_union_ppm"),
        )
    )
