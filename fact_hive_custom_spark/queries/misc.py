"""Miscellaneous operator coverage: bitwise/boolean/distinct
aggregates, hash functions, seeded sampling — rounding out the SQL
surface a reference user would expect."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.operators.skew import salted_aggregate, salted_join
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import load_table


@register(
    "q_agg_bitwise",
    oracle="""
    SELECT l_returnflag,
           bit_and(l_linenumber) AS and_all,
           bit_or(l_linenumber)  AS or_all,
           bit_xor(l_linenumber) AS xor_all
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and/bit_or/bit_xor) — associative and
    commutative, so partial aggregation applies like any sum."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bit_and("l_linenumber").alias("and_all"),
            F.bit_or("l_linenumber").alias("or_all"),
            F.bit_xor("l_linenumber").alias("xor_all"),
        )
    )


@register(
    "q_agg_bool",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)  AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every / any)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_sum_distinct",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(DISTINCT l_quantity), 4) AS sum_distinct_qty,
           ROUND(AVG(DISTINCT l_quantity), 4) AS avg_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM/AVG over DISTINCT values (dedup inside the aggregate)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum_distinct(F.col("l_quantity")), 4).alias("sum_distinct_qty"),
            F.expr("ROUND(AVG(DISTINCT l_quantity), 4)").alias("avg_distinct_qty"),
        )
    )


@register(
    "q_agg_mode",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS mode_event_type, cnt AS n_occurrences
    FROM c
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY cnt DESC, event_type
    ) = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (most frequent event type per user) with a
    DETERMINISTIC tiebreak (count desc, then lexicographic) — the
    builtin `mode()` leaves ties engine-defined, so the portable form
    is count + row_number, which also partial-aggregates: the shuffle
    carries (user, type, partial-count) triples, and both the count and
    the window key on user_id, reusing one partitioning."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("cnt").alias("n_occurrences"),
        )
    )


@register(
    "q_fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text) AS h_md5,
           sha256(text) AS h_sha256,
           substr(md5(text), 1, 8) AS h_short
    FROM documents
    """,
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash function family (md5 / sha2-256) — the primitives under
    exact dedup, fingerprinting, and salted repartitioning."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
        F.substring(F.md5("text"), 1, 8).alias("h_short"),
    )


@register(
    "q_sample",
    oracle="""
    SELECT COUNT(*) AS n_sampled,
           ROUND(AVG(l_quantity), 4) AS avg_qty_est
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)),
                 1, 8) < '1999999a'
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample + aggregate — the
    cheap-estimate path for interactive exploration over 100 TB.

    Sampling predicate is a *portable* hash threshold: keep rows whose
    md5(primary key) prefix falls below 0.1 of the 32-bit hex space
    (0x19999999/0x100000000 ≈ 0.1). Unlike `df.sample(seed=...)`, the
    sampled SET is engine- and layout-independent, so the driver can
    hash-compare it against the DuckDB oracle; it is also stable under
    repartitioning, which `sample()` is not — at 100 TB that means a
    reproducible sample regardless of cluster width. Lexicographic
    compare of fixed-width lowercase hex == numeric compare.
    """
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return (
        li.filter(F.substring(F.md5(key), 1, 8) < "1999999a")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty_est"),
        )
    )


@register(
    "q_skew_salted_join",
    oracle="""
    SELECT s.s_nationkey, COUNT(*) AS n_items,
           ROUND(SUM(l.l_quantity), 4) AS total_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join (operators/skew.py): the fact side gets a
    deterministic salt, the small dimension is replicated salt×, so one
    hot supplier key spreads over `salt` partitions instead of
    straggling one reducer. The oracle is the PLAIN join — the driver
    gate certifies result equivalence, not just the pytest property."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey", "l_quantity")
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, on=["l_suppkey"], salt=8, how="inner")
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
    )


@register(
    "q_skew_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user
    FROM events
    GROUP BY event_type
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-level aggregation (operators/skew.py): phase 1 on
    (key, salt) splits a hot key across 8 reducers, phase 2 merges the
    algebraic partials. Oracle is the plain GROUP BY — driver-certified
    equivalence. value sums are rounded AFTER the final merge, so the
    float addition order inside partials never reaches the hash."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        key=["event_type"],
        salt=8,
        n=("event_type", "count"),
        total_value=("value", "sum"),
        min_user=("user_id", "min"),
        max_user=("user_id", "max"),
    )
    return out.select(
        "event_type", "n", F.round("total_value", 4).alias("total_value"),
        "min_user", "max_user",
    )


@register(
    "q_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) FROM orders
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) FROM orders)
    )
    SELECT months.m AS month_start, COALESCE(g.n, 0) AS n_orders
    FROM months LEFT JOIN (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, COUNT(*) AS n
        FROM orders GROUP BY 1
    ) g ON months.m = g.m
    """,
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.0 WITH RECURSIVE): generate the dense
    month spine from MIN to MAX order date — including months with zero
    orders, which a plain GROUP BY cannot produce — then left-join the
    per-month counts. The classic gap-filling calendar pattern."""
    view = f"orders_rcte_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        WITH RECURSIVE months(m) AS (
            SELECT CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE) FROM {view}
            UNION ALL
            SELECT add_months(m, 1) FROM months
            WHERE m < (SELECT CAST(date_trunc('MONTH', MAX(o_orderdate)) AS DATE) FROM {view})
        )
        SELECT months.m AS month_start, COALESCE(g.n, 0) AS n_orders
        FROM months LEFT JOIN (
            SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m, COUNT(*) AS n
            FROM {view} GROUP BY 1
        ) g ON months.m = g.m
        """
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names,
           COUNT(*) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the names in
    each region, comma-joined in a DETERMINISTIC order — the report
    column every BI export wants. Spark's collect_list order is
    partition-arrival nondeterministic, so the composition is
    collect_list → array_sort → concat_ws; the explicit sort is what
    makes the result reproducible (and oracle-checkable) on any
    cluster.

    Scale note: the aggregate state is the group's full value list —
    fine for bounded groups (25 nations); for high-cardinality groups
    cap with slice(array_sort(...), 1, k) so state stays bounded.
    """
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
            "names"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_sql_parameterized",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_totalprice < 150000.0
    GROUP BY o_orderstatus
    """,
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(query, args=...)): the date and
    price thresholds bind as NAMED PARAMETERS, not string-interpolated
    literals — the injection-safe templating surface an engine exposes
    to applications (PARAMETER MARKERS in the parsed plan, values
    attached after parse). Catalyst still constant-folds and pushes
    the bound predicates into the scan exactly as with literals.
    """
    from fact_hive_custom_spark.tables import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        WHERE o_orderdate >= CAST(:cutoff AS TIMESTAMP)
          AND o_totalprice < :max_price
        GROUP BY o_orderstatus
        """,
        args={"cutoff": "1996-01-01 00:00:00", "max_price": 150000.0},
    )


@register(
    "q_quality_fk_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
               AS n_null_key,
           CAST(COUNT(*) FILTER (
               WHERE l_orderkey IS NOT NULL AND o_orderkey IS NULL)
               AS BIGINT) AS n_orphan
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orders->customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE o_custkey IS NOT NULL AND c_custkey IS NULL)
               AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'customer->nation',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE c_nationkey IS NULL) AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE c_nationkey IS NOT NULL AND n_nationkey IS NULL)
               AS BIGINT)
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    UNION ALL
    SELECT 'events->customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE user_id IS NOT NULL AND c_custkey IS NULL)
               AS BIGINT)
    FROM events LEFT JOIN customer ON user_id = c_custkey
    """,
)
def q_quality_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the snowflake: for each FK
    edge, total rows, NULL keys, and orphans (non-NULL key with no
    parent) — the data-quality contract check a pipeline runs before
    trusting a new fixture drop, and exactly the probe that would have
    caught the round-3 fixture drift at ingest instead of at the gate.

    Each edge is one LEFT join + conditional counts in a single
    aggregation pass (no per-check subquery rescans); NULL keys are
    counted separately from orphans because a NULL FK never joins on
    either engine and conflating the two hides which contract broke.

    Scale: dimension parents (customer, nation) broadcast; the
    lineitem->orders edge is the one real shuffle, on the same
    orderkey the warehouse already buckets by (q_join_bucketed makes
    it exchange-free). Audit output is 4 rows regardless of input
    size."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")

    def audit(name, child, ckey, parent, pkey):
        j = child.join(parent, F.col(ckey) == F.col(pkey), "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(F.col(ckey).isNull(), 1))
            .cast("bigint")
            .alias("n_null_key"),
            F.count(
                F.when(
                    F.col(ckey).isNotNull() & F.col(pkey).isNull(), 1
                )
            )
            .cast("bigint")
            .alias("n_orphan"),
        ).select("fk", "n_rows", "n_null_key", "n_orphan")

    return (
        audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(audit("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(
            audit("customer->nation", c, "c_nationkey", n, "n_nationkey")
        )
        .unionAll(audit("events->customer", ev, "user_id", c, "c_custkey"))
    )


@register(
    "q_sql_pipe",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operators): the same
    filter→aggregate→order chain a warehouse user writes top-to-bottom
    instead of inside-out — each `|>` stage lowers to the identical
    logical plan as the classic form (the oracle IS that classic
    form), so Catalyst optimizes both the same way; this is a parser
    surface, not a new executor. Exact-cents money, deterministic
    ORDER BY."""
    view = f"li_pipe_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        FROM {view}
        |> WHERE l_quantity > 10
        |> AGGREGATE COUNT(*) AS n_lines,
                     CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                          AS BIGINT) AS price_cents
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        """
    )


@register(
    "q_metrics_observe",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_e2
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_metrics_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline audit counters riding a report query — the engine's
    metrics surface (fact_hive_custom_spark/metrics.py, reference
    analogue: the empty `h-stats.sh:1` stats hook) exercised on a
    registered query. `df.observe(Observation)` attaches accumulator
    metrics (input rows, pre-aggregation revenue) that are collected
    DURING the same action with zero extra passes — at 100 TB the
    alternative ("count the input again") is a second full scan. The
    observation is a side channel: the RESULT is the plain
    status-filtered priority report, identical on both engines, so
    the oracle checks it row-for-row; tests/test_metrics.py checks
    the observed counters themselves."""
    from fact_hive_custom_spark.metrics import observed

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    audited, _obs = observed(
        o,
        "q_metrics_observe_audit",
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_in_e2"),
    )
    return (
        audited.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_e2"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_sql_hive_layout",
    oracle="""
    SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(1 AS BIGINT) AS n_partitions,
           CAST(0 AS BIGINT) AS sort_inversions,
           CAST(0 AS BIGINT) AS cluster_by_violations
    FROM lineitem
    WHERE l_suppkey IS NOT NULL AND l_orderkey IS NOT NULL
    GROUP BY 1
    ORDER BY suppkey
    """,
)
def q_sql_hive_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive dialect trio DISTRIBUTE BY / SORT BY / CLUSTER BY: the
    classic Hive layout clauses, EXECUTED and then audited inside the
    same query. DISTRIBUTE BY k hashes rows to reducers (an Exchange
    hashpartitioning, no sort); SORT BY orders rows WITHIN each
    partition only (a partition-local Sort — `Sort [...], false, 0` in
    the plan, never a global sort); CLUSTER BY k is the contraction of
    DISTRIBUTE BY k SORT BY k. A Hive user writes these to pre-shape
    data for bucketed writes or local top-k; the layout itself is not
    row-content-observable, so the query makes the CONTRACT observable:
    per distribution key it emits the partition count each key landed
    in (DISTRIBUTE BY guarantees exactly 1 — RepartitionByExpression
    hashes a key to one reducer, and unlike REBALANCE, AQE never splits
    it) and the count of adjacent sort-key inversions inside each
    partition (SORT BY guarantees 0), alongside a per-key revenue
    digest the oracle reproduces independently. A second small relation
    runs through CLUSTER BY and contributes a single violation counter
    (spread keys + local inversions, contract value 0).

    The partition/position witness is spark_partition_id() +
    monotonically_increasing_id() captured directly above the layout
    operators (non-deterministic expressions pin there — Catalyst will
    not push them through the exchange), and the inversion check is a
    lag() window over (pid, pos).

    Plan: the layout is one hash exchange + one partition-local sort of
    the narrow 4-column projection; the audit adds one pid-keyed window
    exchange of the same narrow rows and a map-combined groupBy — at
    100 TB the audit costs one extra narrow shuffle, and the layout
    under test costs exactly what DISTRIBUTE BY costs, which is the
    point (tests/test_plans.py pins hashpartitioning + local sort)."""
    from pyspark.sql import Window

    li_view = f"li_hive_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(li_view)
    laid = spark.sql(
        f"""
        SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
               l_orderkey AS orderkey,
               CAST(l_linenumber AS BIGINT) AS linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM {li_view}
        WHERE l_suppkey IS NOT NULL AND l_orderkey IS NOT NULL
        DISTRIBUTE BY suppkey
        SORT BY suppkey, orderkey, linenumber
        """
    )
    tagged = laid.select(
        "suppkey",
        "cents",
        F.spark_partition_id().alias("pid"),
        F.monotonically_increasing_id().alias("pos"),
        F.struct("suppkey", "orderkey", "linenumber").alias("skey"),
    )
    w = Window.partitionBy("pid").orderBy("pos")
    inv = tagged.withColumn("prev", F.lag("skey").over(w)).select(
        "suppkey",
        "cents",
        "pid",
        F.when(
            F.col("prev").isNotNull() & (F.col("prev") > F.col("skey")), 1
        )
        .otherwise(0)
        .alias("inv"),
    )
    per_key = inv.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.countDistinct("pid").cast("bigint").alias("n_partitions"),
        F.sum("inv").cast("bigint").alias("sort_inversions"),
    )

    sup_view = f"sup_hive_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(sup_view)
    clustered = spark.sql(
        f"""
        SELECT CAST(s_nationkey AS BIGINT) AS nk
        FROM {sup_view}
        WHERE s_nationkey IS NOT NULL
        CLUSTER BY nk
        """
    )
    ct = clustered.select(
        "nk",
        F.spark_partition_id().alias("pid"),
        F.monotonically_increasing_id().alias("pos"),
    )
    wc = Window.partitionBy("pid").orderBy("pos")
    cviol = (
        ct.withColumn("prev", F.lag("nk").over(wc))
        .select(
            "nk",
            "pid",
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") > F.col("nk")), 1
            )
            .otherwise(0)
            .alias("inv"),
        )
        .groupBy("nk")
        .agg(
            F.countDistinct("pid").alias("np"),
            F.sum("inv").alias("iv"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("np") > 1, 1).otherwise(0) + F.col("iv")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("cluster_by_violations")
        )
    )
    return (
        per_key.crossJoin(F.broadcast(cviol))
        .select(
            "suppkey",
            "n_rows",
            "sum_cents",
            "n_partitions",
            "sort_inversions",
            "cluster_by_violations",
        )
        .orderBy("suppkey")
    )


@register(
    "q_sql_qualify",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS custkey,
           CAST(o_orderkey AS BIGINT) AS orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
    FROM orders
    WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
    QUALIFY rn <= 2
    ORDER BY custkey, rn
    """,
)
def q_sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-clause semantics: each customer's top-2 orders by
    price - the window-filter idiom DuckDB/Snowflake/BigQuery spell
    as QUALIFY and open-source Spark SQL spells as a ranked subquery
    with an outer WHERE (the mechanical translation a user migrating
    in either direction writes). The ORACLE runs the literal QUALIFY;
    the Spark side runs the subquery form; identical rows prove the
    dialect mapping exact (the q_sql_hive_layout charter clause,
    pointed the other way: engine-specific syntax, engine-neutral
    semantics).

    Plan: Catalyst rewrites rank-filter-over-window into
    WindowGroupLimit (Spark 3.5+): each shuffle partition keeps a
    per-key top-2 heap BEFORE the full sort, so the exchange carries
    at most 2 rows per customer instead of every order - the
    difference between a window and a top-k at 100 TB
    (tests/test_plans.py pins the WindowGroupLimit node)."""
    o_view = f"ord_q_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(o_view)
    return spark.sql(
        f"""
        SELECT custkey, orderkey, cents, rn FROM (
            SELECT CAST(o_custkey AS BIGINT) AS custkey,
                   CAST(o_orderkey AS BIGINT) AS orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
                       AS rn
            FROM {o_view}
            WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        ) WHERE rn <= 2
        ORDER BY custkey, rn
        """
    )


@register(
    "q_sql_lateral_view",
    oracle="""
    WITH d AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 50
    )
    SELECT d.doc_id,
           CAST(CASE WHEN d.text IS NULL THEN NULL
                ELSE t.i - 1 END AS BIGINT) AS pos,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE d.toks[t.i] END AS token
    FROM d, unnest(generate_series(
        1, CASE WHEN d.text IS NULL THEN 1 ELSE len(d.toks) END)) AS t(i)
    ORDER BY doc_id, pos NULLS FIRST
    """,
)
def q_sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive LATERAL VIEW OUTER posexplode - the Hive-dialect
    row-generator a migrating Hive user types in week one (the
    q_sql_hive_layout clause family, generator edition). Spark runs
    the LITERAL Hive syntax; the oracle reproduces the semantics with
    a correlated unnest + explicit OUTER row (NULL text keeps its
    carrier row with NULL pos/token - exactly posexplode_outer's
    contract; an EMPTY string is ['']: one empty token at pos 0 on
    both engines, the split convention shared repo-wide).

    Plan: a generator is map-side only - no shuffle, no sort until
    the presentation ORDER BY; the doc_id < 50 filter reaches the
    parquet scan, so the explode touches 50 documents regardless of
    corpus size. At 100 TB LATERAL VIEW costs exactly the selected
    rows' fan-out."""
    d_view = f"docs_lv_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(d_view)
    return spark.sql(
        f"""
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, token
        FROM (SELECT doc_id, text FROM {d_view} WHERE doc_id < 50) d
        LATERAL VIEW OUTER posexplode(split(d.text, ' ')) x AS pos, token
        ORDER BY doc_id, pos NULLS FIRST
        """
    )
