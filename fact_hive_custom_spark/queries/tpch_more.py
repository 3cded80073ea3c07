"""The classic TPC-H decision-support chains — every query the
fixture schema can express: Q4, Q5, Q6, Q7, Q8, Q10, Q13, Q14, Q15,
Q17, Q18, Q19, Q20, Q21, Q22 (Q3 lives in queries/optimizer.py's star
family; Q1 is the flagship aggregate). Out of structural scope — the
fixture has no partsupp, l_commitdate/receiptdate, l_shipmode, or
c_phone: Q2, Q9's supplycost term, Q11, Q12, Q16.

The reference (`/root/reference/fact-hive`, 142 lines of process
orchestration — SURVEY.md §0) has no query surface; these are
charter-derived capability queries for the decision-support shapes a
warehouse user runs daily, including all three classic decorrelation
families (EXISTS/NOT EXISTS: Q4, Q21, Q22; correlated scalar
aggregate: Q17, one-key; Q20, two-key).

Determinism: all money is exact-integer (cents / 1e-4 revenue units,
one shared rule with queries/optimizer.py); every LIMIT carries a
unique-key tiebreak so top-k agrees bit-for-bit across engines;
correlated-average thresholds compare as qty·COUNT vs SUM in BIGINT,
never float AVG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import load_table, register_views


@register(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           n.n_name,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue_e4 DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue report (TPC-H Q10 shape): the 20 customers
    who returned the most revenue in one quarter, with their nation.

    Physical strategy at 100 TB: both date predicates and the
    returnflag filter are pushed into the fact scans (parquet
    row-group skipping on o_orderdate; dictionary filter on
    l_returnflag). orders⋈lineitem shuffles once on the orderkey the
    facts share; customer and nation are dimension sides and broadcast
    (nation is tiny always; customer post-agg is keyed rows only —
    the join runs AFTER the fact chain is reduced by the quarter
    filter, so Catalyst's size estimate stays honest). The final
    top-20 is TakeOrderedAndProject — a per-partition heap, never a
    global sort. Revenue in exact 1e-4 integer units (cents ×
    discount-complement-percent), acctbal in cents: no float crosses
    an engine boundary."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    joined = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
    )
    return (
        joined.groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
        )
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_name,
           c.c_custkey,
           o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 300
    )
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY totalprice_cents DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    quantity exceeds 300 units, with the ordering customer — the
    agg-derived-semi-join-back-onto-the-fact pattern.

    Physical strategy at 100 TB: the HAVING subquery is ONE partial+
    final aggregation of (orderkey, qty) pairs — map-side combine
    shrinks the shuffle to distinct orderkeys; its survivors (a few
    per million orders at TPC-H selectivity) broadcast as a LEFT SEMI
    filter onto lineitem BEFORE the wide customer join, so the
    expensive chain only ever sees qualifying orderkeys. lineitem and
    the agg shuffle on the same key (orderkey) — one exchange is
    reused. l_quantity values are small integers stored as double, so
    their SUM is exact and the BIGINT cast is engine-portable."""
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(big), "l_orderkey", "left_semi"
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(li, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), c.c_custkey == o.o_custkey
    )
    return (
        joined.groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "totalprice_cents"
            ),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
        .orderBy(F.desc("totalprice_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q_tpch_q14",
    oracle="""
    WITH j AS (
        SELECT p.p_type,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    )
    SELECT CAST(1000000 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN rev ELSE 0 END)
                // SUM(rev) AS BIGINT) AS promo_ppm,
           CAST(SUM(rev) AS BIGINT) AS total_rev_e4,
           COUNT(*) AS n_lines
    FROM j
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect report (TPC-H Q14 shape): the month's revenue
    share earned by promotional parts, in exact integer ppm.

    Physical strategy at 100 TB: the one-month shipdate range is
    pushed into the lineitem scan (parquet row-group skipping makes
    this the classic partition-pruning win); `part` broadcasts as the
    dim side; the conditional aggregation is one map-side-combined
    pass producing a single row — no second shuffle, no join
    reordering risk. Revenue in exact 1e-4 integer units, the share
    an exact-integer ppm ratio."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_type"), rev.alias("rev")
    )
    return j.agg(
        F.expr(
            "CAST(1000000 * SUM(CASE WHEN p_type LIKE 'PROMO%'"
            " THEN rev ELSE 0 END) AS BIGINT) DIV SUM(rev)"
        )
        .cast("bigint")
        .alias("promo_ppm"),
        F.sum("rev").cast("bigint").alias("total_rev_e4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_e4,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND round(l_discount * 100) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change (TPC-H Q6 shape): the discount revenue
    at stake in one shipping year for mid-discount small-quantity
    lines — the canonical SCAN query: zero joins, one aggregate, and
    everything rides on predicate pushdown.

    Physical strategy at 100 TB: all three predicates reach the
    parquet reader (the date range prunes row groups via min/max
    stats; quantity and discount filter vectorized batches), and the
    single-row aggregate is map-side combined — the whole query is
    one scan-shaped stage with no exchange of anything but 1-row
    partials. The discount band compares on exact integer percent
    (round ×100) so the boundary is knife-edge-free on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.round(F.col("l_discount") * 100).cast("bigint").between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        F.col("l_discount") * 100
    ).cast("bigint")
    return li.agg(
        F.sum(rev).cast("bigint").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q_subquery_not_in",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_nationkey IS NOT NULL
      AND c_nationkey NOT IN (
        SELECT n_nationkey FROM nation
        WHERE n_regionkey = 0 AND n_nationkey IS NOT NULL
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery — the three-valued-logic trap done safely:
    customers outside one region's nations, counted per segment.

    NOT IN is NOT an anti-join when the subquery can yield NULL: one
    NULL makes `x NOT IN (...)` UNKNOWN for every row and the whole
    result empty — the classic production incident. The subquery
    therefore filters NULL keys EXPLICITLY (both engines), after
    which Spark plans the clean null-aware anti join
    (LeftAnti). At 100 TB the subquery side is a broadcast: nations
    (any dimension key-list) ship to every executor and the fact side
    never moves. SURVEY §7.4 NULL-drift rule applied to join keys."""
    n = (
        load_table(spark, sf_dir, "nation")
        .filter((F.col("n_regionkey") == 0) & F.col("n_nationkey").isNotNull())
        .select("n_nationkey")
    )
    # a NULL probe key is UNKNOWN under NOT IN (row dropped) but
    # unmatched under LEFT ANTI (row kept) — quarantine NULL keys on
    # BOTH engines so the two formulations stay equivalent under
    # fixture drift (SURVEY §7.4)
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isNotNull()
    )
    return (
        c.join(
            F.broadcast(n),
            c.c_nationkey == n.n_nationkey,
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_Q21_SQL = """
    WITH lf AS (
        SELECT l.l_orderkey, l.l_suppkey,
               (l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY) AS late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_suppkey IS NOT NULL
          AND l.l_orderkey IS NOT NULL
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lf l1 ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (
          SELECT 1 FROM lf l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lf l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.late
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
"""


@register("q_tpch_q21", oracle=_Q21_SQL)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape): for
    finished multi-supplier orders, count the late lines of suppliers
    who were the ONLY late supplier on the order — the classic
    blame-assignment query and the one decorrelation shape nothing
    else in the inventory exercises: a correlated EXISTS and a
    correlated NOT EXISTS against the SAME fact, each carrying a
    non-equi (<>) correlated predicate.

    The fixture has no l_commitdate/l_receiptdate, so "late" is
    l_shipdate more than 75 days after o_orderdate — same per-line
    boolean role, same subquery structure as the published query.

    Physical strategy at 100 TB: both engines run the IDENTICAL SQL
    text; Catalyst decorrelates the EXISTS into a LEFT SEMI and the
    NOT EXISTS into a LEFT ANTI join, both keyed on l_orderkey with
    the <> residual as the join condition. All three lf legs and both
    rewritten joins key on the same l_orderkey, so the lf exchange is
    built once and reused (ReuseExchange) — the plan pin in
    tests/test_plans.py asserts both rewrites are present and the
    l_orderkey exchange count stays minimal. The orderstatus filter
    pushes into the orders scan, shrinking lf before any shuffle;
    supplier is a dimension side (AQE broadcasts it); the final
    top-100 is TakeOrderedAndProject. NULL l_suppkey/l_orderkey rows
    are quarantined identically on both engines: under <> correlation
    a NULL suppkey can never match, but a NULL orderkey would differ
    between groupBy and equi-join handling (SURVEY §7.4)."""
    register_views(spark, sf_dir, "lineitem", "orders", "supplier")
    return spark.sql(_Q21_SQL)


_Q17_SQL = """
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS small_rev_e2,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND p.p_size < 15
      AND 5 * CAST(l.l_quantity AS BIGINT)
              * (SELECT COUNT(*) FROM lineitem l2
                 WHERE l2.l_partkey = l.l_partkey)
          < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
             FROM lineitem l2
             WHERE l2.l_partkey = l.l_partkey)
"""


@register("q_tpch_q17", oracle=_Q17_SQL)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): revenue from
    lines of one brand's small parts whose quantity is below 20% of
    that part's all-time average quantity — the correlated
    SCALAR-AGGREGATE decorrelation family (Q21 covers correlated
    EXISTS; nothing else in the inventory forces Catalyst through
    ScalarSubquery → Aggregate-then-join rewriting).

    The fixture part table has no p_container, so the inner predicate
    pair is p_brand + p_size; the subquery structure is the published
    one. The knife-edge is removed exactly, not approximately:
    `qty < 0.2 * AVG(qty)` is compared as
    `5 * qty * COUNT(*) < SUM(qty)` in BIGINT (quantities are
    integral), so no float AVG ever crosses an engine boundary
    (SURVEY §7.4 ROUND discipline; the q_llm_domain_mix incident).

    Physical strategy at 100 TB: both engines run the IDENTICAL SQL;
    Catalyst decorrelates each correlated aggregate into a
    map-side-combined groupBy(l_partkey) over lineitem joined back on
    l_partkey (RewriteCorrelatedScalarSubquery) — per-row
    re-execution never happens; the exchanges carry (partkey, bigint)
    partials, never line rows. The plan pin asserts the rewrite:
    per-partkey HashAggregates feeding equi-joins, zero cartesian.
    The brand/size filter reaches the part scan and `part`
    broadcasts. At sf0.01 AQE broadcasts the aggregate legs too; on a
    cluster their size crosses the threshold and the same plan
    becomes a co-partitioned shuffle join on l_partkey — both legs
    and the probe share one key, so one partitioning serves all.
    Final single-row SUM is exact cents."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q17_SQL)


_Q20_SQL = """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT ps.l_suppkey
        FROM (
            SELECT l_suppkey, l_partkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS total_qty
            FROM lineitem
            WHERE l_suppkey IS NOT NULL
            GROUP BY l_suppkey, l_partkey
        ) ps
        WHERE ps.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
        )
        AND ps.total_qty >= 60
        AND 2 * COALESCE(
            (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
             FROM lineitem l2
             WHERE l2.l_partkey = ps.l_partkey
               AND l2.l_suppkey = ps.l_suppkey
               AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
               AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
            0) > ps.total_qty
    )
    ORDER BY s.s_name, s.s_acctbal
"""


@register("q_tpch_q20", oracle=_Q20_SQL)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentrated-stock suppliers (TPC-H Q20 shape): suppliers with
    a substantial 'small%'-part lane (≥60 units lifetime) where the
    single year 1997 carried the MAJORITY of that lane's volume —
    Q20's "availqty > half of one period's shipments" threshold
    re-aimed at the fixture (no partsupp table, so ps_availqty is
    replaced by the per-(supplier, part) all-time shipped total). The
    published query's structure is kept exactly: IN-subquery →
    IN-subquery → correlated scalar aggregate, with the correlation
    on TWO keys (l_partkey AND l_suppkey) — the multi-key variant of
    the Q17 decorrelation family. Selectivity is real, not vacuous:
    37/100 suppliers qualify at sf0.01.

    COALESCE(…, 0) pins the empty-subquery case (no 1997 shipments →
    SUM is NULL) to the same kept-row semantics on both engines
    rather than relying on NULL-comparison dropout (SURVEY §7.4).

    Physical strategy at 100 TB: Catalyst decorrelates the scalar
    SUM into a groupBy(l_partkey, l_suppkey) aggregate over the
    1997-pruned lineitem (shipdate range reaches the parquet scan),
    LEFT-joined to the outer per-(supplier, part) aggregate on the
    SAME two keys — one key layout for both exchanges, so the join
    co-locates. The part name-filter IN becomes a LeftSemi with a
    broadcast dim side; the outer supplier IN is another LeftSemi on
    a tiny distinct suppkey set. Exchanges carry (keys, bigint)
    partials only — never line rows. All quantities exact BIGINT."""
    register_views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_Q20_SQL)


# ---------------------------------------------------------------- round 8:
# the remaining classic decision-support chains expressible on this
# schema (no partsupp / commitdate / shipmode / phone, so Q2, Q9's
# supplycost, Q11, Q12 and Q16 stay out of scope; Q4/5/7/8/13/15/19/22
# keep their published structure with fixture-native predicates).


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): orders placed in one
    quarter that had at least one late line, counted per priority.
    The fixture lacks l_commitdate/l_receiptdate, so "late" is a line
    shipped >60 days after the order date — same correlated-EXISTS-
    with-non-equi-predicate structure (the correlation carries
    o_orderdate INTO the subquery, not just the key).

    Physical strategy at 100 TB: identical SQL on both engines;
    Catalyst rewrites the EXISTS to a LeftSemi on l_orderkey with the
    shipdate comparison as the join residual — one fact shuffle each
    side, then a tiny per-priority aggregate. The quarter predicate
    prunes the orders scan (row-group min/max on o_orderdate) BEFORE
    the semi join, so the probe side is ~1/28th of the fact."""
    register_views(spark, sf_dir, "lineitem", "orders")
    return spark.sql(
        """
        SELECT o.o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS rev_e4
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY rev_e4 DESC, n.n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5): revenue per nation for one
    region-year where the CUSTOMER's nation equals the SUPPLIER's
    nation — the six-table chain whose defining trick is the
    c_nationkey = s_nationkey condition living on the lineitem⋈
    supplier join, not on either dimension edge.

    Physical strategy at 100 TB: orders carries the year predicate to
    its scan and halves the fact chain first; customer/supplier/
    nation/region are all broadcast dims, so the only big exchanges
    are orders⋈lineitem on orderkey. The nation-equality residual
    rides the supplier broadcast join — no extra shuffle. Revenue in
    exact 1e-4 units, ordered with the name tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("bigint").alias("rev_e4"))
        .orderBy(F.desc("rev_e4"), "n_name")
    )


@register(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS rev_e4
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two trading nations (TPC-H Q7): yearly
    revenue in each direction of the NATION_2 ↔ NATION_7 lane — the
    query that joins NATION TWICE under an OR of direction pairs.

    Physical strategy at 100 TB: the nation pair filter cannot reach
    the fact scan (it binds post-join), but both nation joins are
    broadcasts and AQE prunes fact rows at the first one; the
    shipdate range DOES push into the lineitem scan. The only wide
    exchanges are the two fact⋈fact orderkey/custkey hops. Group key
    includes the derived year — computed engine-side as BIGINT so the
    oracle's hash agrees on type."""
    register_views(
        spark, sf_dir, "customer", "lineitem", "nation", "orders", "supplier"
    )
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS rev_e4
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)
        ORDER BY supp_nation, cust_nation, l_year
        """
    )


@register(
    "q_tpch_q8",
    oracle="""
    WITH market AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev,
               n1.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        JOIN region r   ON n2.n_regionkey = r.r_regionkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(1000000 * SUM(CASE WHEN supp_nation = 'NATION_1'
                                   THEN rev ELSE 0 END)
                // SUM(rev) AS BIGINT) AS share_ppm,
           CAST(SUM(rev) AS BIGINT) AS market_rev_e4
    FROM market
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8): NATION_1's share of the
    AMERICA-region PROMO-part market by order year, in exact ppm —
    the eight-table chain with nation joined TWICE in different
    roles (customer side restricts the market, supplier side labels
    the contender) and a conditional-share aggregate on top.

    Physical strategy at 100 TB: p_type and the two-year window push
    into the part/orders scans; part acts as the fact FILTER via its
    broadcast join (lineitem rows for other types never leave their
    stage). Every dimension is broadcast, so the wide exchanges are
    only lineitem⋈orders. The share is CASE-summed in the same
    single-pass aggregate — no second scan of the market, no join
    between numerator and denominator. Exact-integer ppm (DuckDB //
    vs Spark DIV, same integer semantics)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    market = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            rev.alias("rev"),
            "supp_nation",
        )
    )
    # Overflow budget: per-row rev ≤ ~1e13 (price_e2 ≤ 1e11 × 100), so
    # a bigint SUM wraps past ~9.2e5 such rows per (year) group — easily
    # reached at sf ≥ 1 market sizes. DuckDB sums BIGINT into HUGEINT;
    # Spark must accumulate in DECIMAL(38,0) to match (the
    # q_stat_ttest_welch discipline). The ppm scaling and the integral
    # division run in decimal, exact; only the final ≤ 1e6 ppm and the
    # audited market total cast back to BIGINT.
    return (
        market.groupBy("o_year")
        .agg(
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0))"
                " * SUM(CAST(CASE WHEN supp_nation = 'NATION_1'"
                " THEN rev ELSE 0 END AS DECIMAL(38,0)))"
                " DIV SUM(CAST(rev AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("share_ppm"),
            F.sum(F.col("rev").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("market_rev_e4"),
        )
        .orderBy("o_year")
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) co
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13): how many
    customers placed 0, 1, 2, … non-urgent orders — the
    LEFT-JOIN-with-residual-then-double-aggregate shape whose trap is
    that the exclusion filter must live ON THE JOIN (a WHERE would
    silently drop the zero-order customers the report exists to
    count).

    Physical strategy at 100 TB: the priority filter prunes orders at
    the scan; the LEFT join keys customer⋈orders on custkey (both
    sides shuffle once on the same key); COUNT(o_orderkey) counts
    only matched rows (NULL-skipping), giving the 0 bucket for free;
    the second aggregate runs over at-most-|distinct counts| rows.
    The histogram is all BIGINTs — nothing to round."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS total_rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND l_suppkey IS NOT NULL
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev_e4
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev_e4 = (SELECT MAX(total_rev_e4) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15): the supplier(s) with maximum revenue
    in one quarter — the view-reused-twice query: the revenue
    aggregate feeds both the scalar MAX and the final equi-join, and
    the whole point at scale is computing it ONCE.

    Physical strategy at 100 TB: the quarter predicate reaches the
    lineitem scan; ONE groupBy(l_suppkey) produces the revenue view;
    Spark's ReuseExchange serves both consumers from the same shuffle
    files (asserted in the plan pin) — the scalar MAX is a
    SinglePartition reduce of per-supplier rows, broadcast back as a
    one-row filter. Ties return every max supplier on both engines
    (= rather than top-1), so no tiebreak knife-edge exists."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        & F.col("l_suppkey").isNotNull()
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).cast("bigint").alias("total_rev_e4"))
    )
    max_rev = revenue.agg(F.max("total_rev_e4").alias("m"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_rev_e4") == F.col("m"))
        .join(s, s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


@register(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS rev_e4,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue promotion check (TPC-H Q19): revenue from
    three disjunctive brand/size/quantity bands — the classic
    OR-of-ANDs predicate that tests whether the optimizer can still
    push SOMETHING to each side when no single conjunct spans the
    whole filter.

    Physical strategy at 100 TB: Catalyst distributes the common
    implications of the OR: each arm constrains l_quantity, so the
    derived quantity range [1, 30] pushes into the lineitem scan, and
    the brand/size union prunes the part side before its broadcast;
    the full OR evaluates as the join residual. Quantities are
    integral doubles — integer BETWEEN bounds are knife-edge-free.
    One broadcast join + one single-row aggregate: no exchange
    carries anything wider than the partials."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = lambda brand, size_hi, q_lo, q_hi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, size_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#14", 15, 20, 30)
        )
        .agg(
            F.sum(rev).cast("bigint").alias("rev_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q22",
    oracle="""
    SELECT n.n_name AS cntry,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS totacctbal_e2
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_nationkey IN (0, 3, 7, 12, 17, 21)
      AND CAST(round(c.c_acctbal * 100) AS BIGINT)
          * (SELECT COUNT(*) FROM customer c2
             WHERE c2.c_acctbal > 0
               AND c2.c_nationkey IN (0, 3, 7, 12, 17, 21))
          > (SELECT CAST(SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                         AS BIGINT)
             FROM customer c2
             WHERE c2.c_acctbal > 0
               AND c2.c_nationkey IN (0, 3, 7, 12, 17, 21))
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY n.n_name
    ORDER BY cntry
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22): wealthy-but-dormant
    customers per country — above-average balance (within a 6-nation
    candidate set, the fixture stand-in for phone country codes) and
    NO order in the last two fixture years (every customer has SOME
    order, so the published "no orders ever" arm is re-aimed at
    recency to stay non-vacuous: 37 customers qualify at sf0.01).

    The above-average comparison is exact: cents × COUNT > SUM —
    two UNCORRELATED scalar subqueries (one aggregate pass each,
    broadcast as one-row filters) instead of a float AVG knife-edge.

    Physical strategy at 100 TB: identical SQL on both engines. The
    nation IN-list prunes the customer scan; the two scalar
    aggregates reduce to single rows and broadcast; the NOT EXISTS
    decorrelates to a LeftAnti against the date-pruned orders scan
    keyed on custkey. Nothing wider than (custkey) ever shuffles."""
    register_views(spark, sf_dir, "customer", "nation", "orders")
    return spark.sql(
        """
        SELECT n.n_name AS cntry,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS totacctbal_e2
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_nationkey IN (0, 3, 7, 12, 17, 21)
          AND CAST(round(c.c_acctbal * 100) AS BIGINT)
              * (SELECT COUNT(*) FROM customer c2
                 WHERE c2.c_acctbal > 0
                   AND c2.c_nationkey IN (0, 3, 7, 12, 17, 21))
              > (SELECT CAST(SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                             AS BIGINT)
                 FROM customer c2
                 WHERE c2.c_acctbal > 0
                   AND c2.c_nationkey IN (0, 3, 7, 12, 17, 21))
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY n.n_name
        ORDER BY cntry
        """
    )
