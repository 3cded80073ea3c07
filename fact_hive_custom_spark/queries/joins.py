"""Join operators (SURVEY.md §2.2.C).

Join-strategy posture for 100 TB: dimension tables (region, nation,
supplier, part, customer at most SFs) are broadcast — no shuffle of
the fact side; fact-fact joins shuffle on the join key and rely on
AQE for skew splitting. Hints are used only where the query exists to
*exercise* a specific physical strategy (broadcast / shuffle-hash);
everywhere else Catalyst + AQE choose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.operators.asof import (
    asof_join_backward,
    asof_join_forward,
    asof_join_nearest,
)
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import _US_PER_HOUR, load_table, register_views


@register(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders ⋈ customer (customer side broadcast-sized)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p.p_brand,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join: fact ⋈ broadcast(dim) — zero shuffle of lineitem.

    At 100 TB the fact side never moves; `part` ships to every executor
    once. This is the canonical star-schema join strategy.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_join_shuffle_hash",
    oracle="""
    SELECT p.p_type, COUNT(*) AS n_lines, ROUND(AVG(l.l_quantity), 4) AS avg_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type
    """,
)
def q_join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled hash join (explicit SHUFFLE_HASH hint): both sides hash-
    partition on the key; no sort. Wins over sort-merge when one side's
    per-partition hash table fits in memory."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").hint("SHUFFLE_HASH")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 4) AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: all customers survive, order-less ones count 0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


@register(
    "q_join_right",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of q_join_left)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_join_full",
    oracle="""
    SELECT n.n_name, s.s_name
    FROM nation n FULL OUTER JOIN supplier s ON s.s_nationkey = n.n_nationkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations without suppliers survive with NULL s_name."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return n.join(s, s.s_nationkey == n.n_nationkey, "full").select("n_name", "s_name")


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having ≥1 order (EXISTS). The semi join
    never materializes order columns — cheaper than join+distinct."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders (NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_pairs,
           CAST(SUM(n.n_nationkey) AS BIGINT) AS sum_nkey
    FROM region r CROSS JOIN nation n
    GROUP BY r.r_name
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims + deterministic aggregate."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("n_nationkey").alias("sum_nkey"))
    )


@register(
    "q_join_theta",
    oracle="""
    SELECT p.p_brand, COUNT(*) AS n_pairs,
           ROUND(AVG(q.p_size - p.p_size), 4) AS avg_size_gap
    FROM part p JOIN part q
      ON p.p_brand = q.p_brand AND p.p_size < q.p_size
    GROUP BY p.p_brand
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join, band-limited by an equi-key.

    The p_brand equality keeps this a *hash-partitionable* join — Spark
    plans SortMergeJoin on p_brand with the `<` as a post-join filter,
    instead of a full O(n²) nested loop. At scale, always pair a theta
    condition with whatever equi-key the semantics allow.

    Second scale law (round 12): when the downstream is ALGEBRAIC
    (count / mean of a function of the two sides), collapse each side
    to its per-(key, value) histogram BEFORE the theta join and weight
    by counts — the pair set is O(Σ n_brand²) (~8e10 pairs at sf1.0,
    measured 154 s) while the histogram join is O(|brands|·|sizes|²)
    (1 250 input cells, ~3 s), and every output value is IDENTICAL
    exact integer algebra: n_pairs = Σ n_a·n_b, mean gap =
    Σ n_a·n_b·(b−a) / Σ n_a·n_b (the same two exact integers AVG
    divides). The theta join itself survives as the plan shape — the
    collapsed cells still join on (brand equality AND size <) — so the
    operator class this entry exercises is unchanged, and the ORACLE
    stays the naive pair-level definition, proving the rewrite
    semantics-identical on every fixture."""
    cells = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_size").alias("size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = cells.select(
        F.col("brand"), F.col("size").alias("sa"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("brand").alias("brand_b"),
        F.col("size").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(
        b, (a["brand"] == b["brand_b"]) & (a["sa"] < b["sb"])
    )
    return (
        pairs.groupBy(F.col("brand").alias("p_brand"))
        .agg(
            F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("na") * F.col("nb") * (F.col("sb") - F.col("sa")))
                .cast("double")
                / F.sum(F.col("na") * F.col("nb")).cast("double"),
                4,
            ).alias("avg_size_gap"),
        )
    )


@register(
    "q_join_range",
    oracle="""
    WITH hours AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h_start FROM events
    )
    SELECT h.h_start, COUNT(e.event_id) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM hours h JOIN events e
      ON e.ts >= h.h_start AND e.ts < h.h_start + INTERVAL 1 HOUR
    GROUP BY h.h_start
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: events into an hour-bucket dimension —
    BAND-KEY decomposition, the generic bounded-interval range-join
    plan (round 15; this replaced a broadcast nested-loop).

    A pure range predicate gives Spark no equi-key, so the original
    plan was BNLJ: every event tested against every interval —
    O(|events|·|intervals|), fine only while the interval side is a
    few thousand rows. The round-15 fixture fix (per-replica time
    offsets) grew the hour dim 10× and the wall went 33 → 276 s at
    sf1.0: measured proof the shape dies exactly when the time span
    grows, which is what 100 TB of history does. The fix is the
    standard banding trick for intervals of BOUNDED length: pick a
    band stride = max interval length (1 h); each event hashes to
    band floor(ts/stride); an interval [s, s+1h) overlaps at most 2
    bands (exactly 1 here because buckets are hour-aligned). Joining
    on band EQUALITY with the genuine range predicate as a residual
    turns the nested loop into a broadcast HASH join (or a shuffled
    hash join when the interval side outgrows broadcast) — each probe
    is O(1) instead of O(|intervals|), the range semantics are
    unchanged, and the oracle (a direct range join) certifies that."""
    e = load_table(spark, sf_dir, "events")
    # integer DIV, not float division: µs since epoch ~1.7e15 sits near
    # double's 2^53 exact-integer edge, and floor vs truncate differs
    # pre-1970 — the band key must be exact on both join sides.
    hours = (
        e.select(F.date_trunc("hour", F.col("ts")).alias("h_start"))
        .distinct()
        .withColumn("band", F.expr(f"unix_micros(h_start) DIV {_US_PER_HOUR}"))
    )
    eb = e.withColumn("band", F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}"))
    joined = F.broadcast(hours).join(
        eb,
        (hours["band"] == eb["band"])
        & (eb["ts"] >= hours["h_start"])
        & (eb["ts"] < hours["h_start"] + F.expr("INTERVAL 1 HOUR")),
    )
    return (
        joined.groupBy("h_start")
        .agg(
            F.count("event_id").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT e.event_id,
           LAST_VALUE(CASE WHEN e.event_type = 'click' THEN e.event_id END IGNORE NULLS)
             OVER (PARTITION BY e.user_id
                   ORDER BY e.ts, (e.event_type = 'click') ASC, e.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click_id
    FROM events e
    QUALIFY e.event_type = 'error'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the latest strictly-preceding
    click by the same user — via the union-window composition in
    operators/asof.py (one shuffle + sort; no row explosion)."""
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join_backward(
        errors, clicks, by=["user_id"], ts="ts", tiebreak="event_id", carry=["click_id"], strict=True
    )
    return joined.select("event_id", F.col("asof_click_id"))


@register(
    "q_join_asof_fwd",
    oracle="""
    SELECT e.event_id,
           FIRST_VALUE(CASE WHEN e.event_type = 'click' THEN e.event_id END IGNORE NULLS)
             OVER (PARTITION BY e.user_id
                   ORDER BY e.ts, (e.event_type = 'click') DESC, e.event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS asof_click_id
    FROM events e
    QUALIFY e.event_type = 'error'
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each error event, the earliest strictly-
    following click by the same user (the mirror of q_join_asof — same
    union-window plan, mirrored frame; operators/asof.py)."""
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join_forward(
        errors, clicks, by=["user_id"], ts="ts", tiebreak="event_id", carry=["click_id"], strict=True
    )
    return joined.select("event_id", F.col("asof_click_id"))


@register(
    "q_join_asof_nearest",
    oracle="""
    SELECT e.event_id,
           (SELECT c.event_id FROM events c
             WHERE c.event_type = 'click' AND c.user_id = e.user_id
             ORDER BY abs(epoch_us(c.ts) - epoch_us(e.ts)) ASC,
                      (c.ts <= e.ts) DESC,
                      CASE WHEN c.ts <= e.ts THEN -c.event_id ELSE c.event_id END ASC
             LIMIT 1) AS asof_click_id
    FROM events e
    WHERE e.event_type = 'error'
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: for each error event, the click closest in
    time either direction, exact-distance ties to backward (pandas
    merge_asof nearest semantics). The oracle's correlated-subquery
    ORDER mirrors the operator's full tie chain: distance, then
    backward-wins, then nearest-in-total-order within the chosen side
    (backward takes the largest tiebreak at an equal ts, forward the
    smallest)."""
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join_nearest(
        errors, clicks, by=["user_id"], ts="ts", tiebreak="event_id", carry=["click_id"], strict=False
    )
    return joined.select("event_id", F.col("asof_click_id"))


@register(
    "q_join_self",
    oracle="""
    SELECT a.l_orderkey, COUNT(*) AS n_pairs,
           ROUND(SUM(a.l_quantity + b.l_quantity), 4) AS qty_sum
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    GROUP BY a.l_orderkey
    """,
)
def q_join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self join: unordered pairs of lineitems within an order."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    a = li.alias("a")
    b = li.alias("b")
    cond = (F.col("a.l_orderkey") == F.col("b.l_orderkey")) & (
        F.col("a.l_linenumber") < F.col("b.l_linenumber")
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum(F.col("a.l_quantity") + F.col("b.l_quantity")), 4).alias("qty_sum"),
        )
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — Catalyst rewrites to a left semi join."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        """
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates to a semi join (§4)."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
        """
    )


@register(
    "q_join_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join: top-2 orders by price per
    customer. Catalyst decorrelates the per-row subquery into a
    ranked-window join — the same plan shape as q_topk_group — rather
    than executing it per outer row; deterministic via the orderkey
    tiebreak."""
    cview = f"customer_lat_{abs(hash(sf_dir)) % 10**8}"
    oview = f"orders_lat_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(cview)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(oview)
    return spark.sql(
        f"""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {cview} c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM {oview} o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


_OVL_US = _US_PER_HOUR  # 1 h interval length / bucket grain


@register(
    "q_join_interval",
    oracle=f"""
    WITH a AS (
        SELECT event_id AS a_id, user_id, epoch_us(ts) AS s_a,
               epoch_us(ts) + {_OVL_US} AS e_a
        FROM events WHERE event_type = 'view'
    ),
    b AS (
        SELECT event_id AS b_id, user_id, epoch_us(ts) AS s_b,
               epoch_us(ts) + {_OVL_US} AS e_b
        FROM events WHERE event_type = 'purchase'
    ),
    p AS (
        SELECT a.user_id, a_id, b_id,
               least(e_a, e_b) - greatest(s_a, s_b) AS ovl_us
        FROM a JOIN b ON a.user_id = b.user_id
                     AND s_a < e_b AND s_b < e_a
    )
    SELECT user_id, COUNT(*) AS n_overlap_pairs,
           CAST(SUM(ovl_us) AS BIGINT) AS sum_overlap_us
    FROM p GROUP BY user_id
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (interval × interval, both sides large):
    each user's 1 h view-activity windows against their 1 h
    purchase-activity windows, reporting overlapping pairs and total
    overlap — the telemetry/session-correlation shape q_join_range's
    point-in-range broadcast cannot cover.

    Scale path: each interval is DECOMPOSED into the hour buckets it
    touches (explode of a 1–2 element sequence), the pair join is a
    plain equi-join on (user_id, bucket), the true-overlap predicate
    filters bucket co-tenants, and pairs colliding in two buckets
    dedup BEFORE aggregation. Work is O(pairs-sharing-a-bucket), never
    O(n²) per user, and the shuffle key (user, hour) is skew-bounded
    by per-user-per-hour activity. The oracle states the naive
    overlap join — same pairs by construction, since an overlapping
    pair shares at least one covering bucket at bucket_len ≥
    interval_len. Exact integer microseconds throughout."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("s")
    )

    def side(tag: str, etype: str) -> DataFrame:
        iv = e.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(f"{tag}_id"),
            "user_id",
            F.col("s").alias(f"s_{tag}"),
            (F.col("s") + _OVL_US).alias(f"e_{tag}"),
        )
        return iv.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"s_{tag} DIV {_OVL_US}"),
                    F.expr(f"(e_{tag} - 1) DIV {_OVL_US}"),
                )
            ),
        )
    a = side("a", "view")
    b = side("b", "purchase")
    pairs = (
        a.join(b, ["user_id", "bucket"])
        .filter((F.col("s_a") < F.col("e_b")) & (F.col("s_b") < F.col("e_a")))
        .select("user_id", "a_id", "b_id", "s_a", "e_a", "s_b", "e_b")
        .distinct()
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_overlap_pairs"),
        F.sum(
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
        ).alias("sum_overlap_us"),
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
        SELECT nullif(o_orderstatus, 'O') AS k, COUNT(*) AS n_a
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT nullif(o_orderstatus, 'O') AS k, COUNT(*) AS n_b
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
    )
    SELECT a.k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    pair with NULL keys instead of vanishing — the semantics MERGE and
    dimension-key reconciliation need when 'unknown' is itself a
    category. The 'O' status maps to NULL on both sides, so the NULL
    row's presence in the output is the behavior under test.

    Plan: eqNullSafe stays a hash-partitionable equi-join key (Spark
    hashes nulls like any value) — no degradation to nested-loop; at
    scale this shuffles exactly like `=`. One caveat at 100 TB: a
    giant NULL population becomes one hot key — coalesce NULLs to
    salted sentinels first (operators/skew.py) if 'unknown' dominates.
    """
    o = load_table(spark, sf_dir, "orders")
    a = (
        o.groupBy(F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy(F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_a", "n_b"
    )


_SP_DOMAIN = 1_048_576  # 2^20 coordinate domain
_SP_R = 4_096           # radius = grid cell size


@register(
    "q_join_spatial_grid",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS k,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'),
                                    1, 8)) AS BIGINT) % {_SP_DOMAIN} AS x,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'),
                                    1, 8)) AS BIGINT) % {_SP_DOMAIN} AS y
        FROM customer WHERE c_custkey IS NOT NULL
    ),
    a AS (
        SELECT k, x, y,
               x // {_SP_R} + dx AS cx, y // {_SP_R} + dy AS cy
        FROM pts,
             unnest(generate_series(-1, 1)) t1(dx),
             unnest(generate_series(-1, 1)) t2(dy)
    ),
    b AS (
        SELECT k, x, y, x // {_SP_R} AS cx, y // {_SP_R} AS cy FROM pts
    )
    SELECT a.k AS a_key, b.k AS b_key,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy AND a.k < b.k
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_SP_R} * {_SP_R}
    """,
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial self-join: all point pairs within radius
    R, via the cell-partition pattern that makes radius joins scale —
    each point lands in one R-sized cell, ONE side replicates into its
    3×3 neighborhood, the join is a plain equi-join on the cell id,
    and the exact distance check runs only on cell-local candidates.
    Cost is O(n·density), never the O(n²) cross-product a naive
    distance join plans.

    Coordinates are deterministic md5-derived integers in a 2^20
    domain (same digits on both engines via hex-prefix casting:
    Spark's conv(hex,16,10), DuckDB's '0x'-cast), and the predicate
    compares integer squared distance to R² — no sqrt, no float,
    bit-identical everywhere. The canonical k< k dedup keeps each
    pair once.

    At 100 TB: the cell id is the shuffle key (uniform by
    construction here; geo data needs the same salting as any skewed
    key — cities are hot cells), the 9× replication is map-side, and
    AQE handles the residual cell-size variance. The same shape
    serves embedding LSH buckets (operators/similarity.py) and
    time-window candidate joins."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    pts = c.select(
        F.col("c_custkey").alias("k"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("x"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _SP_DOMAIN
        ).alias("x"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("y"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _SP_DOMAIN
        ).alias("y"),
    )
    a = pts.select(
        "k",
        "x",
        "y",
        F.explode(F.expr("sequence(-1, 1)")).alias("dx"),
    ).select(
        "k",
        "x",
        "y",
        (F.expr(f"x DIV {_SP_R}") + F.col("dx")).alias("cx"),
        F.explode(F.expr("sequence(-1, 1)")).alias("dy"),
    ).select(
        "k", "x", "y", "cx",
        (F.expr(f"y DIV {_SP_R}") + F.col("dy")).alias("cy"),
    )
    b = pts.select(
        F.col("k").alias("bk"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr(f"x DIV {_SP_R}").alias("cx"),
        F.expr(f"y DIV {_SP_R}").alias("cy"),
    )
    d2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("k") < F.col("bk")) & (d2 <= _SP_R * _SP_R))
        .select(
            F.col("k").alias("a_key"),
            F.col("bk").alias("b_key"),
            d2.cast("bigint").alias("dist2"),
        )
    )


@register(
    "q_join_sort_merge",
    oracle="""
    SELECT o.o_orderstatus,
           l.l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q_join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge join, explicitly hinted: the fact-to-fact strategy
    when BOTH sides are too large to build a hash table from.

    Physical strategy at 100 TB: orders and lineitem both shuffle once
    on orderkey, sort within partitions, and stream-merge — memory per
    task is O(sort buffer), never O(build side), which is why SMJ is
    Spark's default for large⋈large and survives sizes where a
    shuffled-hash build OOMs. The `merge` hint pins the strategy so
    the plan is the demonstrable artifact (tests/test_plans.py asserts
    SortMergeJoin); the groupBy keys are a superset of nothing shared
    with the join key, so AQE handles the second exchange. Money in
    exact cents (shared rule with queries/tpch_more.py)."""
    o = load_table(spark, sf_dir, "orders").hint("merge")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("price_cents"),
        )
    )


@register(
    "q_join_asof_tolerance",
    oracle=f"""
    WITH m AS (
        SELECT e.event_id, e.event_type,
               epoch_us(e.ts) AS us,
               LAST_VALUE(CASE WHEN e.event_type = 'click'
                               THEN e.event_id END IGNORE NULLS)
                 OVER w AS click_id,
               LAST_VALUE(CASE WHEN e.event_type = 'click'
                               THEN epoch_us(e.ts) END IGNORE NULLS)
                 OVER w AS click_us
        FROM events e
        WHERE e.ts IS NOT NULL
        WINDOW w AS (PARTITION BY e.user_id
                     ORDER BY e.ts, (e.event_type = 'click') ASC, e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id,
           CASE WHEN us - click_us <= {_US_PER_HOUR}
                THEN click_id END AS asof_click_id
    FROM m WHERE event_type = 'error'
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join: the latest strictly-preceding
    click per error, but only if it happened within the last hour —
    the financial-tick semantics (`merge_asof(tolerance=...)`) where a
    stale quote is WORSE than no quote.

    Same union-window plan as q_join_asof (one shuffle + sort, no row
    explosion) with the right-side timestamp carried alongside the
    payload; the staleness gate is a pure integer-micros post-filter,
    so the tolerance dial costs nothing at any scale. NULL-ts rows
    are unorderable and quarantined on both engines (SURVEY §7.4)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
    )
    joined = asof_join_backward(
        errors,
        clicks,
        by=["user_id"],
        ts="ts",
        tiebreak="event_id",
        carry=["click_id", "click_us"],
        strict=True,
    )
    return joined.select(
        "event_id",
        F.when(
            F.unix_micros("ts") - F.col("asof_click_us") <= _US_PER_HOUR,
            F.col("asof_click_id"),
        ).alias("asof_click_id"),
    )
