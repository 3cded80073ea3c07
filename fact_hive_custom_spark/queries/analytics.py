"""Event-analytics queries: funnel conversion, cohort retention, and
OHLC resampling (SURVEY.md §2.2 event-stream surface).

The reference corpus (`/root/reference/fact-hive`) has no dataflow
operators (SURVEY.md §0); these cover the product-analytics shapes an
events-table user runs daily: ordered-step conversion (funnel),
first-seen cohort retention, and financial-style bar resampling.

Determinism: all time arithmetic is integer epoch-micros / integer day
or hour buckets; OHLC prices are 1e-4-scaled bigints (one shared rule
with queries/timeseries.py) — no float crosses an engine boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import _US_PER_DAY, _US_PER_HOUR, load_table

_US_PER_MIN = 60_000_000


@register(
    "q_funnel_steps",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    u1 AS (
        SELECT user_id, MIN(us) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, MIN(us) AS t2
        FROM e JOIN u1 USING (user_id)
        WHERE event_type = 'click' AND us > t1
        GROUP BY e.user_id
    ),
    u3 AS (
        SELECT e.user_id, MIN(us) AS t3
        FROM e JOIN u2 USING (user_id)
        WHERE event_type = 'purchase' AND us > t2
        GROUP BY e.user_id
    )
    SELECT 'view' AS step, 1 AS step_ord,
           (SELECT COUNT(*) FROM u1) AS n_users
    UNION ALL
    SELECT 'click', 2, (SELECT COUNT(*) FROM u2)
    UNION ALL
    SELECT 'purchase', 3, (SELECT COUNT(*) FROM u3)
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that first qualifying click — the
    strictly-ordered conversion count (not mere co-occurrence).

    Plan: three per-user min-aggregations chained by joins that are all
    keyed on user_id — every stage shuffles on the SAME key, so after
    the first exchange the rest co-locate (and AQE keeps the shrinking
    u2/u3 sides broadcast-eligible). State per user is one timestamp
    per stage; at 100 TB this is the scalable alternative to a
    sessionized sequence-match over raw history."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    u1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    u2 = (
        e.join(u1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("us") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    u3 = (
        e.join(u2, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("us") > F.col("t2"))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    row = lambda df, name, ord_: df.agg(  # noqa: E731
        F.lit(name).alias("step"),
        F.lit(ord_).cast("int").alias("step_ord"),
        F.count(F.lit(1)).alias("n_users"),
    ).select("step", "step_ord", "n_users")
    return row(u1, "view", 1).unionAll(row(u2, "click", 2)).unionAll(
        row(u3, "purchase", 3)
    )


@register(
    "q_retention_cohort",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
    )
    SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM e JOIN cohort c USING (user_id)
    WHERE e.day - c.cohort_day <= 7
    GROUP BY 1, 2
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted on each of their first 7 ± offset days of activity.

    Plan: the cohort table is a per-user min (one shuffle on user_id);
    the join back to events reuses the same key, and the final
    (cohort_day, offset) aggregate is low-cardinality — its distinct
    count shuffles (cohort, offset, user) triples that partial-agg
    dedup first. Day buckets are integer micros-division: no calendar
    functions, no timezone edge."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("day")
    )
    cohort = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(cohort, "user_id")
        .withColumn("day_offset", F.col("day") - F.col("cohort_day"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def _ordered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, us, event_id): every event with `ts` set.
    NULL-ts rows are unorderable: Spark sorts nulls FIRST, DuckDB
    LAST, so keeping them would silently shift every chain."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
    )


def _transition_counts(e: DataFrame) -> DataFrame:
    """(from_type, to_type, n): each user's consecutive event types in
    (us, event_id) order over _ordered_events `e`, counted per pair.
    The order is the unique (us, event_id) chain, so ties cannot
    reorder across engines. One window shuffle on user_id, then a
    |types|²-row count. _TRANSITION_CTES is the DuckDB mirror."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# DuckDB CTEs `e`, `nx` and `tc(from_type, to_type, n)`: the SQL twin of
# _ordered_events and _transition_counts. MATERIALIZED keeps DuckDB
# from re-running the window per reference; it changes no answer.
_TRANSITION_CTES = """e AS MATERIALIZED (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        FROM events WHERE ts IS NOT NULL
    ),
    nx AS MATERIALIZED (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY us, event_id) AS to_type
        FROM e
    ),
    tc AS MATERIALIZED (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    )"""


@register(
    "q_event_transitions",
    oracle=f"""
    WITH {_TRANSITION_CTES}
    SELECT from_type, to_type, n AS n_transitions FROM tc
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user — the behavioral-model statistic behind next-action
    prediction and anomaly scoring.

    Plan: one window shuffle on user_id for the lead(), then a
    low-cardinality (from, to) count whose shuffle carries map-side
    partials — at 100 TB the transition matrix is |types|² rows no
    matter the input size."""
    return _transition_counts(
        _ordered_events(spark, sf_dir)
    ).withColumnRenamed("n", "n_transitions")


@register(
    "q_ts_resample_ohlc",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               epoch_us(ts) // {_US_PER_HOUR} AS bucket,
               epoch_us(ts) AS us, event_id,
               CAST(round(value * 10000) AS BIGINT) AS px
        FROM events
    ),
    r AS (
        SELECT *,
            row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY us, event_id) AS rn_a,
            row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY us DESC, event_id DESC) AS rn_d
        FROM e
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN rn_a = 1 THEN px END) AS open_e4,
           MAX(px) AS high_e4,
           MIN(px) AS low_e4,
           MAX(CASE WHEN rn_d = 1 THEN px END) AS close_e4,
           COUNT(*) AS n_events
    FROM r GROUP BY user_id, bucket
    """,
)
def q_ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling: per (user, hour) open / high / low / close
    in exact 1e-4 price units — the financial-downsample shape of a
    hypertable rollup.

    Open/close are row_number picks over the unique (us, event_id)
    order (min_by/max_by on a composite key is engine-divergent on
    ties; row_number is not). Plan: both window passes and the final
    aggregate share the (user_id, bucket)-hash partitioning, so the
    whole query is ONE exchange; at 100 TB bars build independently
    per partition with bounded state."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}").alias("bucket"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("px"),
    )
    wa = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    r = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("user_id", "bucket").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("px"))).alias("open_e4"),
        F.max("px").alias("high_e4"),
        F.min("px").alias("low_e4"),
        F.max(F.when(F.col("rn_d") == 1, F.col("px"))).alias("close_e4"),
        F.count(F.lit(1)).alias("n_events"),
    )


_PR_SCALE = 1_000_000  # rank unit: parts-per-million of one page's mass
_PR_ITER = 3


def _pagerank_oracle() -> str:
    """Build the DuckDB oracle: the same 3 power-method iterations as
    chained CTEs. All arithmetic is BIGINT with truncating division
    (operands non-negative, so DuckDB `//` == Spark `div`), making the
    fixpoint bit-identical across engines — no float summation order."""
    head = f"""
    WITH {_TRANSITION_CTES},
    outw AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS ow FROM tc GROUP BY 1
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM e),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank_ppm FROM nodes)"""
    iters = []
    for k in range(1, _PR_ITER + 1):
        iters.append(f"""
    r{k} AS (
        SELECT v.node,
               CAST({15 * _PR_SCALE // 100}
                    + COALESCE(CAST(SUM((r.rank_ppm * 85 * t.n)
                                        // (100 * o.ow)) AS BIGINT), 0)
                    AS BIGINT) AS rank_ppm
        FROM nodes v
        LEFT JOIN tc t ON t.to_type = v.node
        LEFT JOIN outw o ON o.from_type = t.from_type
        LEFT JOIN r{k - 1} r ON r.node = t.from_type
        GROUP BY v.node
    )""")
    return (
        head + "," + ",".join(iters)
        + f"\n    SELECT node, rank_ppm FROM r{_PR_ITER}"
    )


@register("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power-method iterations, damping 0.85) over the
    event-type transition graph — the canonical iterative graph
    algorithm, run on the same per-user consecutive-event edges as
    q_event_transitions.

    Ranks are BIGINT parts-per-million and every step is an integer
    multiply and truncating division, so both engines reach the same
    fixpoint. The mass of types with no outgoing edge is dropped, not
    redistributed.

    Plan: the q_event_markov_stationary shape. One window shuffle over
    the raw events builds the edges; one materialized relation holds
    each edge with its source's out-weight `ow`, plus one row per node.
    Each round is one LEFT join of that relation with the ranks
    (|types| rows, the only side a left join can build, so the
    broadcast cannot flip sides between runs) and one aggregate.
    Against the out-weights and node set materialized apart and joined
    in every round (sf0.01, 4 cores, `tools/ab_fresh.py`, 4 alternated
    pairs): jobs 7 + 13 → 5 + 9, median pass 1.65–2.06 → 1.15–1.61 s,
    process CPU 5.6–6.2 → 3.9–5.4 s.
    """
    e = _ordered_events(spark, sf_dir)
    # The one relation every round joins: each edge with its source's
    # out-weight `ow`, plus one is_node row per event type, so that a
    # type with no in-edge still gets a rank. The flag, not a NULL,
    # marks those rows: an event's type may be NULL, and so may an
    # edge's from_type.
    g = (
        _transition_counts(e)
        .select(
            "*",
            F.sum("n").over(Window.partitionBy("from_type")).cast("bigint").alias("ow"),
            F.lit(False).alias("is_node"),
        )
        .unionByName(
            e.select(F.col("event_type").alias("to_type"), F.lit(True).alias("is_node"))
            .distinct(),
            allowMissingColumns=True,
        )
        # Measured against the identity: sf0.01 1.24/1.35/1.31 vs
        # 1.25/1.41/1.36 s, sf0.1 1.58/1.35/1.49 vs 1.87/1.98/1.81 s.
        .transform(materialize)
    )
    # Ranks are keyed by the column the next round joins on.
    ranks = g.filter("is_node").select(
        F.col("to_type").alias("from_type"), F.lit(_PR_SCALE).cast("bigint").alias("rank_ppm")
    )
    base = 15 * _PR_SCALE // 100
    for _ in range(_PR_ITER):
        ranks = (
            g.join(ranks, "from_type", "left")
            .groupBy(F.col("to_type").alias("from_type"))
            .agg(
                F.expr(f"{base} + coalesce(sum((rank_ppm * 85 * n) div (100 * ow)), 0)")
                .cast("bigint")
                .alias("rank_ppm")
            )
        )
    return ranks.withColumnRenamed("from_type", "node")


@register(
    "q_event_attribution",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
    ),
    m AS (
        SELECT event_id, user_id, event_type, us,
               max(CASE WHEN event_type = 'click' THEN us END) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_click_us
        FROM e
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN last_click_us IS NOT NULL
                 AND us - last_click_us <= {_US_PER_HOUR}
                THEN (us - last_click_us) // 1000000 END AS latency_s,
           CASE WHEN last_click_us IS NULL THEN 'organic'
                WHEN us - last_click_us <= {_US_PER_HOUR} THEN 'click'
                ELSE 'expired' END AS attribution
    FROM m WHERE event_type = 'purchase'
    """,
)
def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent STRICTLY-preceding click if it happened within a 1-hour
    window, else marked expired/organic — the marketing-analytics
    primitive behind every conversion report.

    The composition is a running conditional max (max over CASE WHEN
    click) with a ROWS ... 1 PRECEDING frame — one window shuffle on
    user_id, no self-join: the naive formulation (purchases ⋈ clicks
    on user + time-range) is a per-user cross product, while this scans
    the event stream once whatever the click:purchase ratio. Frame
    order is (us, event_id) so simultaneous events resolve identically
    on both engines; all arithmetic is integer epoch-micros. NULL
    user/ts/type rows (fixture-drift class) are quarantined on both
    sides.

    At 100 TB: identical shape — the window partitions by user
    (bounded per-user history), and only (id, user, type, us) enter
    the exchange, never props/payloads."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.withColumn(
        "last_click_us",
        F.max(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).over(w),
    )
    return m.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(
            F.col("last_click_us").isNotNull()
            & (F.col("us") - F.col("last_click_us") <= _US_PER_HOUR),
            F.expr("(us - last_click_us) DIV 1000000"),
        ).alias("latency_s"),
        F.when(F.col("last_click_us").isNull(), F.lit("organic"))
        .when(
            F.col("us") - F.col("last_click_us") <= _US_PER_HOUR,
            F.lit("click"),
        )
        .otherwise(F.lit("expired"))
        .alias("attribution"),
    )


@register(
    "q_win_islands",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // {_US_PER_DAY} AS day
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    r AS (
        SELECT user_id, day,
               day - row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS anchor
        FROM d
    )
    SELECT user_id,
           CAST(MIN(day) AS BIGINT) AS start_day,
           CAST(MAX(day) AS BIGINT) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM r GROUP BY user_id, anchor
    """,
)
def q_win_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user — the streak/engagement primitive (login streaks, SLA uptime
    runs) that q_win_sessionize's time-gap sessions don't express
    (islands are calendar-aligned, sessions are gap-threshold-aligned).

    The classic row_number trick: day − row_number(day) is constant
    exactly within a consecutive run, so one window plus one groupBy on
    that anchor materializes every island without self-joins or
    iteration. Day numbers are integer epoch-days, and the DISTINCT
    collapses each user-day before the window, so the window input is
    |user×active-day|, not |events|. NULL user/ts rows are quarantined
    identically on both engines.

    At 100 TB: the dedup groupBy and the window shuffle share the
    user_id key (one exchange reused), per-user partitions are bounded
    by the calendar, and only (user, day) longs ever move."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("day"),
        )
        .distinct()
    )
    r = d.select(
        "user_id",
        "day",
        (
            F.col("day")
            - F.row_number().over(
                Window.partitionBy("user_id").orderBy("day")
            )
        ).alias("anchor"),
    )
    return r.groupBy("user_id", "anchor").agg(
        F.min("day").cast("bigint").alias("start_day"),
        F.max("day").cast("bigint").alias("end_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    ).drop("anchor")


_TRI_CAP = 50  # max users per co-occurrence bucket (hot-bucket guard)


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) distinct edge list of the minute-bucket user
    co-occurrence graph with the _TRI_CAP hot-bucket guard. Every query
    over that graph builds it here, and every oracle reads it from
    _COOC_EDGE_CTES, so all of them analyze the SAME graph."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {_US_PER_MIN}").alias("bucket"),
            "user_id",
        )
        .distinct()
    )
    ok = (
        ev.groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") <= _TRI_CAP)
        .drop("n_users")
    )
    return (
        ev.join(ok, ["event_type", "bucket"])
        .alias("a")
        .join(
            ev.alias("c"),
            (F.col("c.event_type") == F.col("a.event_type"))
            & (F.col("c.bucket") == F.col("a.bucket"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("c.user_id").alias("v"))
        .distinct()
        # The _TRI_CAP guard bounds the edges to O(buckets × cap²).
        # Measured against the identity (q_graph_bfs): sf0.1
        # 1.55/2.18/1.84 vs 4.54/4.96/4.17 s; sf1.0 not yet measured.
        .transform(materialize)
    )


# DuckDB CTEs `b`, `ok` and `e(u, v)`: the SQL twin of
# _cooccurrence_edges (same minute buckets, same _TRI_CAP hot-bucket
# guard, same u < v canonical form). Every graph oracle over the
# co-occurrence graph reads its edges from here.
_COOC_EDGE_CTES = f"""b AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // {_US_PER_MIN} AS bucket,
               user_id
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    ok AS MATERIALIZED (
        SELECT event_type, bucket FROM b
        GROUP BY 1, 2 HAVING COUNT(*) <= {_TRI_CAP}
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT a.user_id AS u, c.user_id AS v
        FROM b a
        JOIN ok USING (event_type, bucket)
        JOIN b c ON c.event_type = a.event_type
               AND c.bucket = a.bucket AND a.user_id < c.user_id
    )"""


def _oriented_edges(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg, pairs) of the canonical (u < v) edge list `e`: deg(node, d)
    every node's degree, and pairs(dst, src, ns_src, ns_dst) every edge
    oriented from its lower-(degree, id) endpoint src to dst, with both
    endpoints' sorted out-neighbour lists: ns_src ∩ ns_dst are the
    triangles closed at that edge, each triangle at exactly one edge
    (q_graph_triangles describes the method). Inner joins are safe: an
    edge whose dst has no out-neighbours closes no triangle.
    _TRIANGLE_CTES is the DuckDB mirror."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    # e already has u < v, so ties on degree keep u as the source
    oriented = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(F.col("du") <= F.col("dv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("du") <= F.col("dv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
        )
    )
    outs = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("ns")
    )
    pairs = oriented.join(
        outs.withColumnRenamed("ns", "ns_src"), "src"
    ).join(
        outs.select(F.col("src").alias("dst"), F.col("ns").alias("ns_dst")),
        "dst",
    )
    return deg, pairs


# DuckDB CTEs `deg(node, d)` and `tri(a, b2, c)` over _COOC_EDGE_CTES'
# `e`: the degrees and every triangle once, its corners in id order.
_TRIANGLE_CTES = """deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) t GROUP BY 1
    ),
    tri AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b2, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )"""


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH {_COOC_EDGE_CTES},
    {_TRIANGLE_CTES}
    SELECT CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the user co-occurrence graph (edges join
    users active in the same event_type × MINUTE bucket) — the
    clustering primitive behind community/cohesion metrics, plus the
    graph's size profile in one row.

    Granularity is a semantic dial with a quadratic cost shadow:
    hour-buckets over this fixture make the graph near-complete
    (sf0.1: 1 500 users, 789 k of the 1.1 M possible edges — measured),
    and closing wedges on a near-complete graph is O(n³) no matter the
    algorithm. Minute-buckets model "active together" tightly enough
    that the graph stays sparse (sf0.1: 23 k edges), which is the
    regime triangle counting is FOR — and the bench went 51.5 s → ~1 s
    on exactly this change.

    Construction is capped-bucket like dedup's hot-shingle guard: a
    bucket with more than {_TRI_CAP} users is dropped ON BOTH ENGINES
    before pair expansion, so edge generation is O(buckets × cap²) — a
    boilerplate-hour can't go quadratic. Edges are canonical (u < v)
    and distinct; every count is an exact bigint.

    Counting is DEGREE-ORIENTED set intersection (Suri &
    Vassilvitskii, WWW'11): every edge points from its
    lower-(degree, id) endpoint to the higher, which bounds every
    node's OUT-neighborhood at O(sqrt(m)) no matter how skewed the
    raw degrees. Each triangle {a,b,c} (oriented a→b, a→c, b→c) is
    counted exactly once, at edge (a,b), as |N⁺(a) ∩ N⁺(b)| — the
    per-node out-neighbor arrays join onto the edge list and the
    intersection runs INSIDE the executor over two bounded arrays, so
    the Σ-outdeg² wedge stream never materializes as shuffle rows at
    all (measured at sf1.0: wedge-row shuffle 69 s, broadcast-both-
    sides close join 28 s, this form 14–24 s). No broadcast hint
    anywhere — AQE broadcasts the ~|nodes|-row adjacency side only
    when it actually fits, and the plan degrades to a partitioned
    join, not OOM, on a denser graph.

    The edge list is materialized once inside _cooccurrence_edges, so
    orientation, degree and the edge count all read that checkpoint."""
    e = _cooccurrence_edges(spark, sf_dir)
    deg, pairs = _oriented_edges(e)
    n_tri = (
        pairs.select(F.size(F.array_intersect("ns_src", "ns_dst")).alias("k"))
        .agg(
            F.coalesce(F.sum("k"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_nodes = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    return n_tri.crossJoin(n_edges).crossJoin(n_nodes)


@register(
    "q_event_path_topk",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               list(event_type ORDER BY epoch_us(ts), event_id) AS evs
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL
        GROUP BY user_id
    ),
    paths AS (
        SELECT array_to_string(evs[1:5], '>') AS entry_path FROM ordered
    )
    SELECT entry_path, COUNT(*) AS n_users
    FROM paths
    GROUP BY entry_path
    ORDER BY n_users DESC, entry_path
    LIMIT 10
    """,
)
def q_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top entry paths: each user's first five events as an ordered
    journey string, counted across users — the onboarding-flow /
    drop-off analysis behind every product-analytics "paths" view.

    Plan: a row_number window over (user_id ORDER BY us, event_id)
    keeps only each user's first five events BEFORE any collection,
    so per-user aggregation state is bounded at five structs, not the
    full history. The window's exchange on user_id is reused by the
    following groupBy — no extra shuffle — and `array_sort` re-orders
    the ≤5 collected structs inside the executor ((us, event_id) is a
    unique prefix, so the path string is deterministic despite
    collect_list's arbitrary arrival order).
    The final top-10 is TakeOrderedAndProject.

    NULL quarantine (fixture-drift rule, SURVEY.md §7.4): NULL ts is
    unorderable (Spark sorts NULLs first, DuckDB last) and NULL
    event_type is dropped by Spark's array_join but not by every
    engine's string_agg — rows missing any of the three are excluded
    identically on both engines."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "event_type",
        )
    )
    first5 = e.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("us", "event_id")
        ),
    ).filter(F.col("rn") <= 5)
    per_user = first5.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(us, event_id, event_type))),"
                " x -> x.event_type)"
            ),
            ">",
        ).alias("entry_path")
    )
    return (
        per_user.groupBy("entry_path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "entry_path")
        .limit(10)
    )


@register(
    "q_event_overlap_matrix",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    tot AS (SELECT COUNT(DISTINCT user_id) AS n_total FROM ut)
    SELECT a.event_type AS type_a,
           b.event_type AS type_b,
           COUNT(*) AS n_both,
           CAST(1000000 * COUNT(*) // (SELECT n_total FROM tot) AS BIGINT)
               AS overlap_ppm
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    ORDER BY type_a, type_b
    """,
)
def q_event_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users did both — the segment-intersection report behind audience
    sizing and feature-adoption dashboards.

    Plan: ONE aggregation collects each user's distinct-type set
    (sort_array makes pair order deterministic), pairs expand MAP-SIDE
    from that tiny per-user array (≤ K types ⇒ ≤ K²/2 pairs per user —
    never a users⋈users join), and a second map-combined count
    aggregation lands the K²/2-row matrix. The denominator is a
    broadcast one-row crossJoin. At 100 TB this is two narrow shuffles
    keyed on user_id / (type, type) — the self-join formulation the
    oracle uses would shuffle the distinct (user, type) table twice
    and explode skew on hot users; the set-expansion form is bounded
    by K² regardless of user count.

    NULL quarantine (fixture-drift rule, SURVEY.md §7.4): a NULL
    user_id would form a phantom "user" in the set-expansion form but
    never match the oracle's equi-join; NULL event_type survives
    DISTINCT but not `<` comparison. Both are excluded identically on
    both engines."""
    ut = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .distinct()
    )
    sets = ut.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(types, (x, i) ->"
                " transform(slice(types, i + 2, size(types)),"
                " y -> struct(x AS type_a, y AS type_b))))"
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    tot = ut.agg(F.countDistinct("user_id").alias("n_total"))
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "overlap_ppm",
            F.expr("CAST(1000000 * n_both AS BIGINT) DIV n_total").cast("bigint"),
        )
        .drop("n_total")
        .orderBy("type_a", "type_b")
    )


@register(
    "q_event_dau_wau",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // {_US_PER_DAY} AS day
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    dau AS (
        SELECT day, day // 7 AS week, COUNT(*) AS dau FROM e GROUP BY 1, 2
    ),
    wau AS (
        SELECT day // 7 AS week, COUNT(DISTINCT user_id) AS wau
        FROM e GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau,
           CAST(1000000 * d.dau // w.wau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN wau w USING (week)
    ORDER BY d.day
    """,
)
def q_event_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness: daily active users over weekly active users
    per day, in exact integer ppm — the engagement ratio product teams
    watch (a falling ratio means the same weekly crowd shows up on
    fewer days).

    Plan: one distinct over (user, day) — the partial-agg dedup form —
    feeds BOTH aggregates; DAU groups by (day, week), WAU re-groups
    the same frame by week, and the week-keyed join broadcasts the
    tiny WAU side. Day and week are integer epoch arithmetic (day DIV
    7 — no ISO-week calendar edge). At 100 TB: the (user, day) dedup
    is the only wide shuffle; everything after operates on
    |days| / |weeks| rows."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("day"),
        )
        .distinct()
    )
    dau = e.groupBy("day", F.expr("day DIV 7").alias("week")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    wau = e.groupBy(F.expr("day DIV 7").alias("week")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(F.broadcast(wau), "week")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("CAST(1000000 * dau AS BIGINT) DIV wau").cast("bigint").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("day")
    )


@register(
    "q_graph_degree_dist",
    oracle=f"""
    WITH {_COOC_EDGE_CTES},
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) GROUP BY 1
    )
    SELECT CAST(length(format('{{:b}}', d)) - 1 AS BIGINT) AS log2_bucket,
           COUNT(*) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY 1
    ORDER BY log2_bucket
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the minute-bucket user
    co-occurrence graph, in power-of-two buckets — the shape check
    (roughly power-law? one super-hub?) that decides whether the
    triangle/PageRank passes need skew handling before they run.

    Plan: same capped edge construction as q_graph_triangles (shared
    semantics, one source of truth for the graph), then a degree count
    and a 2^k histogram. The log2 bucket is INTEGER (bit-length − 1 via
    bin()/format-binary) — floor(log2(x)) in floats straddles exact
    powers of two differently per engine (Math.log ratio vs libm log2),
    so no float log is evaluated anywhere. At 100 TB the histogram is
    ≤ 64 rows whatever the graph; the edge list is the only real
    shuffle. Endpoints explode from array(u, v) in the same stage —
    a unionAll(e, e) here would re-run the whole edge construction
    twice (measured: 12 exchanges pre-fix vs 6)."""
    e = _cooccurrence_edges(spark, sf_dir)
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.groupBy(
            (F.length(F.bin(F.col("d"))) - 1).cast("bigint").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_degree"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )


@register(
    "q_funnel_windowed",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    u1 AS (
        SELECT user_id, MIN(us) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, MIN(us) AS t2
        FROM e JOIN u1 USING (user_id)
        WHERE event_type = 'click'
          AND us > t1 AND us - t1 <= {24 * _US_PER_HOUR}
        GROUP BY e.user_id
    ),
    u3 AS (
        SELECT e.user_id, MIN(us) AS t3
        FROM e JOIN u2 USING (user_id)
        WHERE event_type = 'purchase'
          AND us > t2 AND us - t2 <= {24 * _US_PER_HOUR}
        GROUP BY e.user_id
    )
    SELECT 'view' AS step, 1 AS step_ord,
           (SELECT COUNT(*) FROM u1) AS n_users
    UNION ALL
    SELECT 'click_24h', 2, (SELECT COUNT(*) FROM u2)
    UNION ALL
    SELECT 'purchase_24h', 3, (SELECT COUNT(*) FROM u3)
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: view → click within 24 h → purchase
    within 24 h of that click — the attribution-honest funnel (an
    unbounded funnel counts a purchase months later as 'converted';
    every real funnel product asks 'within N hours/days').

    Same chained min-aggregation plan as q_funnel_steps (all stages
    key on user_id, one effective partitioning), with the window
    predicate as pure integer micros arithmetic pushed into each
    stage's filter. At 100 TB the window ALSO bounds state recovery:
    a backfill only needs 24 h of lookback per stage, not full
    history — the property that makes this the streaming-translatable
    variant."""
    win = 24 * _US_PER_HOUR
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    u1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    u2 = (
        e.join(u1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("us") > F.col("t1"))
            & (F.col("us") - F.col("t1") <= win)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    u3 = (
        e.join(u2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("us") > F.col("t2"))
            & (F.col("us") - F.col("t2") <= win)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    row = lambda df, name, ord_: df.agg(  # noqa: E731
        F.lit(name).alias("step"),
        F.lit(ord_).cast("int").alias("step_ord"),
        F.count(F.lit(1)).alias("n_users"),
    ).select("step", "step_ord", "n_users")
    return (
        row(u1, "view", 1)
        .unionAll(row(u2, "click_24h", 2))
        .unionAll(row(u3, "purchase_24h", 3))
    )


@register(
    "q_ship_delay_hist",
    oracle=f"""
    WITH d AS (
        SELECT (epoch_us(l.l_shipdate) // {_US_PER_DAY})
               - (epoch_us(o.o_orderdate) // {_US_PER_DAY}) AS delay_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
    )
    SELECT CASE WHEN delay_days < 0 THEN -1
                ELSE delay_days // 7 END AS week_bucket,
           COUNT(*) AS n_lines,
           CAST(MIN(delay_days) AS BIGINT) AS min_days,
           CAST(MAX(delay_days) AS BIGINT) AS max_days
    FROM d
    GROUP BY 1
    ORDER BY week_bucket
    """,
)
def q_ship_delay_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay histogram in week buckets (negative delays
    — ship before order — quarantined into a -1 bucket as data-quality
    signal): the fulfillment-latency distribution behind SLA and
    logistics review.

    Plan: one orderkey-keyed fact⋈fact join (the facts already share
    the key — same exchange shape as q_join_sort_merge), day
    arithmetic in integer epoch-micros, then a map-side-combined
    histogram to a handful of week buckets. At 100 TB the only wide
    cost is the fact join; the histogram shuffle carries bucket
    partials. Negative-delay bucketing rule is applied identically on
    both engines BEFORE integer division, since DIV/​// truncate
    toward different directions on negative operands (Spark trunc,
    DuckDB floor) — routing them to the sentinel bucket sidesteps the
    divergence entirely."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    # parquet dates decode TIMESTAMP_NTZ here; the session is
    # UTC-pinned, so the cast to TIMESTAMP is an identity re-tag
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (
            F.expr(
                f"unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV {_US_PER_DAY}"
            )
            - F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {_US_PER_DAY}"
            )
        ).alias("delay_days")
    )
    return (
        d.groupBy(
            F.when(F.col("delay_days") < 0, F.lit(-1))
            .otherwise(F.expr("delay_days DIV 7"))
            .cast("bigint")
            .alias("week_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("delay_days").cast("bigint").alias("min_days"),
            F.max("delay_days").cast("bigint").alias("max_days"),
        )
        .orderBy("week_bucket")
    )


@register(
    "q_basket_lift",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_orderkey IS NOT NULL
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM ob),
    brand_n AS (SELECT p_brand, COUNT(*) AS nb FROM ob GROUP BY p_brand),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_both
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING COUNT(*) >= 10
    )
    SELECT brand_a, brand_b, n_both,
           CAST(1000000 * n_both * (SELECT n FROM n_orders)
                // (na.nb * nb.nb) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN brand_n na ON brand_a = na.p_brand
    JOIN brand_n nb ON brand_b = nb.p_brand
    ORDER BY lift_ppm DESC, brand_a, brand_b
    LIMIT 50
    """,
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: brand pairs co-purchased in the same
    order, scored by lift (P(a,b)/(P(a)·P(b)) as exact integer ppm —
    lift > 1e6 means the pair attracts) with a minimum-support floor —
    the association-rule mining core behind recommendations and
    assortment planning.

    Plan: the (order, brand) incidence deduplicates ONCE (broadcast
    part dim onto lineitem, distinct = map-combined); pairs expand
    from per-order brand sets bounded by basket width K (≤ K²/2 per
    order, same set-expansion rule as q_event_overlap_matrix — never
    an unbounded incidence⋈incidence shuffle); marginals broadcast
    back onto the ≤|brands|² pair table. The lift ratio is pure
    integer (1e6·n_both·N DIV (n_a·n_b)); the support floor keeps
    noise pairs out and the output deterministic under the
    (lift, a, b) total order. NULL l_orderkey rows are quarantined
    before the incidence is built: Spark's groupBy would collapse all
    NULL orderkeys into one phantom basket while the oracle's
    equi-self-join never matches NULLs (same rule as
    q_event_overlap_matrix's NULL user_id filter)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        li.filter(F.col("l_orderkey").isNotNull())
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    sets = ob.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("brands")
    )
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) ->"
                    " transform(slice(brands, i + 2, size(brands)),"
                    " y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("pr")
        )
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 10)
    )
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("nb"))
    n_orders = ob.agg(F.countDistinct("l_orderkey").alias("n"))
    return (
        pairs.join(
            F.broadcast(brand_n.select(F.col("p_brand").alias("brand_a"),
                                       F.col("nb").alias("na_nb"))),
            "brand_a",
        )
        .join(
            F.broadcast(brand_n.select(F.col("p_brand").alias("brand_b"),
                                       F.col("nb").alias("nb_nb"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.expr("CAST(1000000 * n_both * n AS BIGINT) DIV (na_nb * nb_nb)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "brand_a", "brand_b")
        .limit(50)
    )


@register(
    "q_orders_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL
    ),
    cohort AS (
        SELECT o_custkey, MIN(m) AS cohort_month FROM o GROUP BY o_custkey
    ),
    cells AS (
        SELECT c.cohort_month,
               (year(o.m) - year(c.cohort_month)) * 12
               + (month(o.m) - month(c.cohort_month)) AS month_offset,
               SUM(o.cents) AS rev_cents
        FROM o JOIN cohort c USING (o_custkey)
        GROUP BY 1, 2
    )
    SELECT cohort_month, month_offset,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(SUM(rev_cents) OVER (
               PARTITION BY cohort_month ORDER BY month_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_rev_cents
    FROM cells
    WHERE month_offset <= 12
    ORDER BY cohort_month, month_offset
    """,
)
def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary cohort LTV: customers grouped by first-order month,
    revenue accumulated across their first year of month offsets —
    the lifetime-value triangle finance teams project from (the
    monetary sibling of q_retention_cohort's activity triangle).

    Plan: cohort assignment is one per-customer min; the join back
    rides the same custkey exchange; the cumulative sum runs over
    ≤13 offsets per cohort month (tiny window partitions). Month
    offsets use year/month integer arithmetic — identical on both
    engines, no date_diff dialect trap. Money stays exact cents."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_custkey").isNotNull()
            & F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_month"))
    cells = (
        o.join(cohort, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                (F.year("m") - F.year("cohort_month")) * 12
                + (F.month("m") - F.month("cohort_month"))
            ).alias("month_offset"),
        )
        .agg(F.sum("cents").alias("rev_cents"))
        .filter(F.col("month_offset") <= 12)
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.select(
            "cohort_month",
            "month_offset",
            F.col("rev_cents").cast("bigint"),
            F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
        )
        .orderBy("cohort_month", "month_offset")
    )


@register(
    "q_graph_link_predict",
    oracle=f"""
    WITH {_COOC_EDGE_CTES},
    adj AS (
        SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v AS node, u AS nbr FROM e
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    centers AS (SELECT node FROM deg WHERE d <= 64),
    common AS (
        SELECT a.nbr AS na, b.nbr AS nb, COUNT(*) AS n_common
        FROM adj a
        JOIN centers USING (node)
        JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT c.na, c.nb, c.n_common, da.d AS deg_a, db.d AS deg_b
        FROM common c
        JOIN deg da ON c.na = da.node
        JOIN deg db ON c.nb = db.node
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.u = c.na AND e.v = c.nb
        )
    )
    SELECT na AS user_a, nb AS user_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(1000000 * n_common
                // (deg_a + deg_b - n_common) AS BIGINT) AS jaccard_ppm
    FROM cand
    ORDER BY jaccard_ppm DESC, user_a, user_b
    LIMIT 50
    """,
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-occurrence graph: non-adjacent user
    pairs ranked by neighbor-set Jaccard (exact integer ppm) — the
    "people you may know" primitive; pairs with high neighborhood
    overlap but no edge are the predicted links.

    Plan: the shared capped edge builder (one source of truth with
    q_graph_triangles/q_graph_degree_dist), adjacency both ways, then
    common-neighbor pairs expand from per-node SORTED neighbor sets —
    bounded by capped-degree² per node (centers above degree 64 are
    skipped — a hub's wedges are uninformative for link prediction
    and alone cost deg² pairs each), never an unbounded
    adjacency⋈adjacency shuffle. Existing edges anti-join out; degree
    marginals broadcast; the score is exact-integer Jaccard ppm with
    a TakeOrdered top-50 under the (score, a, b) total order.

    The edge list is materialized once inside _cooccurrence_edges,
    so its three consumers (adjacency twice, anti-join once) read
    that checkpoint."""
    e = _cooccurrence_edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # hub guard: a super-hub center contributes deg^2 uninformative
    # wedges (a hub neighbors everyone, so overlap through it predicts
    # nothing); capping center degree at 64 bounds expansion per node
    # and is a NO-OP below sf1.0 density (max degree 8 at sf0.01, 57
    # at sf0.1 — measured). Same rule family as _TRI_CAP.
    sets = (
        adj.groupBy("node")
        .agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
        .filter(F.size("ns") <= 64)
    )
    common = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) ->"
                    " transform(slice(ns, i + 2, size(ns)),"
                    " y -> struct(x AS na, y AS nb))))"
                )
            ).alias("p")
        )
        .select("p.na", "p.nb")
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    non_edges = common.join(
        e,
        (common["na"] == e["u"]) & (common["nb"] == e["v"]),
        "left_anti",
    )
    cand = non_edges.join(
        F.broadcast(deg.select(F.col("node").alias("na"), F.col("d").alias("deg_a"))),
        "na",
    ).join(
        F.broadcast(deg.select(F.col("node").alias("nb"), F.col("d").alias("deg_b"))),
        "nb",
    )
    return (
        cand.select(
            F.col("na").alias("user_a"),
            F.col("nb").alias("user_b"),
            F.col("n_common").cast("bigint"),
            F.expr(
                "CAST(1000000 * n_common AS BIGINT)"
                " DIV (deg_a + deg_b - n_common)"
            )
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "user_a", "user_b")
        .limit(50)
    )


@register(
    "q_orders_mix_trend",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority AS priority,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT month, priority, n_orders,
           CAST(1000000 * n_orders
                // SUM(n_orders) OVER (PARTITION BY month) AS BIGINT)
               AS share_ppm
    FROM m
    ORDER BY month, priority
    """,
)
def q_orders_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-mix trend: each month's order count per priority with
    its exact-ppm share of the month — the mix-shift report behind
    "are urgent orders growing?" reviews (an absolute count rises in
    a growing business even when the MIX is flat; the share is the
    signal).

    Plan: one map-combined aggregation to |months|×|priorities| rows;
    the normalizing window partitions by month over that tiny frame.
    Integer ppm shares, calendar work limited to date_trunc (same
    month rendering both engines)."""
    m = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias(
                "month"
            ),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        m.withColumn(
            "tot", F.sum("n_orders").over(Window.partitionBy("month"))
        )
        .withColumn(
            "share_ppm",
            F.expr("CAST(1000000 * n_orders AS BIGINT) DIV tot").cast("bigint"),
        )
        .drop("tot")
        .orderBy("month", "priority")
    )


@register(
    "q_agg_histogram2d",
    oracle="""
    SELECT CAST(CASE WHEN round(l_quantity) < 1 THEN -1
                     ELSE (CAST(round(l_quantity) AS BIGINT) - 1) // 5
                END AS BIGINT) AS qty_band,
           CAST(CASE WHEN round(l_extendedprice * 100) < 0 THEN -1
                     ELSE CAST(round(l_extendedprice * 100) AS BIGINT)
                          // 2000000
                END AS BIGINT) AS price_band,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    GROUP BY 1, 2
    ORDER BY qty_band, price_band
    """,
)
def q_agg_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D histogram: quantity bands (width 5) × price bands
    (width $20 000) with counts and exact-cents mass — the density
    grid behind pricing heatmaps and outlier-cell detection (its 1-D
    sibling is q_agg_histogram).

    Plan: band keys are pure integer arithmetic on exact cents/units
    computed IN the grouping expression — one map-combined
    aggregation straight off the scan to a bounded grid (≤10×~25
    cells), the cheapest aggregate shape there is. Quantities that
    round below 1 and prices that round below 0 are routed to -1
    sentinel bands BEFORE the division on both engines (the
    q_ship_delay_hist rule): Spark DIV truncates toward zero while
    DuckDB // floors, so a negative dividend would land in different
    bands otherwise."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        li.groupBy(
            F.expr(
                "CAST(CASE WHEN round(l_quantity) < 1 THEN -1"
                " ELSE (CAST(round(l_quantity) AS BIGINT) - 1) DIV 5"
                " END AS BIGINT)"
            ).alias("qty_band"),
            F.expr(
                "CAST(CASE WHEN round(l_extendedprice * 100) < 0 THEN -1"
                " ELSE CAST(round(l_extendedprice * 100) AS BIGINT)"
                " DIV 2000000 END AS BIGINT)"
            ).alias("price_band_tmp"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents).cast("bigint").alias("total_cents"),
        )
        .select(
            "qty_band",
            F.col("price_band_tmp").alias("price_band"),
            "n_lines",
            "total_cents",
        )
        .orderBy("qty_band", "price_band")
    )


@register(
    "q_orders_repeat_rate",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE)
                   AS cohort_month,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        GROUP BY o_custkey
    )
    SELECT cohort_month,
           COUNT(*) AS n_customers,
           COUNT(*) FILTER (WHERE n_orders >= 2) AS n_repeat,
           CAST(1000000 * COUNT(*) FILTER (WHERE n_orders >= 2)
                // COUNT(*) AS BIGINT) AS repeat_ppm
    FROM per_cust
    GROUP BY cohort_month
    ORDER BY cohort_month
    """,
)
def q_orders_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by acquisition cohort: of the customers
    first seen each month, how many ever ordered again (exact ppm) —
    the one-number loyalty readout that pairs with
    q_orders_cohort_ltv's revenue triangle.

    Plan: ONE per-customer aggregation computes both the cohort month
    (min orderdate) and the lifetime order count in the same pass —
    no join between a cohort table and a counts table; the cohort
    rollup then shuffles |customers| keyed rows to |months| cells.
    Integer ppm, deterministic ordering."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.date_trunc("month", F.min("o_orderdate"))
            .cast("date")
            .alias("cohort_month"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        per_cust.groupBy("cohort_month")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).alias(
                "n_repeat"
            ),
        )
        .select(
            "cohort_month",
            "n_customers",
            F.col("n_repeat").cast("bigint").alias("n_repeat"),
            F.expr("CAST(1000000 * n_repeat AS BIGINT) DIV n_customers")
            .cast("bigint")
            .alias("repeat_ppm"),
        )
        .orderBy("cohort_month")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Chained-CTE peel: each round recomputes degrees on the
    surviving edge set and drops nodes below _KCORE_K (both
    endpoints must survive for the edge to survive)."""
    ctes = [_COOC_EDGE_CTES, "e0 AS MATERIALIZED (SELECT u, v FROM e)"]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""d{r} AS MATERIALIZED (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM e{p} UNION ALL SELECT v FROM e{p}
        ) t GROUP BY 1
    )"""
        )
        ctes.append(
            f"""k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K})"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
        SELECT u, v FROM e{p}
        WHERE u IN (SELECT node FROM k{r})
          AND v IN (SELECT node FROM k{r})
    )"""
        )
    selects = []
    for r in range(1, _KCORE_ROUNDS + 1):
        selects.append(
            f"""SELECT CAST({r} AS BIGINT) AS round,
           CAST((SELECT COUNT(DISTINCT node) FROM (
               SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
           ) t) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges"""
        )
    body = "\n    UNION ALL\n    ".join(selects)
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + body
        + "\n    ORDER BY round"
    )


@register("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3) on the user co-occurrence graph — the
    community-density primitive behind spam-ring and bot-cohort
    detection: repeatedly delete nodes of degree < k until the
    residual graph (the k-core) is stable. Emits the survivor counts
    after each of 4 peel rounds so the peel trajectory itself is in
    the output — equal consecutive rows certify the fixpoint; still-
    shrinking rows (the sparse sf0.01 graph peels 115→78→58→39 edges
    across rounds 1–4) show exactly how far 4 rounds got.

    Bounded iteration BY DESIGN, like q_graph_pagerank's 3 power
    steps: the peel count is a pinned constant in BOTH engines
    (Spark loop / chained SQL CTEs, generated from the same
    _KCORE_ROUNDS), so the oracle stays pure ANSI SQL. Production
    runs loop to fixpoint with the same per-round body — each round
    is degree-count + two semi-joins, all keyed on node id.

    Scale: each round's edge frame is materialize()d (the
    pagerank/connected-components lineage cap) so round r+1's plan
    roots at materialized edges, not a 4×-replayed window over the
    raw corpus; degrees are map-combined counts and survivors join
    back as semi-joins on the edge's own hash layout. The raw events
    are scanned exactly ONCE (edge build); every later pass is
    |edges|-sized."""
    edges = _cooccurrence_edges(spark, sf_dir)  # materialized inside
    outs = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        edges = (
            edges.join(
                keep.withColumnRenamed("node", "u"), "u", "left_semi"
            )
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            # Measured against the identity: sf0.1 1.87/2.95/3.17 vs
            # 18.14/19.95/18.11 s (pass 1 2.23/5.97/5.47 vs
            # 18.14/27.72/24.47); sf1.0 not yet measured.
            .transform(materialize)
        )
        n_nodes = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .agg(F.countDistinct("node").cast("bigint").alias("n_nodes"))
        )
        n_edges = edges.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges")
        )
        outs.append(
            n_nodes.crossJoin(n_edges).select(
                F.lit(r).cast("bigint").alias("round"),
                "n_nodes",
                "n_edges",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("round")


_BFS_ROUNDS = 3


def _bfs_oracle() -> str:
    """Chained-CTE breadth-first expansion from the lowest-id node:
    frontier f{r} = neighbors(f{r-1}) − visited, r = 1..3."""
    ctes = [
        _COOC_EDGE_CTES,
        "v0 AS MATERIALIZED (SELECT MIN(u) AS node FROM e)",
        "f0 AS MATERIALIZED (SELECT node FROM v0)",
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""f{r} AS MATERIALIZED (
        SELECT DISTINCT n AS node FROM (
            SELECT e.v AS n FROM e JOIN f{p} ON e.u = f{p}.node
            UNION ALL
            SELECT e.u AS n FROM e JOIN f{p} ON e.v = f{p}.node
        ) t WHERE n NOT IN (SELECT node FROM v{p})
    )"""
        )
        ctes.append(
            f"""v{r} AS MATERIALIZED (
        SELECT node FROM v{p} UNION SELECT node FROM f{r}
    )"""
        )
    ctes.append(
        "nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM e"
        " UNION SELECT v FROM e)"
    )
    selects = ["SELECT CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n_nodes"]
    for r in range(1, _BFS_ROUNDS + 1):
        selects.append(
            f"SELECT CAST({r} AS BIGINT),"
            f" CAST((SELECT COUNT(*) FROM f{r}) AS BIGINT)"
        )
    selects.append(
        f"SELECT CAST(-1 AS BIGINT),"
        f" CAST((SELECT COUNT(*) FROM nodes)"
        f" - (SELECT COUNT(*) FROM v{_BFS_ROUNDS}) AS BIGINT)"
    )
    body = "\n    UNION ALL\n    ".join(selects)
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + body
        + "\n    ORDER BY dist"
    )


@register("q_graph_bfs", oracle=_bfs_oracle())
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reach histogram from the lowest-id user on the
    co-occurrence graph: how many users sit at hop distance 1, 2, 3
    from the seed, and how many are unreachable within 3 hops
    (dist = −1) — the influence-radius / blast-radius primitive.

    Bounded-frontier iteration, the q_graph_kcore discipline: hop
    count is a pinned constant generated into BOTH engines from
    _BFS_ROUNDS (Spark loop / chained SQL CTEs), keeping the oracle
    pure ANSI SQL; production loops until the frontier empties with
    the identical round body (frontier-join + anti-join vs visited —
    the Pregel step as two hash joins).

    Scale: the events corpus builds edges ONCE; each hop is
    |edges| ⨝ |frontier| keyed on node id with the visited set as an
    anti-join — no per-node state ever sits on the driver, and each
    round's frontier is materialize()d, so round r+1 joins a
    materialized node set. Degenerate seeds (isolated min-id node)
    just produce empty frontiers — every round still emits its
    histogram row."""
    edges = _cooccurrence_edges(spark, sf_dir)  # materialized inside
    # Measured against the identity: sf1.0 5.62/5.04/5.56 vs 5.83/6.22/5.66 s
    # (sf0.1 lazy-better: 2.85/2.60/2.46 vs 2.50/2.58/2.35).
    visited = edges.agg(F.min("u").alias("node")).transform(materialize)
    frontier = visited
    outs = [
        visited.select(
            F.lit(0).cast("bigint").alias("dist"),
            F.lit(1).cast("bigint").alias("n_nodes"),
        )
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        nbrs = (
            edges.join(
                frontier.withColumnRenamed("node", "u"), "u", "left_semi"
            )
            .select(F.col("v").alias("node"))
            .unionAll(
                edges.join(
                    frontier.withColumnRenamed("node", "v"),
                    "v",
                    "left_semi",
                ).select(F.col("u").alias("node"))
            )
            .distinct()
        )
        # Measured against the identity: sf0.1 3.44/3.78/3.13 vs
        # 4.56/4.81/4.57 s, sf1.0 7.33/7.41/6.09 vs 7.86/8.42/7.87.
        frontier = nbrs.join(visited, "node", "left_anti").transform(materialize)
        visited = visited.unionAll(frontier)
        outs.append(
            frontier.agg(
                F.lit(r).cast("bigint").alias("dist"),
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            )
        )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .agg(F.countDistinct("node").alias("total"))
    )
    reach = visited.agg(F.count(F.lit(1)).alias("reached"))
    outs.append(
        nodes.crossJoin(reach).select(
            F.lit(-1).cast("bigint").alias("dist"),
            (F.col("total") - F.col("reached"))
            .cast("bigint")
            .alias("n_nodes"),
        )
    )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("dist")


_LP_ROUNDS = 3


def _label_prop_oracle() -> str:
    """Chained-CTE min-label propagation: labels start as own node id;
    each round every node takes the min label over itself and its
    neighbors (self-loop rows in `adj` carry the "itself")."""
    ctes = [
        _COOC_EDGE_CTES,
        """nodes AS MATERIALIZED (
        SELECT u AS node FROM e UNION SELECT v FROM e
    )""",
        """adj AS MATERIALIZED (
        SELECT u AS node, v AS other FROM e
        UNION ALL SELECT v, u FROM e
        UNION ALL SELECT node, node FROM nodes
    )""",
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)",
    ]
    for r in range(1, _LP_ROUNDS + 1):
        ctes.append(
            f"""l{r} AS MATERIALIZED (
        SELECT a.node, MIN(l.label) AS label
        FROM adj a JOIN l{r - 1} l ON l.node = a.other
        GROUP BY a.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{_LP_ROUNDS}
    GROUP BY label
    ORDER BY n_members DESC, community"""
    )


@register("q_graph_label_prop", oracle=_label_prop_oracle())
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation communities (3 rounds) on the user
    co-occurrence graph — the deterministic LPA variant (label(v) ←
    min over v ∪ N(v)) that seeds connected-components/community
    detection in training-data graph cleanup (account-cluster and
    spam-ring discovery). After T rounds every node carries the
    smallest node id within T hops, so output communities are exact
    and engine-identical — no vote ties, no randomness. Bounded
    iteration BY DESIGN (the q_graph_kcore convention): T is the
    same pinned constant in the Spark loop and the chained oracle
    CTEs; production loops the identical round body to fixpoint
    (whereupon labels ARE connected components — the large-star/
    small-star operator in operators/graph.py is the accelerated
    O(log n)-round version of the same fixpoint).

    Scale: events scanned ONCE (edge build), then every round is one
    |2·edges+nodes|-row join + map-combined MIN groupBy keyed on
    node id. At 100 TB the per-round exchange carries (node, label)
    pairs only."""
    edges = _cooccurrence_edges(spark, sf_dir)  # materialized inside
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select("v"))
        .distinct()
    )
    adj = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("other"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("other")))
        .unionAll(nodes.select("node", F.col("node").alias("other")))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(_LP_ROUNDS):
        labels = (
            adj.join(
                labels.select(
                    F.col("node").alias("other"), F.col("label").alias("olbl")
                ),
                "other",
            )
            .groupBy("node")
            .agg(F.min("olbl").alias("label"))
        )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(F.col("label").cast("bigint").alias("community"), "n_members")
        .orderBy(F.desc("n_members"), "community")
    )


_MKV_ROUNDS = 3
_MKV_SCALE = 10**12


def _markov_oracle() -> str:
    """Chained-CTE power iteration on the event-type transition
    matrix: v_{t+1}(j) = Σ_i v_t(i)·c_ij DIV c_i, per-term floored —
    exact integers so both engines walk the identical trajectory."""
    ctes = [
        _TRANSITION_CTES,
        "st AS MATERIALIZED (SELECT DISTINCT from_type AS s FROM tc)",
        """tm AS MATERIALIZED (
        SELECT tc.from_type AS f, tc.to_type AS t, tc.n AS c,
               CAST(SUM(tc.n) OVER (PARTITION BY tc.from_type) AS BIGINT)
                   AS rc
        FROM tc JOIN st ON tc.to_type = st.s
    )""",
        f"v0 AS MATERIALIZED (SELECT s, CAST({_MKV_SCALE} AS HUGEINT) AS v FROM st)",
    ]
    for r in range(1, _MKV_ROUNDS + 1):
        ctes.append(
            f"""v{r} AS MATERIALIZED (
        SELECT m.t AS s,
               CAST(SUM((p.v * m.c) // m.rc) AS HUGEINT) AS v
        FROM tm m JOIN v{r - 1} p ON p.s = m.f
        GROUP BY m.t
    )"""
        )
    last = f"v{_MKV_ROUNDS}"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT s AS state,
           CAST(v AS BIGINT) AS mass,
           CAST((v * 1000000) // (SELECT SUM(v) FROM {last}) AS BIGINT)
               AS share_ppm
    FROM {last}
    ORDER BY state
    """


@register("q_event_markov_stationary", oracle=_markov_oracle())
def q_event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary-distribution estimate of the per-user event-type
    Markov chain (q_event_transitions' matrix) by 3 exact-integer
    power-iteration rounds from the uniform start — "where does user
    behavior settle": the long-run share of each event type under
    the observed transition kernel, the behavioral-equilibrium
    report next to the raw transition counts. Each round floors
    v(i)·c_ij DIV c_i per edge (engine-identical), so the trajectory
    is bit-exact on both engines — the q_graph_pagerank discipline
    applied to the type chain; rounds are the same pinned constant in
    the Spark loop and the chained oracle CTEs. The chain is closed
    over states with outgoing edges (transitions into terminal-only
    types are excluded from the kernel), so mass only shrinks by the
    per-edge floors (< |types|² per round).

    Headroom: v·c runs in DECIMAL(38,0)/HUGEINT (v ≤ |types|·1e12,
    c unbounded) — safe to ~1e25 transitions.

    Plan: ONE user-windowed lead() pass collapses the corpus to the
    |types|² transition matrix; every power round is algebra on that
    broadcast-sized relation. At 100 TB only the window exchange
    touches corpus-sized data — identical cost to q_event_transitions."""
    tc = _transition_counts(_ordered_events(spark, sf_dir)).select(
        F.col("from_type").alias("f"),
        F.col("to_type").alias("t"),
        F.col("n").alias("c"),
    )
    st = tc.select(F.col("f").alias("s")).distinct()
    # Measured against the identity: sf0.1 1.85/1.69/1.55 vs 2.22/2.48/2.20
    # s, sf1.0 4.85/4.21/4.07 vs 7.18/7.39/6.83.
    tm = (
        tc.join(st, tc["t"] == st["s"], "left_semi")
        .select(
            "f",
            "t",
            "c",
            F.sum("c").over(Window.partitionBy("f")).cast("bigint").alias("rc"),
        )
        .transform(materialize)
    )
    d38 = "decimal(38,0)"
    v = st.select("s", F.lit(_MKV_SCALE).cast(d38).alias("v"))
    for _ in range(_MKV_ROUNDS):
        v = (
            tm.join(v.select(F.col("s").alias("f"), F.col("v").alias("pv")), "f")
            .groupBy(F.col("t").alias("s"))
            .agg(
                F.sum(F.expr(f"CAST((pv * c) DIV rc AS {d38})"))
                .cast(d38)
                .alias("v")
            )
        )
    tot = v.agg(F.sum("v").cast(d38).alias("tv"))
    return (
        v.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("state"),
            F.col("v").cast("bigint").alias("mass"),
            F.expr("CAST((v * 1000000) DIV tv AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("state")
    )


@register(
    "q_event_time_to_convert",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IN ('view', 'purchase')
    ),
    u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN us END) AS first_view,
               MIN(CASE WHEN event_type = 'purchase' THEN us END) AS first_buy
        FROM e GROUP BY user_id
    ),
    conv AS (
        SELECT (first_buy - first_view) // 1000000 AS delay_s
        FROM u
        WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
          AND first_buy >= first_view
    )
    SELECT least(delay_s // 3600, 24) AS hour_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(delay_s) AS BIGINT) AS min_s,
           CAST(MAX(delay_s) AS BIGINT) AS max_s,
           CAST((CAST(SUM(delay_s) AS HUGEINT) * 1000) // COUNT(*)
                AS BIGINT) AS mean_ms
    FROM conv GROUP BY 1 ORDER BY 1
    """,
)
def q_event_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: first view → first purchase delay
    per user, histogrammed into hourly buckets (capped at 24+h) — the
    conversion-latency report that sets attribution windows
    (q_event_attribution's window is an input; this measures what it
    should be) and funnel SLAs (q_funnel_windowed's twin from the
    latency side). Delays are exact integer µs differences floored to
    seconds; users whose first purchase precedes any view (external
    referral) are excluded by the pinned first_buy ≥ first_view rule,
    identical on both engines; the bucket mean is an exact floored
    millisecond with DECIMAL(38,0)/HUGEINT headroom.

    Plan: ONE map-combined per-user min-pivot aggregate collapses the
    corpus to |users| rows, then a 25-key map-combined histogram —
    no window, no join; at 100 TB the only exchange is the user
    aggregate, keyed on the layout CRM queries already use."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias(
            "first_buy"
        ),
    )
    conv = u.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        F.expr("(first_buy - first_view) DIV 1000000").alias("delay_s")
    )
    return (
        conv.groupBy(
            F.least(F.expr("delay_s DIV 3600"), F.lit(24)).alias("hour_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("delay_s").cast("bigint").alias("min_s"),
            F.max("delay_s").cast("bigint").alias("max_s"),
            F.expr(
                "CAST((CAST(SUM(delay_s) AS DECIMAL(38,0)) * 1000)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("mean_ms"),
        )
        .orderBy("hour_bucket")
    )


@register(
    "q_orders_size_dist",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey, CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items
        FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
    )
    SELECT n_items,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(COUNT(*)) OVER (ORDER BY n_items
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_orders
    FROM per_order GROUP BY n_items ORDER BY n_items
    """,
)
def q_orders_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution: how many orders carry k line items
    (LEFT join keeps zero-item orders honest at k=0), with the
    cumulative count — the basket-size histogram behind picking/
    packing capacity models and the fan-out factor every orders⋈
    lineitem join plan multiplies by.

    Plan: one orderkey-keyed count (the join's natural co-partition
    key), then a map-combined histogram on the ≤ hundreds of distinct
    sizes; the cumulative window runs single-partition over that tiny
    relation by design."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_order = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").cast("bigint").alias("n_items"))
    )
    hist = per_order.groupBy("n_items").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    w = Window.orderBy("n_items").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "n_items",
        "n_orders",
        F.sum("n_orders").over(w).cast("bigint").alias("cum_orders"),
    ).orderBy("n_items")


@register(
    "q_event_new_users",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS d
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ),
    first_day AS (
        SELECT user_id, MIN(d) AS fd FROM e GROUP BY user_id
    ),
    daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n_active FROM e GROUP BY d
    ),
    news AS (
        SELECT fd AS d, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM first_day GROUP BY fd
    )
    SELECT daily.d AS dayn, daily.n_active,
           COALESCE(news.n_new, 0) AS n_new,
           daily.n_active - COALESCE(news.n_new, 0) AS n_returning,
           CAST(SUM(COALESCE(news.n_new, 0)) OVER (ORDER BY daily.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily LEFT JOIN news ON news.d = daily.d
    ORDER BY dayn
    """,
)
def q_event_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split with the cumulative distinct
    user count — the growth-accounting report every activation
    dashboard leads with (the DAU side is q_event_dau_wau; this adds
    the first-touch decomposition and the running reach). "New" is
    first-ever-active day (min integer day per user), so
    n_active = n_new + n_returning exactly and cum_users at the last
    day equals total distinct users — both identities are free
    cross-engine checks the output carries.

    Plan: ONE (user, day) distinct collapse of the corpus, then a
    user-keyed min for first days and two calendar-bounded daily
    aggregates; the cumulative window runs over |days| rows. At
    100 TB the only corpus-sized exchange is the (user, day) combine,
    on the same user key the retention/cohort family already uses."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("d"),
        )
        .distinct()
    )
    first_day = e.groupBy("user_id").agg(F.min("d").alias("fd"))
    daily = e.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    news = first_day.groupBy(F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.join(news, "d", "left")
        .select(
            F.col("d").alias("dayn"),
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            (F.col("n_active") - F.coalesce("n_new", F.lit(0)))
            .cast("bigint")
            .alias("n_returning"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_users"),
        )
        .orderBy("dayn")
    )


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH {_COOC_EDGE_CTES},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) t GROUP BY node
    ),
    dd AS (
        SELECT du.deg AS x, dv.deg AS y
        FROM e JOIN deg du ON du.node = e.u
               JOIN deg dv ON dv.node = e.v
        UNION ALL
        SELECT dv.deg, du.deg
        FROM e JOIN deg du ON du.node = e.u
               JOIN deg dv ON dv.node = e.v
    ),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x * y) AS HUGEINT) AS sxy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx,
               CAST(SUM(y * y) AS HUGEINT) AS syy
        FROM dd
    ),
    r AS (
        SELECT n,
               n * sxy - sx * sy AS cov,
               n * sxx - sx * sx AS vx,
               n * syy - sy * sy AS vy
        FROM m
    )
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1
                ELSE 0 END AS INTEGER) AS r_sign,
           CASE WHEN vx > 0 AND vy > 0 THEN
               CAST(floor(CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE) / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           END AS r2_ppm
    FROM r
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-occurrence graph: the Pearson
    correlation of endpoint degrees over all edge stubs (both
    orientations, the standard Newman definition) — do hubs attach to
    hubs (assortative, r>0, social-style) or to leaves (disassortative,
    r<0, hub-and-spoke)? Reported as r_sign + r²_ppm: the co-moments
    are exact HUGEINT/DECIMAL(38,0) sums over integer degrees
    (symmetric stubs make vx = vy and cov the true stub covariance),
    and the final ratio is ONE identical-shape double expression
    floor-pinned to ppm (the cohens_d convention — its value is
    Cauchy–Schwarz-bounded ≤ 1e6, so no clamp and no magnitude limit;
    the first cut's pre-divided integer form wrapped Spark's
    long-typed DIV at this round's own sf1.0 check, proving the
    harness catches the class it was built for).

    Plan: events scanned once (edge build), degrees are one
    map-combined count, the stub relation is two hash joins on node
    id, and the correlation is a single-row reduction — the
    corr_exact skeleton on graph stubs."""
    edges = _cooccurrence_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = edges.join(du, "u").join(dv, "v")
    dd = ed.select(F.col("du").alias("x"), F.col("dv").alias("y")).unionAll(
        ed.select(F.col("dv").alias("x"), F.col("du").alias("y"))
    )
    d38 = "decimal(38,0)"
    m = dd.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.expr(f"CAST(x AS {d38}) * y")).cast(d38).alias("sxy"),
        F.sum(F.expr(f"CAST(x AS {d38}) * x")).cast(d38).alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {d38}) * y")).cast(d38).alias("syy"),
    )
    r = m.select(
        "n",
        F.expr("n * sxy - sx * sy").alias("cov"),
        F.expr("n * sxx - sx * sx").alias("vx"),
        F.expr("n * syy - sy * sy").alias("vy"),
    )
    return r.select(
        F.expr("CAST(n DIV 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1"
            " ELSE 0 END AS INT)"
        ).alias("r_sign"),
        F.expr(
            "CASE WHEN vx > 0 AND vy > 0 THEN CAST(floor(CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE) / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) END"
        ).alias("r2_ppm"),
    )


@register(
    "q_event_bounce_rate",
    oracle="""
    WITH flagged AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 600000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    numbered AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_id
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY user_id, session_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT)
               AS n_bounces,
           CAST((COUNT(*) FILTER (WHERE n_events = 1) * 1000000)
                // COUNT(*) AS BIGINT) AS bounce_rate_ppm,
           CAST((SUM(n_events) * 1000000) // COUNT(*) AS BIGINT)
               AS mean_events_ppm
    FROM sessions
    """,
)
def q_event_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over 10-minute-gap sessions: the share of sessions
    with exactly one event, plus mean session depth — the engagement
    headline built on q_stream_session / q_win_sessionize's identical
    gaps-and-islands session definition (one definition, three
    consumers — drift between them is impossible because the gap rule
    and tiebreak chain are copied verbatim). Exact floored ppm.

    Plan: one user-partitioned lag window (the sessionize exchange),
    a (user, session) count, then a single-row reduction — nothing
    after the window touches more than |sessions| rows."""
    # gap compared in exact integer MICROSECONDS on both engines — a
    # seconds cast truncates sub-second gaps and shifted one session
    # boundary on the fixture (caught by the parity gate pre-commit)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.select(
        "user_id",
        "us",
        "event_id",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > 600_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return sessions.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.expr(
            "CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("bounce_rate_ppm"),
        F.expr(
            "CAST((SUM(n_events) * 1000000) DIV COUNT(*) AS BIGINT)"
        ).alias("mean_events_ppm"),
    )


@register(
    "q_orders_monthly_median",
    oracle="""
    WITH o AS (
        SELECT (EXTRACT(YEAR FROM o_orderdate) * 100
                + EXTRACT(MONTH FROM o_orderdate)) AS ym,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT ym, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM o GROUP BY ym, cents
    ),
    cum AS (
        SELECT ym, cents, c,
               CAST(SUM(c) OVER (PARTITION BY ym ORDER BY cents) AS BIGINT)
                   AS cm,
               CAST(SUM(c) OVER (PARTITION BY ym) AS BIGINT) AS n
        FROM g
    )
    SELECT ym, MIN(n) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS median_cents
    FROM cum WHERE 2 * cm >= n
    GROUP BY ym ORDER BY ym
    """,
)
def q_orders_monthly_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly MEDIAN order value — the robust revenue trend line
    (means chase whales; q_orders_mix_trend tracks composition, this
    tracks the typical ticket). The median is the exact weighted-
    median pick (smallest value whose cumulative count reaches half —
    q_agg_weighted_median's rule, lower median for even months, no .5
    averaging so everything stays integer cents). Month key is
    EXTRACT-based (yyyymm integer) — calendar extraction agrees
    across engines on DATE values, unlike timestamp truncation.

    Plan: one map-combined (month, cents) count collapses orders to
    distinct values per month; the cumulative window runs per month
    over that bounded relation (the levene median skeleton keyed by
    calendar month)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "year(o_orderdate) * 100 + month(o_orderdate)"
        ).cast("bigint").alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = o.groupBy("ym", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.partitionBy("ym").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wm = Window.partitionBy("ym")
    cum = g.select(
        "ym",
        "cents",
        F.sum("c").over(wcum).cast("bigint").alias("cm"),
        F.sum("c").over(wm).cast("bigint").alias("n"),
    )
    return (
        cum.filter(2 * F.col("cm") >= F.col("n"))
        .groupBy("ym")
        .agg(
            F.min("n").cast("bigint").alias("n_orders"),
            F.min("cents").cast("bigint").alias("median_cents"),
        )
        .orderBy("ym")
    )


@register(
    "q_graph_clustering_coeff",
    oracle=f"""
    WITH {_COOC_EDGE_CTES},
    {_TRIANGLE_CTES},
    pernode AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b2 FROM tri
            UNION ALL SELECT c FROM tri
        ) t GROUP BY 1
    ),
    cc AS (
        SELECT deg.node,
               2 * COALESCE(p.t, 0) * 1000000 // (deg.d * (deg.d - 1))
                   AS c_ppm
        FROM deg LEFT JOIN pernode p ON p.node = deg.node
        WHERE deg.d >= 2
    )
    SELECT CAST(least(c_ppm // 100000, 10) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(c_ppm) // COUNT(*) AS BIGINT) AS avg_c_ppm
    FROM cc
    GROUP BY 1
    ORDER BY bucket
    """,
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient distribution on the co-occurrence
    graph: per node, C_i = 2·tri_i / (d_i·(d_i−1)) in exact integer
    ppm, histogrammed into eleven 0.1-wide buckets with the per-bucket
    mean — the per-node companion to q_graph_triangles' global count
    (same graph, same _TRI_CAP semantics: _cooccurrence_edges /
    _COOC_EDGE_CTES are the single source of truth).

    Counting reuses the triangles plan's degree-oriented intersection
    (Suri & Vassilvitskii: out-neighborhoods bounded at O(sqrt(m))),
    but EXPLODES the common-neighbor array instead of summing its
    size, so each triangle credits all three corners exactly once —
    per-node counts come from one unionAll + groupBy over the triple
    stream, whose row count is 3·|triangles| (bounded by the capped
    wedge count, never materialized wider than the final exchange).
    Nodes of degree < 2 have no defined coefficient and are excluded
    on both engines; a node on edges but in no triangle lands in
    bucket 0 via the left join.

    Plan at 100 TB: identical exchange discipline to q_graph_triangles
    (the materialized edge list read by degree and orientation), plus
    one (node)-keyed exchange for the per-node counts; the bucket
    histogram is a ≤11-row final aggregate."""
    deg, pairs = _oriented_edges(_cooccurrence_edges(spark, sf_dir))
    triples = pairs.select(
        "src",
        "dst",
        F.explode(F.array_intersect("ns_src", "ns_dst")).alias("w"),
    )
    pernode = (
        triples.select(F.col("src").alias("node"))
        .unionAll(triples.select(F.col("dst").alias("node")))
        .unionAll(triples.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    cc = (
        deg.filter(F.col("d") >= 2)
        .join(pernode, "node", "left")
        .select(
            F.expr(
                "2 * COALESCE(t, 0) * 1000000 DIV (d * (d - 1))"
            ).alias("c_ppm")
        )
    )
    return (
        cc.groupBy(
            F.expr("CAST(least(c_ppm DIV 100000, 10) AS BIGINT)").alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.expr("CAST(SUM(c_ppm) DIV COUNT(*) AS BIGINT)").alias(
                "avg_c_ppm"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "q_graph_adamic_adar",
    oracle=f"""
    WITH {_COOC_EDGE_CTES},
    adj AS (
        SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v AS node, u AS nbr FROM e
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    centers AS (SELECT node, d FROM deg WHERE d <= 64),
    wedges AS (
        SELECT a.nbr AS na, b.nbr AS nb,
               CAST(floor(1000000000 / ln(CAST(c.d AS DOUBLE)) + 0.5)
                    AS BIGINT) AS term_e9
        FROM adj a
        JOIN centers c USING (node)
        JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
    ),
    scored AS (
        SELECT na, nb, CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(term_e9) AS BIGINT) AS aa_e9
        FROM wedges GROUP BY na, nb
    )
    SELECT na AS user_a, nb AS user_b, n_common, aa_e9
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.na AND e.v = s.nb)
    ORDER BY aa_e9 DESC, user_a, user_b
    LIMIT 50
    """,
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-occurrence graph:
    non-adjacent user pairs scored by AA = sum over common neighbors z
    of 1/ln(deg z) - the degree-weighted refinement of
    q_graph_link_predict's Jaccard (a shared OBSCURE contact is
    stronger evidence than a shared hub). Each wedge center
    contributes a term_e9 = floor(1e9/ln(d) + 0.5) computed ONCE per
    center from its exact degree (one DOUBLE ln, floor-pinned - the
    charfreq_kl discipline), so the pair score is an exact integer
    sum immune to addition order. A common neighbor has >= 2
    neighbors by construction, so ln(d) >= ln 2 and the term is
    always defined.

    Plan: shared capped edge builder (one source of truth with the
    rest of the q_graph_* family), wedges expand from per-node SORTED
    neighbor sets bounded by the same degree-64 hub guard as
    link_predict (a hub's wedges are uninformative AND cost deg^2 -
    same rule, same constant), existing edges anti-join out, and the
    top-50 is a TakeOrdered under the (aa_e9, a, b) total order. The
    center's term broadcasts WITH the wedge row (no extra join:
    size(ns) is the degree), so the whole score pipeline adds zero
    shuffles beyond link_predict's."""
    e = _cooccurrence_edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    sets = (
        adj.groupBy("node")
        .agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
        # degree-1 nodes yield no wedges anyway, but their ln(1) = 0
        # would put an Infinity through the ANSI bigint cast if the
        # projection ever evaluates before the generator prunes them.
        .filter((F.size("ns") <= 64) & (F.size("ns") >= 2))
    )
    wedges = (
        sets.select(
            F.expr(
                "CAST(floor(1000000000 / ln(CAST(size(ns) AS DOUBLE))"
                " + 0.5) AS BIGINT)"
            ).alias("term_e9"),
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) ->"
                    " transform(slice(ns, i + 2, size(ns)),"
                    " y -> struct(x AS na, y AS nb))))"
                )
            ).alias("p"),
        )
        .select("p.na", "p.nb", "term_e9")
    )
    scored = wedges.groupBy("na", "nb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("term_e9").cast("bigint").alias("aa_e9"),
    )
    non_edges = scored.join(
        e,
        (scored["na"] == e["u"]) & (scored["nb"] == e["v"]),
        "left_anti",
    )
    return (
        non_edges.select(
            F.col("na").alias("user_a"),
            F.col("nb").alias("user_b"),
            "n_common",
            "aa_e9",
        )
        .orderBy(F.desc("aa_e9"), "user_a", "user_b")
        .limit(50)
    )
