"""Time-series queries: gap filling with linear interpolation and
EWMA smoothing (SURVEY.md §2.2.J additions).

The reference corpus (`/root/reference/fact-hive`) has no dataflow
operators (SURVEY.md §0); these cover the hypertable-style surface a
time-series user of the charter engine expects: regularize an event
stream onto a fixed grid (gap-fill) and exponentially smooth it.

Cross-engine determinism rules used here (SURVEY.md §7.4):
- time arithmetic on exact integer microseconds / integer bucket ids
  (`unix_micros` / `epoch_us`, integer division) — never float seconds;
- observed per-bucket averages are SUMs of integer-scaled values with
  a single float division, so both engines interpolate bit-identical
  inputs (a float AVG's summation order differs between engines and
  lands 4-dp rounds on knife edges — measured, not hypothetical);
- the EWMA decay is 0.5 so weights are exact powers of two (no libm
  `pow` last-ulp divergence between JVM and C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import (
    _US_PER_DAY,
    _US_PER_HOUR,
    DAILY_CENTS_SQL,
    daily_cents,
    load_table,
)


@register(
    "q_ts_gapfill",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, value FROM events
    ),
    obs AS (
        -- integer-exact per-bucket state: sum of 1e-4-scaled values
        -- and the count; the average is never materialized as a float
        SELECT user_id, us // {_US_PER_HOUR} AS bucket,
               SUM(CAST(round(value * 10000) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM e GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM span
    ),
    j AS (
        SELECT g.user_id, g.bucket, o.s, o.n
        FROM grid g LEFT JOIN obs o USING (user_id, bucket)
    ),
    f AS (
        SELECT *,
            last_value(s IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_s,
            last_value(n IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_n,
            last_value(CASE WHEN s IS NOT NULL THEN bucket END
                       IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
            first_value(s IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv_s,
            first_value(n IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv_n,
            first_value(CASE WHEN s IS NOT NULL THEN bucket END
                        IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        FROM j
    )
    -- value in exact 1e-4 units in INTEGER arithmetic (half-up for the
    -- non-negative sums the events fixture guarantees; for negative
    -- sums both engines' integer division truncates identically, so
    -- parity holds either way — it just isn't "half-up" there):
    --   observed: s/n            → (2s + n) // 2n
    --   gap: linear interpolation as one rational NUM/DEN
    SELECT user_id, bucket,
           CAST(CASE WHEN s IS NOT NULL
                THEN (2 * s + n) // (2 * n)
                ELSE (2 * (pv_s * nv_n * (nb - bucket)
                           + nv_s * pv_n * (bucket - pb))
                      + pv_n * nv_n * (nb - pb))
                     // (2 * pv_n * nv_n * (nb - pb))
                END AS BIGINT) AS value_e4,
           s IS NULL AS interpolated
    FROM f
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill: regularize per-user event values onto an hourly grid,
    linearly interpolating missing buckets (TimescaleDB
    `time_bucket_gapfill` + `interpolate` semantics).

    Plan: one groupBy(user, bucket) for the observed series, a tiny
    per-user span aggregate whose `sequence()` explode generates the
    grid WITHOUT a join against a calendar table, then a single
    window partitioning (user_id) for all six neighbor lookups — one
    exchange end to end after the grid join. At 100 TB the grid is
    generated (never materialized globally) and every step is
    partitioned by user_id; no per-user history lives outside one
    window partition. Boundary buckets are observed by construction
    (the grid spans min..max observed), so interpolation never probes
    off the edge.

    Output is in exact 1e-4 units (BIGINT): carrying (sum, count)
    instead of a float average and interpolating as one integer
    rational keeps both engines bit-identical — a 4-dp float ROUND
    diverges on knife edges (Spark rounds the shortest-decimal repr
    HALF_UP, DuckDB rounds the binary double; measured: 49.50375 →
    49.5038 vs 49.5037)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    obs = (
        e.withColumn("bucket", F.expr(f"us DIV {_US_PER_HOUR}"))
        .withColumn("scaled", F.round(F.col("value") * 10000).cast("bigint"))
        .groupBy("user_id", "bucket")
        .agg(
            F.sum("scaled").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # Width pin (round 14, the q_udf_cogroup/cosine_pairs rule — JVM
    # edition): the span frame is ~24 B/user, so AQE coalesces its
    # exchange read to ONE partition even under parallelismFirst —
    # and since the obs join broadcasts and every window requires
    # only user_id clustering, the explode, join, both sorts, and all
    # six window passes then run on that single task (12.5 s vs 4.0 s
    # warm at sf1.0). The byte heuristic cannot see that sequence()
    # inflates rows ~700×. Repartitioning obs BEFORE the groupBy
    # makes the agg's own exchange the user-specified one
    # (REPARTITION_BY_NUM — exempt from coalescing, not removable as
    # redundant, zero extra shuffles) so everything downstream stays
    # at full width. A repartition AFTER the agg does NOT work: it is
    # optimizer-removed as redundant with the agg's identical
    # hashpartitioning and the coalescible read survives (measured).
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    span = (
        obs.repartition(nparts, "user_id")
        .groupBy("user_id")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    # No pin needed here: obs broadcasts into the grid (left side
    # already user_id-partitioned at pinned width by the span
    # exchange), so the join and every window run in place.
    j = grid.join(obs, ["user_id", "bucket"], "left")

    wp = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The backward fill is a RUNNING frame over the REVERSED sort, not
    # a [CURRENT ROW, UNBOUNDED FOLLOWING] frame: Spark evaluates the
    # following-frame first_value by re-scanning the partition tail
    # per row — O(gap run²), measured 62 s vs 11 s per column on the
    # 10.5 M-row sf1.0 grid (3 backward columns ≈ the whole 200 s
    # wall; round-12 sweep finding). first non-null at-or-after in
    # ascending order IS last non-null at-or-before in descending
    # order, so the reversed running frame is semantically identical
    # and linear; the extra descending sort of the same partition is
    # one cheap pass.
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ob = F.col("s")
    marked = F.when(ob.isNotNull(), F.col("bucket"))
    f = (
        j.withColumn("pv_s", F.last("s", ignorenulls=True).over(wp))
        .withColumn("pv_n", F.last("n", ignorenulls=True).over(wp))
        .withColumn("pb", F.last(marked, ignorenulls=True).over(wp))
        .withColumn("nv_s", F.last("s", ignorenulls=True).over(wn))
        .withColumn("nv_n", F.last("n", ignorenulls=True).over(wn))
        .withColumn("nb", F.last(marked, ignorenulls=True).over(wn))
    )
    value_e4 = F.expr(
        "CASE WHEN s IS NOT NULL THEN (2 * s + n) DIV (2 * n)"
        " ELSE (2 * (pv_s * nv_n * (nb - bucket) + nv_s * pv_n * (bucket - pb))"
        "       + pv_n * nv_n * (nb - pb))"
        "      DIV (2 * pv_n * nv_n * (nb - pb)) END"
    )
    return f.select(
        "user_id",
        "bucket",
        value_e4.cast("bigint").alias("value_e4"),
        ob.isNull().alias("interpolated"),
    )


@register(
    "q_ts_ewma",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    lw AS (
        SELECT user_id, event_id, value,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
        FROM e
    )
    SELECT user_id, event_id, value,
           ROUND(
               list_sum(list_transform(generate_series(1, len(xs)),
                        j -> xs[j] * power(0.5, len(xs) - j)))
               / list_sum(list_transform(generate_series(1, len(xs)),
                        j -> power(0.5, len(xs) - j))),
           4) AS ewma
    FROM lw
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized EWMA (decay 0.5) of each user's value series over a
    bounded 10-event lookback.

    A plain windowed SUM cannot express recency weights (they depend
    on distance from the current row), so the frame is collected
    (bounded: ≤10 values/row) and folded with higher-order array
    functions — all JVM codegen, no Python. Decay 0.5 keeps every
    weight an exact power of two, so Spark and DuckDB agree bit-for-bit
    before the final 4-dp round. One window partitioning (user_id)
    = one exchange; the frame bound (not a watermark) is what caps
    state at any scale."""
    e = (
        load_table(spark, sf_dir, "events")
        # NULL ts is unorderable, NULL value unmeasurable: quarantine
        # both (Spark collect_list skips nulls, DuckDB list() keeps;
        # null ordering differs FIRST/LAST across engines)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    lw = e.withColumn("xs", F.collect_list("value").over(w))
    num = F.expr(
        "aggregate(transform(xs, (x, i) -> x * power(0.5D, size(xs) - 1 - i)),"
        " 0D, (a, b) -> a + b)"
    )
    den = F.expr(
        "aggregate(transform(xs, (x, i) -> power(0.5D, size(xs) - 1 - i)),"
        " 0D, (a, b) -> a + b)"
    )
    return lw.select(
        "user_id",
        "event_id",
        "value",
        F.round(num / den, 4).alias("ewma"),
    )


@register(
    "q_ts_anomaly",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
        WHERE ts IS NOT NULL
    ),
    w AS (
        SELECT user_id, event_id, value,
               avg(value) OVER win AS mu,
               stddev_samp(value) OVER win AS sd,
               COUNT(*) OVER win AS n
        FROM e
        WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(round(value * 10000) AS BIGINT) AS value_e4,
           ROUND((value - mu) / sd, 4) AS z
    FROM w
    WHERE n >= 10 AND sd > 0 AND abs(value - mu) > 2 * sd
    """,
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: events whose value deviates
    more than 2 sample-stddevs from their user's trailing 20-event
    window (minimum 10 observations) — the monitoring/outlier-flagging
    shape over any metric stream.

    One exchange on user_id serves all three frame aggregates. The
    2-sigma predicate compares UNROUNDED doubles: both engines compute
    mu/sd over the identical frame rows, and the fixture's continuous
    values keep knife-edge ties measure-zero; only the reported z is
    rounded (4 dp) for the value hash."""
    e = (
        load_table(spark, sf_dir, "events")
        # NULL-ts rows are unorderable across engines: quarantine
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
        )
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    w = e.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sd"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    return w.filter(
        (F.col("n") >= 10)
        & (F.col("sd") > 0)
        & (F.abs(F.col("value") - F.col("mu")) > 2 * F.col("sd"))
    ).select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("value_e4"),
        F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias("z"),
    )


@register(
    "q_ts_calendar_dim",
    oracle="""
    WITH spine AS (
        SELECT CAST(unnest(generate_series(
            DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS DATE) AS d
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT s.d,
           CAST(year(s.d) AS INT) AS yr,
           CAST(quarter(s.d) AS INT) AS qtr,
           CAST(month(s.d) AS INT) AS mon,
           CAST(isodow(s.d) - 1 AS INT) AS dow,
           CAST(CASE WHEN s.d = date_trunc('month', s.d)
                THEN 1 ELSE 0 END AS INT) AS is_month_start,
           CAST(COALESCE(dl.n, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN daily dl ON s.d = dl.d
    """,
)
def q_ts_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation + zero-filled fact coverage: a
    generated date spine (1995–2001) with the derived attributes every
    warehouse date dim carries (year/quarter/month, Monday-based dow,
    month-start flag), LEFT-joined to daily order counts so days with
    no orders appear explicitly as 0 — the denominator for
    rate-per-day metrics.

    dow is weekday() (0=Monday), matching DuckDB's isodow-1 — Spark's
    dayofweek() is Sunday-based and silently off-by-one across
    engines.

    Scale: the spine is 2 557 generated rows — a broadcast side by
    construction; the fact side is one map-combined date count. The
    same spine pattern drives q_ts_gapfill's per-key buckets; this
    query is its calendar-grain, whole-table sibling.
    """
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(daily, "d", "left").select(
        "d",
        F.year("d").cast("int").alias("yr"),
        F.quarter("d").cast("int").alias("qtr"),
        F.month("d").cast("int").alias("mon"),
        F.expr("weekday(d)").cast("int").alias("dow"),
        F.when(F.dayofmonth("d") == 1, 1).otherwise(0).cast("int")
        .alias("is_month_start"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
    )


@register(
    "q_ts_cusum",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS v,
               epoch_us(ts) AS us, event_id
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL
    ),
    s AS (
        SELECT user_id, v, us, event_id,
               CAST(row_number() OVER w AS BIGINT) AS i,
               CAST(SUM(v) OVER w AS BIGINT) AS run,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
               CAST(SUM(v) OVER (PARTITION BY user_id) AS BIGINT) AS tot
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    c AS (
        SELECT user_id, i, n,
               abs(n * run - i * tot) AS dev
        FROM s
    ),
    r AS (
        SELECT user_id, i, n, dev,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY dev DESC, i) AS rn
        FROM c
    )
    SELECT user_id, n AS n_events,
           CAST(i AS BIGINT) AS cp_index,
           CAST(dev AS BIGINT) AS max_dev_scaled
    FROM r WHERE rn = 1 AND n >= 10
    """,
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per user: the index where the
    cumulative deviation from the series mean peaks — the classic
    level-shift locator (Page 1954) behind drift alarms on metric
    streams.

    The statistic is kept EXACTLY integer by scaling out the mean:
    |Σ_{j≤i} v_j − i·mean| is multiplied through by n to
    |n·run_i − i·total|, so no division ever happens and both engines
    agree bit-for-bit, ties broken to the earliest index. Overflow
    budget: per-user n·run needs n·Σ|v| < 9.2e18 — at 1e4-cent values
    that allows ~1e7 events per user per series, far past any
    per-user history; shard longer series by epoch window first.

    One window shuffle on user_id computes the running sum, count,
    total, and the argmax rank in the same partition pass; users with
    <10 events are suppressed (a changepoint over 3 points is noise).
    At 100 TB: identical plan — per-user partitions bounded, only
    (user, v, us, id) longs in the exchange."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wu = Window.partitionBy("user_id")
    s = e.select(
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("us", "event_id"))
        .cast("bigint")
        .alias("i"),
        F.sum("v").over(w).cast("bigint").alias("run"),
        F.count(F.lit(1)).over(wu).cast("bigint").alias("n"),
        F.sum("v").over(wu).cast("bigint").alias("tot"),
    )
    c = s.select(
        "user_id",
        "i",
        "n",
        F.abs(F.col("n") * F.col("run") - F.col("i") * F.col("tot")).alias(
            "dev"
        ),
    )
    r = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("dev"), F.asc("i"))
        ),
    )
    return r.filter((F.col("rn") == 1) & (F.col("n") >= 10)).select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("i").cast("bigint").alias("cp_index"),
        F.col("dev").cast("bigint").alias("max_dev_scaled"),
    )


@register(
    "q_ts_seasonality",
    oracle=f"""
    WITH e AS (
        SELECT (epoch_us(ts) // {_US_PER_HOUR}) % 24 AS hour_of_day,
               CAST(round(value * 10000) AS BIGINT) AS v_e4
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    hod AS (
        SELECT hour_of_day, COUNT(*) AS n_events,
               SUM(v_e4) AS sum_e4
        FROM e GROUP BY hour_of_day
    ),
    tot AS (SELECT SUM(n_events) AS n_total FROM hod)
    SELECT hour_of_day,
           n_events,
           CAST((2 * sum_e4 + n_events) // (2 * n_events) AS BIGINT)
               AS avg_e4,
           CAST(1000000 * n_events // (SELECT n_total FROM tot) AS BIGINT)
               AS share_ppm
    FROM hod
    ORDER BY hour_of_day
    """,
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile: event volume share and mean value
    per UTC hour-of-day — the diurnal baseline behind load forecasting
    and "is this hour anomalous" checks (subtract the profile, then
    alert on residual).

    Plan: ONE map-side-combined aggregation collapses any input to 24
    rows; the volume denominator is a broadcast one-row crossJoin over
    those 24 rows. Hour-of-day is pure integer arithmetic on epoch
    micros ((us DIV hour) % 24 — UTC, no calendar/timezone API), the
    mean is the shared (2s+n) DIV 2n half-up rational (non-negative
    values, same rule as q_ts_gapfill), and the share is exact integer
    ppm. At 100 TB this is the cheapest shape a query can have: one
    narrow shuffle of 24-key partials."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            F.expr(f"(unix_micros(ts) DIV {_US_PER_HOUR}) % 24").alias(
                "hour_of_day"
            ),
            F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
        )
    )
    hod = e.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_e4").alias("sum_e4"),
    )
    tot = hod.agg(F.sum("n_events").alias("n_total"))
    return (
        hod.crossJoin(F.broadcast(tot))
        .select(
            "hour_of_day",
            "n_events",
            F.expr("CAST((2 * sum_e4 + n_events) DIV (2 * n_events) AS BIGINT)").alias(
                "avg_e4"
            ),
            F.expr("CAST(1000000 * n_events DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("hour_of_day")
    )


@register(
    "q_ts_mad_outliers",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(round(value * 10000) AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    med AS (
        SELECT user_id, CAST(2 * median(v) AS BIGINT) AS m2,
               COUNT(*) AS n
        FROM e GROUP BY user_id
    ),
    dev AS (
        SELECT e.user_id, m2, n, abs(2 * v - m2) AS dev2
        FROM e JOIN med USING (user_id)
    ),
    mad AS (
        SELECT user_id, m2, n,
               CAST(2 * median(dev2) AS BIGINT) AS mad4
        FROM dev GROUP BY user_id, m2, n
    )
    SELECT d.user_id, mad.n, mad.m2, mad.mad4,
           COUNT(*) FILTER (WHERE 2 * dev2 > 3 * mad4) AS n_outliers
    FROM dev d JOIN mad USING (user_id)
    GROUP BY d.user_id, mad.n, mad.m2, mad.mad4
    ORDER BY d.user_id
    """,
)
def q_ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per user: median absolute deviation
    (MAD), the estimator that survives the outliers it hunts — a
    z-score's mean/stddev are dragged by the very spikes being
    flagged (q_ts_anomaly is the parametric sibling).

    Exactness: medians of an even count average the two middle values,
    a .5-exact rational — so the median is carried ×2 (m2) and the MAD
    ×4 (mad4 = 2·median of the integer deviations |2v − m2|), keeping
    every statistic an exact BIGINT on both engines; the 3-MAD flag
    compares 2·dev2 > 3·mad4 in pure integers. Plan: two
    user_id-keyed aggregations (exact percentile is a sort-based
    aggregate within each user's rows) and one join back — all three
    exchanges share the user_id key, so AQE coalesces them onto one
    partitioning. At 100 TB per-user state is the value multiset; for
    heavy hitters the production dial swaps exact median for
    approx_percentile with the same downstream algebra."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 10000).cast("bigint").alias("v"),
        )
    )
    med = e.groupBy("user_id").agg(
        (2 * F.expr("percentile(v, 0.5)")).cast("bigint").alias("m2"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = e.join(med, "user_id").select(
        "user_id", "m2", "n", F.abs(2 * F.col("v") - F.col("m2")).alias("dev2")
    )
    mad = dev.groupBy("user_id", "m2", "n").agg(
        (2 * F.expr("percentile(dev2, 0.5)")).cast("bigint").alias("mad4")
    )
    return (
        dev.join(mad.select("user_id", "mad4"), "user_id")
        .groupBy("user_id", "n", "m2", "mad4")
        .agg(
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .orderBy("user_id")
    )


@register(
    "q_ts_heatmap_dow_hod",
    oracle=f"""
    WITH e AS (
        SELECT epoch_us(ts) // {_US_PER_DAY} AS day,
               (epoch_us(ts) // {_US_PER_HOUR}) % 24 AS hod,
               CAST(round(value * 10000) AS BIGINT) AS v_e4
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT (day + 3) % 7 AS dow,
           hod AS hour_of_day,
           COUNT(*) AS n_events,
           CAST(SUM(v_e4) AS BIGINT) AS sum_e4
    FROM e
    GROUP BY 1, 2
    ORDER BY dow, hour_of_day
    """,
)
def q_ts_heatmap_dow_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (UTC) — the weekly
    rhythm grid behind staffing and anomaly baselines, refining
    q_ts_seasonality's 24-row profile to a 168-cell week.

    Day-of-week is pure integer arithmetic: epoch day 0 (1970-01-01)
    was a Thursday, so (day + 3) % 7 maps Monday→0 … Sunday→6
    (Thu=0+3=3 ✓) with no calendar API, no locale first-day-of-week
    trap (Spark dayofweek is Sunday=1, DuckDB's is locale-stable but
    differently numbered — neither is used). One map-side-combined aggregation to ≤168 rows;
    at 100 TB the cheapest shape there is."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("day"),
            F.expr(f"(unix_micros(ts) DIV {_US_PER_HOUR}) % 24").alias("hod"),
            F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
        )
    )
    return (
        e.groupBy(
            F.expr("(day + 3) % 7").alias("dow"),
            F.col("hod").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_e4").cast("bigint").alias("sum_e4"),
        )
        .orderBy("dow", "hour_of_day")
    )


@register(
    "q_ts_autocorr",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CAST(round(value * 10000) AS BIGINT) AS v
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL
    ),
    pairs AS (
        SELECT user_id, v AS x,
               lead(v) OVER (PARTITION BY user_id
                             ORDER BY us, event_id) AS y
        FROM e
    ),
    m AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x * y) AS HUGEINT) AS sxy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx,
               CAST(SUM(y * y) AS HUGEINT) AS syy
        FROM pairs WHERE y IS NOT NULL
        GROUP BY user_id HAVING COUNT(*) >= 3
    ),
    r AS (
        SELECT user_id, n,
               abs(n * sxy - sx * sy) // 10000 AS red,
               (n * sxx - sx * sx) // 1000 AS vxr,
               (n * syy - sy * sy) // 1000 AS vyr,
               CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END AS sgn
        FROM m
    )
    SELECT user_id, n,
           CAST(CASE WHEN vxr > 0 AND vyr > 0
                THEN (red * red * 100000000) // (vxr * vyr)
                ELSE NULL END AS BIGINT) AS r2_ppm,
           CAST(sgn AS BIGINT) AS r_sign
    FROM r
    ORDER BY user_id
    """,
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation strength per user's value series — r² in
    exact integer ppm plus the sign of r. Near-zero means the metric
    is noise; strongly positive means momentum/trend (EWMA smoothing
    will help); strongly negative means oscillation — the diagnostic
    run before choosing q_ts_ewma's alpha or trusting q_ts_anomaly's
    independence assumption.

    Plan: ONE user-keyed window builds the (x_t, x_{t+1}) pairs, then
    the same exact-moment machinery as q_agg_corr_exact (five
    DECIMAL(38)/HUGEINT sufficient statistics, fixed-divisor scaling
    before squaring so the 1e32-scale numerator never overflows 38
    digits, identical integer expression on both engines). The window
    and the aggregation share the user_id partitioning — one exchange
    end to end. NULL ts/value/user rows are unorderable or
    unusable and quarantined on both engines (SURVEY §7.4)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            F.round(F.col("value") * 10000).cast("bigint").alias("v"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = e.select(
        "user_id",
        F.col("v").alias("x"),
        F.lead("v").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    d38 = "decimal(38,0)"
    m = (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(d38)).alias("sx"),
            F.sum(F.col("y").cast(d38)).alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
        )
        .filter(F.col("n") >= 3)
    )
    r = m.select(
        "user_id",
        "n",
        F.expr(f"abs(CAST(n AS {d38}) * sxy - sx * sy) DIV 10000").alias("red"),
        F.expr(f"(CAST(n AS {d38}) * sxx - sx * sx) DIV 1000").alias("vxr"),
        F.expr(f"(CAST(n AS {d38}) * syy - sy * sy) DIV 1000").alias("vyr"),
        F.expr(
            f"CASE WHEN CAST(n AS {d38}) * sxy - sx * sy >= 0"
            " THEN 1 ELSE -1 END"
        ).alias("sgn"),
    )
    return r.select(
        "user_id",
        "n",
        F.expr(
            f"CASE WHEN vxr > 0 AND vyr > 0 THEN "
            f"(CAST(red AS {d38}) * CAST(red AS {d38}) * 100000000)"
            f" DIV (CAST(vxr AS {d38}) * CAST(vyr AS {d38}))"
            " ELSE NULL END"
        )
        .cast("bigint")
        .alias("r2_ppm"),
        F.col("sgn").cast("bigint").alias("r_sign"),
    ).orderBy("user_id")


@register(
    "q_ts_error_rate",
    oracle=f"""
    WITH d AS (
        SELECT epoch_us(ts) // {_US_PER_DAY} AS day,
               COUNT(*) AS n_events,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1
    )
    SELECT day,
           n_events, n_errors,
           CAST(1000000 * n_errors // n_events AS BIGINT) AS err_ppm,
           CAST(1000000 * SUM(n_errors) OVER w
                // SUM(n_events) OVER w AS BIGINT) AS err_ppm_7d
    FROM d
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def q_ts_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate SLA series: daily error share plus the 7-day rolling
    rate, both in exact integer ppm — the reliability dashboard line,
    with the rolling ratio computed as (Σ errors)/(Σ events) over the
    window (the correct pooled rate) rather than an average of daily
    ratios (which over-weights quiet days).

    Plan: one map-combined aggregation collapses the stream to
    |days| rows; the rolling window then runs over that tiny daily
    frame (a global window over day-grain aggregates — bounded by
    calendar length, the documented exception to the no-global-window
    rule). All ratios are integer DIV on both engines."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_errors"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return (
        d.select(
            "day",
            "n_events",
            F.col("n_errors").cast("bigint").alias("n_errors"),
            F.expr("CAST(1000000 * n_errors AS BIGINT) DIV n_events")
            .cast("bigint")
            .alias("err_ppm"),
            F.sum("n_errors").over(w).alias("se"),
            F.sum("n_events").over(w).alias("sn"),
        )
        # integer DIV, not float `/`+cast — the float quotient can land
        # an ulp below the true rational and truncate differently than
        # DuckDB's integer // (SURVEY §7.4 hazard 2)
        .withColumn(
            "err_ppm_7d",
            F.expr("CAST(1000000 * se AS BIGINT) DIV sn").cast("bigint"),
        )
        .drop("se", "sn")
        .orderBy("day")
    )


@register(
    "q_ts_impute",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CASE WHEN value IS NULL THEN NULL
                    ELSE CAST(round(value * 10000) AS BIGINT) END AS v
        FROM events WHERE user_id IS NOT NULL
    ),
    modal AS (
        SELECT user_id, v AS mode_e4 FROM (
            SELECT user_id, v, COUNT(*) AS c,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY COUNT(*) DESC, v) AS rn
            FROM e WHERE v IS NOT NULL
            GROUP BY user_id, v
        ) WHERE rn = 1
    )
    SELECT e.user_id,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(e.v) AS n_imputed,
           m.mode_e4,
           CAST(SUM(COALESCE(e.v, m.mode_e4)) AS BIGINT) AS sum_imputed_e4
    FROM e JOIN modal m USING (user_id)
    GROUP BY e.user_id, m.mode_e4
    ORDER BY e.user_id
    """,
)
def q_ts_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation by per-user mode: NULL readings filled
    with the user's most frequent value (deterministic under the
    (count DESC, value ASC) total order), reported as per-user repair
    accounting — the data-repair step run before any aggregate that
    would silently NULL-skip (SUM/AVG drop NULLs; a dashboard
    comparing repaired vs raw needs this audit trail).

    Plan: the modal value is one (user, value) count + a user-
    partitioned top-1 window — the q_agg_mode shape; the join back
    rides the SAME user_id key, so imputation costs one effective
    partitioning end to end. Values in exact 1e-4 ints; users whose
    readings are ALL NULL have no mode and drop from the report on
    both engines (the join is inner) — the quarantine rule made
    explicit."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.when(
                F.col("value").isNull(), F.lit(None).cast("bigint")
            ).otherwise(F.round(F.col("value") * 10000).cast("bigint")).alias("v"),
        )
    )
    counts = (
        e.filter(F.col("v").isNotNull())
        .groupBy("user_id", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("c"), F.asc("v"))
    modal = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("v").alias("mode_e4"))
    )
    return (
        e.join(modal, "user_id")
        .groupBy("user_id", "mode_e4")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("v")).alias("n_imputed"),
            F.sum(F.coalesce(F.col("v"), F.col("mode_e4")))
            .cast("bigint")
            .alias("sum_imputed_e4"),
        )
        .select(
            "user_id", "n_rows", "n_imputed", "mode_e4", "sum_imputed_e4"
        )
        .orderBy("user_id")
    )


@register(
    "q_ts_changepoint",
    oracle=f"""
    WITH b AS (
        SELECT epoch_us(ts) // {_US_PER_HOUR} AS h, COUNT(*) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY h
    ),
    w AS (
        SELECT h, c,
               ROW_NUMBER() OVER (ORDER BY h) AS i,
               SUM(c) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS sl,
               SUM(c) OVER () AS tot,
               COUNT(*) OVER () AS nb
        FROM b
    ),
    g AS (
        SELECT h, i, nb, sl, tot - sl AS sr, tot,
               CAST((1000000 * (CAST(sl AS HUGEINT) * sl * (nb - i)
                                + CAST(tot - sl AS HUGEINT) * (tot - sl) * i))
                    // (CAST(i AS HUGEINT) * (nb - i)) AS BIGINT) AS g_e6
        FROM w WHERE i < nb
    )
    SELECT CAST(h AS BIGINT) AS split_hour,
           CAST(i AS BIGINT) AS split_idx,
           CAST(nb AS BIGINT) AS n_buckets,
           CAST(sl AS BIGINT) AS left_events,
           CAST(sr AS BIGINT) AS right_events,
           g_e6,
           CAST((1000000 * CAST(tot AS HUGEINT) * tot) // nb AS BIGINT)
               AS g_null_e6
    FROM g
    ORDER BY g_e6 DESC, i LIMIT 1
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection, binary-segmentation step 1: the single
    split of the hourly event-count series that best explains the
    data as two level segments — argmax over k of
    Sl²/nl + Sr²/nr (the split maximizing between-segment SSE
    reduction; CUSUM q_ts_cusum flags WHEN drift accumulates, this
    finds WHERE to cut). Emitted: the winning split hour, segment
    sizes/volumes, its gain G·1e6, and the no-split baseline
    S²/n·1e6 — gain ≫ baseline means a real level shift.

    The argmax compares EXACT integers: G(k) is put over the common
    denominator k·(n−k) and floored at e6 scale in HUGEINT/DECIMAL38
    (both engines floor identically; ties → lowest k), so the chosen
    split is engine-exact — a float argmax over near-equal G values
    is not. Overflow: Sl²·nr ≤ N²·n_buckets needs the wide type;
    the DIV result ≤ 1e6·N²/nb... ≤ int64 for N ≤ 1e6·√nb (ttest-
    style budget, the e6 scale is the knob).

    Plan: ONE map-combined count collapses the corpus to its hourly
    buckets (720 rows at any fixture scale — bucket granularity
    bounds the series, the q_graph_triangles granularity lesson);
    the prefix-sum window and argmax run on that bounded series
    (TakeOrdered top-1, no global sort of raw data). At 100 TB the
    corpus contributes exactly one narrow count shuffle."""
    b = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            F.expr(f"unix_micros(ts) DIV {_US_PER_HOUR}").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wo = Window.orderBy("h")
    wall = Window.partitionBy()
    d38 = "decimal(38,0)"
    w = b.select(
        "h",
        "c",
        F.row_number().over(wo).alias("i"),
        F.sum("c")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sl"),
        F.sum("c").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("nb"),
    )
    g = w.filter(F.col("i") < F.col("nb")).select(
        "h",
        "i",
        "nb",
        "sl",
        (F.col("tot") - F.col("sl")).alias("sr"),
        "tot",
        F.expr(
            f"CAST((1000000 * (CAST(sl AS {d38}) * sl * (nb - i)"
            f" + CAST(tot - sl AS {d38}) * (tot - sl) * i))"
            f" DIV (CAST(i AS {d38}) * (nb - i)) AS BIGINT)"
        ).alias("g_e6"),
    )
    return (
        g.select(
            F.col("h").cast("bigint").alias("split_hour"),
            F.col("i").cast("bigint").alias("split_idx"),
            F.col("nb").cast("bigint").alias("n_buckets"),
            F.col("sl").cast("bigint").alias("left_events"),
            F.col("sr").cast("bigint").alias("right_events"),
            "g_e6",
            F.expr(
                f"CAST((1000000 * CAST(tot AS {d38}) * tot) DIV nb"
                " AS BIGINT)"
            ).alias("g_null_e6"),
        )
        .orderBy(F.desc("g_e6"), "split_idx")
        .limit(1)
    )


@register(
    "q_ts_theil_sen",
    oracle=f"""
    WITH {DAILY_CENTS_SQL},
    nd AS (SELECT event_type, COUNT(*) AS n_days FROM s GROUP BY 1),
    pr AS (
        SELECT a.event_type AS event_type,
               ((b.y - a.y) * 1000000) // (b.d - a.d) AS slope_e6
        FROM s a JOIN s b
          ON b.event_type = a.event_type AND b.d > a.d
    ),
    r AS (
        SELECT event_type, slope_e6,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY slope_e6) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM pr
    )
    SELECT r.event_type AS event_type,
           CAST(nd.n_days AS BIGINT) AS n_days,
           CAST(r.np AS BIGINT) AS n_pairs,
           CAST(r.slope_e6 AS BIGINT) AS slope_med_e6
    FROM r JOIN nd ON nd.event_type = r.event_type
    WHERE r.rn = (r.np + 1) // 2
    ORDER BY event_type
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all
    pairwise slopes of the daily-revenue series — the estimator that
    shrugs off the outlier days that wreck the OLS slope
    (q_agg_linreg's exact-moment fit): up to ~29% of the days can be
    corrupt before the trend moves.

    Exact integer end-to-end: daily totals are exact cent sums, each
    pairwise slope is (Δcents·1e6) DIV Δdays — both engines truncate
    integer division toward zero, so negative slopes floor
    identically — and the median is the LOWER median (element at
    rank ⌈n/2⌉ of the slope multiset), picked by rank rather than
    averaged, so no fractional midpoint ever exists. Ties in
    slope_e6 are interchangeable for a rank-picked VALUE, so the
    rank window needs no tiebreak chain.

    Plan: the corpus collapses to the tables.daily_cents series, one
    map-combined (type, day) sum — the only corpus-sized exchange —
    and that day series is materialize()d, since three consumers read
    it (both pair-join sides and the n_days count); the O(days²/2) pair
    self-join and the median rank window run on the tiny per-type day
    series (bounded by the calendar, NOT by row count: 10 years ≈
    3.65 k points → ≤ 6.7 M pairs per type, still executor-local). At
    100 TB the scan dominates; everything after the first aggregate is
    day-bounded. For minute-grain series, pre-bucket to days first —
    the pair set grows with the SQUARE of the series length."""
    # Measured against the identity: sf0.1 0.66/0.66/0.66 vs 0.78/0.72/0.68 s
    # (sf1.0 flat: 2.33/1.84/2.03 vs 2.05/2.12/1.85).
    s = daily_cents(spark, sf_dir).transform(materialize)
    nd = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    a = s.select(
        F.col("event_type").alias("ta"),
        F.col("d").alias("da"),
        F.col("y").alias("ya"),
    )
    b = s.select(
        F.col("event_type").alias("tb"),
        F.col("d").alias("db"),
        F.col("y").alias("yb"),
    )
    pr = a.join(
        b, (F.col("tb") == F.col("ta")) & (F.col("db") > F.col("da"))
    ).select(
        F.col("ta").alias("event_type"),
        F.expr("((yb - ya) * 1000000) DIV (db - da)").alias("slope_e6"),
    )
    r = pr.select(
        "event_type",
        "slope_e6",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("slope_e6"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("np"),
    )
    return (
        r.filter(F.expr("rn = (np + 1) DIV 2"))
        .join(nd, "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("np").cast("bigint").alias("n_pairs"),
            F.col("slope_e6").cast("bigint").alias("slope_med_e6"),
        )
        .orderBy("event_type")
    )


@register(
    "q_ts_mann_kendall",
    oracle=f"""
    WITH {DAILY_CENTS_SQL},
    nd AS (SELECT event_type, COUNT(*) AS n FROM s GROUP BY 1),
    pr AS (
        SELECT a.event_type AS event_type,
               CAST(SUM(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM s a JOIN s b
          ON b.event_type = a.event_type AND b.d > a.d
        GROUP BY 1
    ),
    ti AS (
        SELECT event_type,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
        FROM (SELECT event_type, y, COUNT(*) AS t FROM s GROUP BY 1, 2)
        GROUP BY 1
    ),
    v AS (
        SELECT nd.event_type AS event_type,
               CAST(nd.n AS BIGINT) AS n_days,
               COALESCE(pr.s_stat, 0) AS s_stat,
               nd.n * (nd.n - 1) * (2 * nd.n + 5) - ti.tt AS var18
        FROM nd
        LEFT JOIN pr ON pr.event_type = nd.event_type
        JOIN ti ON ti.event_type = nd.event_type
    ),
    z AS (
        SELECT event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
               CASE WHEN var18 = 0 THEN NULL ELSE CAST(
                   (CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
                              WHEN s_stat < 0 THEN s_stat + 1
                              ELSE 0 END AS HUGEINT)
                    * (CASE WHEN s_stat > 0 THEN s_stat - 1
                            WHEN s_stat < 0 THEN s_stat + 1
                            ELSE 0 END)
                    * 18000000) // var18 AS BIGINT) END AS z2_e6
        FROM v
    )
    SELECT event_type, n_days, s_stat, var18, z2_e6,
           CASE WHEN z2_e6 IS NOT NULL AND z2_e6 >= 3841459 AND s_stat > 0
                THEN 'increasing'
                WHEN z2_e6 IS NOT NULL AND z2_e6 >= 3841459 AND s_stat < 0
                THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM z
    ORDER BY event_type
    """,
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type — the
    significance half of the Sen's-slope pair (q_ts_theil_sen gives
    the magnitude, this says whether the trend is real): S = Σ
    sign(y_j − y_i) over all day pairs, tie-corrected variance, and a
    continuity-corrected z² at the 5% χ²(1) gate (the ttest constant
    3841459).

    Exact integer end-to-end: S is a sum of {-1, 0, 1}; 18·var =
    n(n−1)(2n+5) − Σ t(t−1)(2t+5) stays int64 to n ≈ 7.8e5 days
    (centuries of minutes — any real series is day-bucketed long
    before); z² = (|S|−1)²·18e6 DIV var18 runs in DECIMAL(38,0)/
    HUGEINT because S² ≈ n⁴/4 · 18e6 passes int64 already at n ≈ 5e3.
    Both engines floor the single division identically; the
    continuity correction (|S|−1, the normal-approximation standard)
    is applied via CASE so S = 0 maps to exactly 0.

    Plan: as q_ts_theil_sen — ONE materialized tables.daily_cents
    series feeds the pair join, the tie counts, and the day counts;
    everything after the first aggregate is calendar-bounded. The pair
    join broadcasts the tiny day series; no corpus-sized exchange keys
    on anything but (type, day)."""
    # Measured against the identity: sf1.0 1.31/1.16/1.22 vs 1.46/1.43/1.51 s
    # (sf0.1 flat: 0.72/0.86/0.85 vs 0.93/0.79/0.84).
    s = daily_cents(spark, sf_dir).transform(materialize)
    nd = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = s.select(
        F.col("event_type").alias("ta"),
        F.col("d").alias("da"),
        F.col("y").alias("ya"),
    )
    b = s.select(
        F.col("event_type").alias("tb"),
        F.col("d").alias("db"),
        F.col("y").alias("yb"),
    )
    pr = (
        a.join(b, (F.col("tb") == F.col("ta")) & (F.col("db") > F.col("da")))
        .groupBy(F.col("ta").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ti = (
        s.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    v = (
        nd.join(pr, "event_type", "left")
        .join(ti, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.coalesce(F.col("s_stat"), F.lit(0).cast("bigint")).alias(
                "s_stat"
            ),
            F.expr("n * (n - 1) * (2 * n + 5) - tt")
            .cast("bigint")
            .alias("var18"),
        )
    )
    z = v.withColumn(
        "z2_e6",
        F.expr(
            "CASE WHEN var18 = 0 THEN NULL ELSE CAST("
            " (CAST(CASE WHEN s_stat > 0 THEN s_stat - 1"
            "            WHEN s_stat < 0 THEN s_stat + 1"
            "            ELSE 0 END AS DECIMAL(38,0))"
            "  * (CASE WHEN s_stat > 0 THEN s_stat - 1"
            "          WHEN s_stat < 0 THEN s_stat + 1"
            "          ELSE 0 END)"
            "  * 18000000) DIV var18 AS BIGINT) END"
        ),
    )
    return z.select(
        "event_type",
        "n_days",
        "s_stat",
        "var18",
        "z2_e6",
        F.expr(
            "CASE WHEN z2_e6 IS NOT NULL AND z2_e6 >= 3841459"
            " AND s_stat > 0 THEN 'increasing'"
            " WHEN z2_e6 IS NOT NULL AND z2_e6 >= 3841459"
            " AND s_stat < 0 THEN 'decreasing'"
            " ELSE 'none' END"
        ).alias("trend"),
    ).orderBy("event_type")


@register(
    "q_ts_drawdown",
    oracle=f"""
    WITH {DAILY_CENTS_SQL},
    c AS (
        SELECT event_type, d,
               CAST(SUM(y) OVER (
                   PARTITION BY event_type ORDER BY d) AS BIGINT) AS cum
        FROM s
    ),
    pk AS (
        SELECT event_type, d, cum,
               CAST(MAX(cum) OVER (
                   PARTITION BY event_type ORDER BY d) AS BIGINT) AS peak
        FROM c
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
           CAST(MAX(CASE WHEN peak > 0
                    THEN ((peak - cum) * 1000000) // peak
                    ELSE 0 END) AS BIGINT) AS max_drawdown_ppm,
           CAST(MAX(peak) AS BIGINT) AS peak_cents
    FROM pk
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-revenue curve per
    event type — the risk metric behind 'how far below its best has
    this stream fallen': running peak minus running cumulative sum,
    maximized over days, absolute (cents) and relative (ppm of the
    peak at that day).

    Exact integers: cents sums, running max of exact cums, and the
    relative drawdown is (peak − cum)·1e6 DIV peak per day BEFORE the
    max — both engines floor each day identically, so the max picks
    the same day's value (a float divide then max could disagree on
    near-ties at the 17th digit). Negative daily revenue is handled
    by construction (peak ≥ cum always once peak starts at the first
    cum; first day's drawdown is 0).

    Plan: the tables.daily_cents (type, day) sum is the only
    corpus-sized exchange; both prefix windows (cumsum, running max)
    share the single event_type partitioning over the calendar-bounded
    series; one per-type aggregate ends it. Nothing beyond the first
    aggregate scales with row count."""
    s = daily_cents(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pk = s.select(
        "event_type",
        "d",
        F.sum("y").over(w).cast("bigint").alias("cum"),
    ).select(
        "event_type",
        "d",
        "cum",
        F.max("cum")
        .over(
            Window.partitionBy("event_type")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("peak"),
    )
    return (
        pk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max(F.col("peak") - F.col("cum"))
            .cast("bigint")
            .alias("max_drawdown_cents"),
            F.max(
                F.expr(
                    "CASE WHEN peak > 0"
                    " THEN ((peak - cum) * 1000000) DIV peak"
                    " ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("max_drawdown_ppm"),
            F.max("peak").cast("bigint").alias("peak_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "q_ts_bollinger",
    oracle=f"""
    WITH {DAILY_CENTS_SQL},
    w AS (
        SELECT event_type, d, y,
               CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS HUGEINT) AS ws,
               CAST(SUM(y * y) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS HUGEINT) AS wq,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS wn
        FROM s
    ),
    b AS (
        SELECT event_type,
               CASE WHEN (7 * y - ws) > 0
                     AND (7 * CAST(y AS HUGEINT) - ws)
                         * (7 * CAST(y AS HUGEINT) - ws)
                         > 4 * (7 * wq - ws * ws) THEN 1 ELSE 0
               END AS up,
               CASE WHEN (7 * y - ws) < 0
                     AND (7 * CAST(y AS HUGEINT) - ws)
                         * (7 * CAST(y AS HUGEINT) - ws)
                         > 4 * (7 * wq - ws * ws) THEN 1 ELSE 0
               END AS dn
        FROM w WHERE wn = 7
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(up) AS BIGINT) AS n_breach_up,
           CAST(SUM(dn) AS BIGINT) AS n_breach_down,
           CAST((1000000 * (SUM(up) + SUM(dn))) // COUNT(*) AS BIGINT)
               AS breach_ppm
    FROM b GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach audit on the daily-revenue series: days
    whose value leaves the rolling 7-day mean ± 2σ envelope, counted
    per direction — the volatility-aware anomaly dial next to the
    fixed-threshold q_ts_anomaly and the MAD-robust q_ts_mad_outliers.

    The 2σ test runs WITHOUT a square root or any float: |y − m| > 2σ
    with m = S/7 and σ² = (7Σx² − S²)/49 is multiplied through by 49
    into (7y − S)² > 4·(7Σx² − S²) — an exact integer inequality,
    evaluated in DECIMAL(38,0)/HUGEINT so daily sums past ~1.3e9
    cents (int64's square-root) still compare exactly. Only full
    7-day windows are evaluated (wn = 7), so both engines agree at
    series edges by construction.

    Plan: the one corpus-sized exchange is the tables.daily_cents
    (type, day) sum; the three rolling windows share one event_type
    partitioning over the calendar-bounded series; one per-type
    aggregate ends it."""
    s = daily_cents(spark, sf_dir)
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    d38 = "decimal(38,0)"
    w = s.select(
        "event_type",
        "y",
        F.sum("y").over(w7).cast(d38).alias("ws"),
        F.sum(F.col("y") * F.col("y")).over(w7).cast(d38).alias("wq"),
        F.count(F.lit(1)).over(w7).alias("wn"),
    ).filter(F.col("wn") == 7)
    dev = "(7 * CAST(y AS DECIMAL(38,0)) - ws)"
    band = "4 * (7 * wq - ws * ws)"
    b = w.select(
        "event_type",
        F.expr(
            f"CASE WHEN {dev} > 0 AND {dev} * {dev} > {band}"
            " THEN 1 ELSE 0 END"
        ).alias("up"),
        F.expr(
            f"CASE WHEN {dev} < 0 AND {dev} * {dev} > {band}"
            " THEN 1 ELSE 0 END"
        ).alias("dn"),
    )
    return (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum("up").cast("bigint").alias("n_breach_up"),
            F.sum("dn").cast("bigint").alias("n_breach_down"),
        )
        .select(
            "event_type",
            "n_eval",
            "n_breach_up",
            "n_breach_down",
            F.expr(
                "CAST((1000000 * (n_breach_up + n_breach_down))"
                " DIV n_eval AS BIGINT)"
            ).alias("breach_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "q_ts_forecast_naive",
    oracle=f"""
    WITH {DAILY_CENTS_SQL},
    f AS (
        SELECT event_type, d, y,
               lag(y, 7) OVER (
                   PARTITION BY event_type ORDER BY d) AS yhat,
               lag(d, 7) OVER (
                   PARTITION BY event_type ORDER BY d) AS dlag
        FROM s
    ),
    v AS (
        SELECT event_type, y, yhat
        FROM f WHERE yhat IS NOT NULL AND d - dlag = 7 AND y <> 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(abs(y - yhat)) AS BIGINT) AS sum_abs_err_cents,
           CAST(SUM((1000000 * abs(y - yhat)) // abs(y)) // COUNT(*)
                AS BIGINT) AS mape_ppm,
           CAST((1000000 * SUM(abs(y - yhat))) // SUM(abs(y))
                AS BIGINT) AS wape_ppm
    FROM v GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_ts_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type: predict each
    day's revenue with the value 7 days earlier (the weekly-naive
    baseline every forecasting benchmark starts from — M-competition
    practice) and score it with MAPE and WAPE — the floor any real
    model must beat before it earns a deploy.

    Exactness: per-day percentage errors are e6-floored BEFORE the
    mean ((1e6·|err|) DIV |y|, then DIV n — engine-identical double
    floor); WAPE is a single floor over exact sums, immune to the
    tiny-denominator blowups that make MAPE lie (both reported so the
    divergence itself is diagnostic). Scoring requires the lag to be
    EXACTLY 7 calendar days (d − dlag = 7 guards series gaps — lag()
    counts rows, not days) and y ≠ 0.

    Plan: the tables.daily_cents (type, day) sum, two lag windows
    sharing the event_type partitioning over the calendar-bounded
    series, one per-type aggregate. Nothing after the first exchange
    scales with row count."""
    s = daily_cents(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    f = s.select(
        "event_type",
        "d",
        "y",
        F.lag("y", 7).over(w).alias("yhat"),
        F.lag("d", 7).over(w).alias("dlag"),
    )
    v = f.filter(
        F.col("yhat").isNotNull()
        & (F.col("d") - F.col("dlag") == 7)
        & (F.col("y") != 0)
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(F.abs(F.col("y") - F.col("yhat")))
            .cast("bigint")
            .alias("sum_abs_err_cents"),
            F.sum(F.expr("(1000000 * abs(y - yhat)) DIV abs(y)")).alias(
                "_pe_sum"
            ),
            F.sum(F.abs(F.col("y"))).alias("_ay_sum"),
        )
        .select(
            "event_type",
            "n_scored",
            "sum_abs_err_cents",
            F.expr("CAST(_pe_sum DIV n_scored AS BIGINT)").alias(
                "mape_ppm"
            ),
            F.expr(
                "CAST((1000000 * sum_abs_err_cents) DIV _ay_sum AS BIGINT)"
            ).alias("wape_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "q_orders_backlog",
    oracle=f"""
    WITH sp AS (
        SELECT l_orderkey AS orderkey,
               MAX(epoch_us(l_shipdate)) // {_US_PER_DAY} AS ship_d
        FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    o AS (
        SELECT epoch_us(o.o_orderdate) // {_US_PER_DAY} AS start_d,
               sp.ship_d + 1 AS end_d
        FROM orders o JOIN sp ON sp.orderkey = o.o_orderkey
        WHERE o.o_orderdate IS NOT NULL
          AND sp.ship_d >= epoch_us(o.o_orderdate) // {_US_PER_DAY}
    ),
    diffs AS (
        SELECT start_d AS d, 1 AS delta FROM o
        UNION ALL
        SELECT end_d AS d, -1 AS delta FROM o
    ),
    daily AS (
        SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM diffs GROUP BY d
    )
    SELECT d AS day_id, net AS net_change,
           CAST(SUM(net) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS open_orders
    FROM daily
    ORDER BY day_id
    """,
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog curve: for every day on which the fleet of
    in-flight orders changes, how many orders are placed but not yet
    fully shipped — the warehouse-load series behind staffing and SLA
    questions. An order is open from its order date through its LAST
    lineitem ship date inclusive (orders whose ship history predates
    the order date — impossible intervals — are excluded identically
    in both engines).

    This is the DIFFERENCE-ARRAY pattern for interval accounting: no
    day×order expansion ever exists — each order contributes exactly
    two (+1 at start, −1 at end+1) events, one groupBy collapses them
    to per-day nets, and a prefix sum over the CALENDAR-BOUNDED day
    domain rebuilds the level. At 100 TB the per-order ship aggregate
    and the order join are the only fact-sized steps (both key on
    orderkey, co-partitioned); the window runs over ≤ a few thousand
    day rows (SCALING.md §global-windows) no matter how many orders.
    Exact integers end to end: day ids and counts.

    The output emits only CHANGE days (net ≠ 0 rows exist by
    construction of diffs; a day with balanced +/- still appears with
    net 0 — same in both engines)."""
    sp = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.expr(
                f"MAX(unix_micros(CAST(l_shipdate AS TIMESTAMP)))"
                f" DIV {_US_PER_DAY}"
            ).alias(
                "ship_d"
            )
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                f" DIV {_US_PER_DAY}"
            ).alias("start_d"),
        )
        .join(sp, F.col("orderkey") == F.col("o_orderkey"))
        .filter(F.col("ship_d") >= F.col("start_d"))
        .select("start_d", (F.col("ship_d") + 1).alias("end_d"))
    )
    diffs = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_d").alias("d"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("end_d").alias("d"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("ev")
    ).select("ev.d", "ev.delta")
    daily = diffs.groupBy("d").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.col("d").alias("day_id"),
        F.col("net").alias("net_change"),
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
    ).orderBy("day_id")


_XCORR_A = "click"
_XCORR_B = "purchase"
_XCORR_MAXLAG = 3


@register(
    "q_ts_xcorr",
    oracle=f"""
    WITH e AS (
        SELECT event_type,
               epoch_us(ts) // {{us_day}} AS d
        FROM events
        WHERE ts IS NOT NULL AND event_type IN ('{_XCORR_A}', '{_XCORR_B}')
    ),
    s AS (
        SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2
    ),
    a AS (SELECT d, c FROM s WHERE event_type = '{_XCORR_A}'),
    b AS (SELECT d, c FROM s WHERE event_type = '{_XCORR_B}'),
    lags AS (SELECT range - {_XCORR_MAXLAG} AS lag
             FROM range({2 * _XCORR_MAXLAG + 1})),
    j AS (
        SELECT lags.lag,
               CAST(a.c AS HUGEINT) AS x, CAST(b.c AS HUGEINT) AS y
        FROM lags
        JOIN a ON TRUE
        JOIN b ON b.d = a.d + lags.lag
    ),
    m AS (
        SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM j GROUP BY lag
    ),
    r AS (
        SELECT lag, n,
               n * sxy - sx * sy AS cov,
               n * sxx - sx * sx AS vx,
               n * syy - sy * sy AS vy
        FROM m WHERE n >= 3
    ),
    scaled AS (
        SELECT lag, n, cov, vx, vy,
               1 + greatest(abs(cov), vx, vy) // 1000000000000 AS sc
        FROM r
    ),
    q AS (
        SELECT lag, n, cov,
               cov // sc AS covs, vx // sc AS vxs, vy // sc AS vys
        FROM scaled
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1
                     ELSE 0 END AS INTEGER) AS sign,
           CAST(CASE WHEN vxs > 0 AND vys > 0 THEN
               (covs * covs * 1000000) // (vxs * vys)
           END AS BIGINT) AS corr2_e6
    FROM q
    ORDER BY lag
    """.replace("{us_day}", str(_US_PER_DAY)),
)
def q_ts_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of the click and purchase daily-count series
    at lags −3..+3 days — the lead/lag diagnostic behind campaign
    attribution windows ("do purchases follow clicks by k days?").
    Reported as sign + squared correlation so the whole statistic is
    one exact rational in the integer day counts (the cohens_d
    convention): corr²_e6 = cov²·1e6 DIV (vx·vy) with cov, vx, vy the
    n-scaled co-moments — no square root, no float, the numerator a
    square so the single DIV is non-negative on both engines.

    Overflow headroom: cov²·1e6 would exceed DECIMAL(38,0)/HUGEINT once
    max(|cov|, vx, vy) passes ~1e16 (≈2.5k days × 45k events/day), so
    each lag is pre-scaled by sc = 1 + max(|cov|, vx, vy) DIV 1e12
    before squaring: the scaled terms are ≤1e12, their product ≤1e30 —
    safe up to co-moments of ~1e34 (n·sxy at 1e5 days × 1e12
    events/day, far past 100 TB). sc = 1 at every realistic SF (values
    identical to the unscaled statistic); both engines truncate the
    same DIV so parity holds at any magnitude. A pathologically
    asymmetric lag (vy DIV sc = 0 because vx is ≥1e12× larger) emits
    NULL deterministically on both engines instead of diverging.

    Per-lag n differs (the overlap shrinks at the window edges) and
    is reported; lags with fewer than 3 overlapping days are dropped.

    Plan: ONE map-combined (type, day) count over the filtered corpus
    is the only corpus-sized exchange; the 7-lag replication happens
    on the |days|-row series via an exploded constant sequence, and
    the shifted self-join keys on integer day — calendar-bounded
    work end-to-end after the first aggregate (the mann_kendall
    skeleton)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isin(_XCORR_A, _XCORR_B)
        )
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("d"),
        )
    )
    s = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = s.filter(F.col("event_type") == _XCORR_A).select(
        F.col("d").alias("da"), F.col("c").alias("x")
    )
    b = s.filter(F.col("event_type") == _XCORR_B).select(
        F.col("d").alias("db"), F.col("c").alias("y")
    )
    al = a.select(
        "da",
        "x",
        F.explode(
            F.expr(f"sequence({-_XCORR_MAXLAG}, {_XCORR_MAXLAG})")
        ).alias("lag"),
    )
    d38 = "decimal(38,0)"
    j = al.join(b, F.col("db") == F.col("da") + F.col("lag")).select(
        "lag",
        F.col("x").cast(d38).alias("x"),
        F.col("y").cast(d38).alias("y"),
    )
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    r = m.filter(F.col("n") >= 3).select(
        "lag",
        "n",
        F.expr("n * sxy - sx * sy").alias("cov"),
        F.expr("n * sxx - sx * sx").alias("vx"),
        F.expr("n * syy - sy * sy").alias("vy"),
    )
    q = r.withColumn(
        "sc",
        F.expr(
            "CAST(1 + greatest(abs(cov), vx, vy)"
            " DIV 1000000000000 AS DECIMAL(38,0))"
        ),
    ).select(
        "lag",
        "n",
        "cov",
        F.expr("CAST(cov DIV sc AS DECIMAL(38,0))").alias("covs"),
        F.expr("CAST(vx DIV sc AS DECIMAL(38,0))").alias("vxs"),
        F.expr("CAST(vy DIV sc AS DECIMAL(38,0))").alias("vys"),
    )
    return q.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1"
            " ELSE 0 END AS INT)"
        ).alias("sign"),
        F.expr(
            "CAST(CASE WHEN vxs > 0 AND vys > 0 THEN"
            " (covs * covs * 1000000) DIV (vxs * vys)"
            " END AS BIGINT)"
        ).alias("corr2_e6"),
    ).orderBy("lag")


@register(
    "q_ts_rolling_median",
    oracle=f"""
    WITH s AS (
        SELECT epoch_us(ts) // {_US_PER_DAY} AS dayn,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1
    ),
    w AS (
        SELECT dayn, c,
               list_sort(list(c) OVER (
                   ORDER BY dayn ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               )) AS arr
        FROM s
    )
    SELECT dayn, c,
           CAST(len(arr) AS BIGINT) AS n_win,
           CAST(arr[CAST((len(arr) + 1) // 2 AS INT)]
                + arr[CAST((len(arr) + 2) // 2 AS INT)] AS BIGINT) AS med2
    FROM w
    ORDER BY dayn
    """,
)
def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of the daily event count — the robust
    trend line ops dashboards overlay on spiky traffic (the rolling
    companion to q_ts_mad_outliers' global median). The median is
    carried ×2 (med2 = lower middle + upper middle of the sorted
    window, = 2·median exactly) so even-sized warmup windows stay
    exact BIGINTs — no .5 float ever exists on either engine.

    The window median is computed by sorting the ≤7-element collected
    window array in place — O(w log w) per row on a constant w, which
    beats a percentile-aggregate state machine at this window size
    and keeps the expression engine-portable (list/collect_list +
    sort on both engines).

    Plan: one map-combined daily count collapses the corpus to
    |days| rows BEFORE the single ordered window; at 100 TB the
    window input is calendar-bounded (~36.5 k rows for a century),
    single-partition by design like every q_ts daily series."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("dayn"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w7 = Window.orderBy("dayn").rowsBetween(-6, 0)
    return (
        s.select(
            "dayn",
            "c",
            F.sort_array(F.collect_list("c").over(w7)).alias("arr"),
        )
        .select(
            "dayn",
            "c",
            F.size("arr").cast("bigint").alias("n_win"),
            F.expr(
                "CAST(element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))"
                " + element_at(arr, CAST((size(arr) + 2) DIV 2 AS INT))"
                " AS BIGINT)"
            ).alias("med2"),
        )
        .orderBy("dayn")
    )


@register(
    "q_orders_interarrival",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               epoch_us(o_orderdate) // {_US_PER_DAY} AS dayn,
               o_orderkey
        FROM orders
    ),
    gaps AS (
        SELECT o_custkey,
               dayn - lag(dayn) OVER (
                   PARTITION BY o_custkey ORDER BY dayn, o_orderkey
               ) AS gap_days
        FROM o
    )
    SELECT least(gap_days // 7, 8) AS week_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_days) AS BIGINT) AS min_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_days,
           CAST((CAST(SUM(gap_days) AS HUGEINT) * 1000000) // COUNT(*)
                AS BIGINT) AS mean_days_ppm
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def q_orders_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order interarrival-time distribution: per-customer day gaps
    between consecutive orders, histogrammed into weekly buckets
    (capped at 8+ weeks) — the repeat-purchase cadence behind churn
    windows and replenishment forecasts (q_orders_repeat_rate's
    continuous companion). Gaps are exact integer day numbers
    (epoch-µs DIV day — no calendar function, so the date/timestamp
    encodings can't diverge); the ties within a day break on
    o_orderkey identically in both engines; the mean is an exact
    floored ppm with DECIMAL(38,0)/HUGEINT headroom.

    Plan: ONE lag window partitioned by customer (each partition is
    one customer's order history — embarrassingly parallel, keyed on
    the same o_custkey hash layout downstream CRM queries use), then
    a map-combined groupBy on the derived 9-value bucket key."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {_US_PER_DAY}"
        ).alias("dayn"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("dayn", "o_orderkey")
    gaps = o.select(
        (F.col("dayn") - F.lag("dayn").over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy(
            F.least(F.expr("gap_days DIV 7"), F.lit(8)).alias("week_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_days").cast("bigint").alias("min_days"),
            F.max("gap_days").cast("bigint").alias("max_days"),
            F.expr(
                "CAST((CAST(SUM(gap_days) AS DECIMAL(38,0)) * 1000000)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("mean_days_ppm"),
        )
        .orderBy("week_bucket")
    )


@register(
    "q_ts_week_over_week",
    oracle=f"""
    WITH s AS (
        SELECT epoch_us(ts) // {_US_PER_DAY} AS dayn,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1
    )
    SELECT a.dayn, a.c, b.c AS c_prev_week,
           CAST(CASE WHEN b.c > 0 THEN
               ((a.c - b.c) * 1000000) // b.c
           END AS BIGINT) AS wow_ppm
    FROM s a JOIN s b ON b.dayn = a.dayn - 7
    ORDER BY a.dayn
    """,
)
def q_ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change of the daily event count — the seasonal
    growth line every traffic dashboard leads with (compares each day
    to the SAME weekday last week, so the dow cycle q_ts_seasonality
    measures cancels out). wow_ppm = (c − c₋₇)·1e6 DIV c₋₇, an exact
    floored integer on both engines; negative numerators truncate
    identically (both engines truncate toward zero — the
    jarque_bera-verified convention).

    Plan: one map-combined daily count collapses the corpus to |days|
    rows; the 7-day shift is a self-equi-join on the integer day key
    over that tiny calendar-bounded relation (broadcast-sized at any
    corpus scale) — no window, no corpus re-scan (the daily relation
    is referenced twice but Spark reuses the exchange)."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("dayn"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = s.alias("a")
    b = s.select(
        (F.col("dayn") + 7).alias("dayn"), F.col("c").alias("c_prev_week")
    ).alias("b")
    return (
        a.join(b, "dayn")
        .select(
            "dayn",
            "c",
            "c_prev_week",
            F.expr(
                "CAST(CASE WHEN c_prev_week > 0 THEN"
                " ((c - c_prev_week) * 1000000) DIV c_prev_week"
                " END AS BIGINT)"
            ).alias("wow_ppm"),
        )
        .orderBy("dayn")
    )


_KT_A = "click"
_KT_B = "purchase"


@register(
    "q_ts_kendall_tau",
    oracle=f"""
    WITH s AS (
        SELECT epoch_us(ts) // {_US_PER_DAY} AS d,
               CAST(COUNT(CASE WHEN event_type = '{_KT_A}' THEN 1 END)
                    AS BIGINT) AS x,
               CAST(COUNT(CASE WHEN event_type = '{_KT_B}' THEN 1 END)
                    AS BIGINT) AS y
        FROM events
        WHERE ts IS NOT NULL AND event_type IN ('{_KT_A}', '{_KT_B}')
        GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc
        FROM s a JOIN s b ON a.d < b.d
    ),
    t AS (
        SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n,
               CAST(SUM(conc) AS BIGINT) AS c,
               CAST(SUM(disc) AS BIGINT) AS d
        FROM pairs
    )
    SELECT n, c AS concordant, d AS discordant,
           CAST(CASE WHEN n >= 2 THEN
               ((c - d) * 2000000) // (n * (n - 1))
           END AS BIGINT) AS tau_a_e6
    FROM t
    """,
)
def q_ts_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-a between the click and purchase daily-count
    series — the rank-based co-movement measure that needs no
    distributional assumptions (q_ts_xcorr's Pearson companion;
    q_stat_spearman's pairwise sibling, over day pairs instead of
    ranks). τ_a = (C − D)/(n(n−1)/2) with C/D the concordant/
    discordant day-pair counts — pure integers end to end (tied pairs
    count in neither; τ-a's denominator keeps the statistic exact
    where τ-b's tie correction would need a square root).

    Plan: ONE map-combined (day, type-pivot) count collapses the
    corpus to |days| rows; the day-pair self-join is O(days²) on the
    calendar-bounded series (a century is 36.5 k days → 6.7e8 pairs,
    still an |days|-keyed shuffle-free broadcast join at 100 TB —
    the corpus never enters it)."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull() & F.col("event_type").isin(_KT_A, _KT_B)
        )
        .groupBy(F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("d"))
        .agg(
            F.count(F.when(F.col("event_type") == _KT_A, 1))
            .cast("bigint")
            .alias("x"),
            F.count(F.when(F.col("event_type") == _KT_B, 1))
            .cast("bigint")
            .alias("y"),
        )
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.expr(
            "CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END"
        ).alias("conc"),
        F.expr(
            "CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END"
        ).alias("disc"),
    )
    nn = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = pairs.agg(
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("d"),
    ).crossJoin(F.broadcast(nn))
    return t.select(
        "n",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.expr(
            "CAST(CASE WHEN n >= 2 THEN"
            " ((c - d) * 2000000) DIV (n * (n - 1))"
            " END AS BIGINT)"
        ).alias("tau_a_e6"),
    )


@register(
    "q_ts_winsorized_mean",
    oracle="""
    WITH p AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    r AS (
        SELECT event_type, x,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY x) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM p
    ),
    cuts AS (
        SELECT event_type,
               MAX(n) AS n,
               MAX(CASE WHEN rn = greatest((5 * n + 99) // 100, 1)
                   THEN x END) AS lo,
               MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN x END) AS hi
        FROM r GROUP BY event_type
    )
    SELECT p.event_type,
           CAST(cuts.n AS BIGINT) AS n,
           CAST(cuts.lo AS BIGINT) AS lo_cents,
           CAST(cuts.hi AS BIGINT) AS hi_cents,
           CAST(CAST(SUM(least(greatest(p.x, cuts.lo), cuts.hi))
                AS HUGEINT) * 100 // cuts.n AS BIGINT) AS wins_mean_e4,
           CAST(CAST(SUM(p.x) AS HUGEINT) * 100 // cuts.n AS BIGINT)
               AS raw_mean_e4
    FROM p JOIN cuts USING (event_type)
    GROUP BY p.event_type, cuts.n, cuts.lo, cuts.hi
    ORDER BY p.event_type
    """,
)
def q_ts_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5–95% winsorized mean of event value per type, next to the raw
    mean — the robust location estimate that keeps outliers' VOTES but
    caps their MAGNITUDE (vs q_ts_mad_outliers which flags them and
    trimming which deletes them). Cut points are exact rank-picked
    order statistics (rank = ⌈q·n⌉, the length-percentiles
    convention — tiebreak-independent values), clamping is
    least/greatest in pure integers, and both means are exact floored
    e4-cents with HUGEINT/DECIMAL(38,0) headroom.

    Plan: one type-partitioned rank window over (type, cents) pairs
    computes the cuts; the clamp+mean pass re-aggregates with the
    3-row cut relation attached by the group key — two map-combined
    exchanges total, both keyed on event_type."""
    from pyspark.sql import Window

    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("x")
    r = p.select(
        "event_type",
        "x",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    cuts = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.expr("CASE WHEN rn = greatest((5 * n + 99) DIV 100, 1) THEN x END")
        ).alias("lo"),
        F.max(F.expr("CASE WHEN rn = (95 * n + 99) DIV 100 THEN x END")).alias(
            "hi"
        ),
    )
    return (
        p.join(cuts, "event_type")
        .groupBy("event_type", "n", "lo", "hi")
        .agg(
            F.expr(
                "CAST(CAST(SUM(least(greatest(x, lo), hi)) AS DECIMAL(38,0))"
                " * 100 DIV n AS BIGINT)"
            ).alias("wins_mean_e4"),
            F.expr(
                "CAST(CAST(SUM(x) AS DECIMAL(38,0)) * 100 DIV n AS BIGINT)"
            ).alias("raw_mean_e4"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("lo").cast("bigint").alias("lo_cents"),
            F.col("hi").cast("bigint").alias("hi_cents"),
            "wins_mean_e4",
            "raw_mean_e4",
        )
        .orderBy("event_type")
    )


def _priority_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(priority, pts): per order priority, its 1996-H1 daily order
    revenue as the date-sorted array of (day, v) structs, v the exact
    cent sum of the day's orders — the series the Holt smoothers fold.
    The corpus-sized work is ONE map-combined groupBy to
    |priorities|·|days| cells; each series is at most 181 structs.
    _PRIORITY_DAYS_CTES is the DuckDB mirror."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
    )
    cell = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    return cell.groupBy("priority").agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("pts")
    )


# DuckDB CTEs `cell` and `pts(priority, day, v, t)`: the SQL twin of
# _priority_days, one row per point, t its position in the series.
_PRIORITY_DAYS_CTES = """cell AS (
        SELECT o_orderpriority AS priority, o_orderdate AS day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
          AND o_totalprice IS NOT NULL
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1996-07-01'
        GROUP BY 1, 2
    ),
    pts AS (
        SELECT priority, day, v,
               CAST(row_number() OVER (
                   PARTITION BY priority ORDER BY day) AS BIGINT) AS t
        FROM cell
    )"""


@register(
    "q_ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE {_PRIORITY_DAYS_CTES},
    rec AS (
        SELECT priority, t, day, v,
               CAST(v AS BIGINT) AS level, CAST(0 AS BIGINT) AS trend
        FROM pts WHERE t = 1
        UNION ALL
        SELECT p.priority, p.t, p.day, p.v,
               CAST(floor((p.v + r.level + r.trend) / 2.0) AS BIGINT),
               CAST(floor((floor((p.v + r.level + r.trend) / 2.0)
                           - r.level + r.trend) / 2.0) AS BIGINT)
        FROM rec r JOIN pts p
          ON p.priority = r.priority AND p.t = r.t + 1
    )
    SELECT priority, t, day, v, level, trend,
           CAST(level + trend AS BIGINT) AS forecast_next
    FROM rec
    ORDER BY priority, t
    """,
)
def q_ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) of daily
    revenue per order priority over 1996-H1, alpha = beta = 1/2 - the
    trend-aware upgrade of q_ts_ewma, emitting every day's smoothed
    level, trend, and one-step-ahead forecast. A linear recurrence
    has no closed windowed form, so the engines diverge in HOW they
    iterate while agreeing bit-for-bit on WHAT: state stays in exact
    bigint cents and each half-step is floor(x / 2.0) on an
    integer-valued DOUBLE (exact: the values sit far inside the 2^53
    window, binary halving is lossless, and floor is floor on both
    engines - no DIV truncation semantics in sight). Init l_1 = v_1,
    b_1 = 0; then l_t = floor((v_t + l + b)/2), b_t =
    floor((l_t - l + b)/2) over the OBSERVED-day sequence.

    Spark runs the recurrence as an aggregate() fold over each
    series' date-sorted (day, v) array - one lambda, JVM-side, no
    Python, no driver loop; the DuckDB oracle runs the SAME
    recurrence as a recursive CTE. Third shape: an independent
    pure-Python re-derivation in tests/test_operators.py.

    Scale: the per-series fold is the applyInPandas-free form of
    "sequential per key, parallel across keys" - series fit executor
    memory by construction (a year of daily points per key); the
    corpus-sized work is ONE map-combined groupBy to |series|x|days|
    cells. For series too long to collect per key, checkpoint the
    state per calendar shard and chain (SCALING.md trade-off note);
    at 60M orders this plan never materializes more than 181 structs
    per series."""
    series = _priority_days(spark, sf_dir)
    # fold state: rows = the emitted array, l/b = current level/trend,
    # t = position. l1 must be inlined twice in the trend update
    # (lambdas have no let-binding).
    folded = series.select(
        "priority",
        F.expr(
            """
            aggregate(
              slice(pts, 2, greatest(size(pts) - 1, 0)),
              named_struct(
                'rows', array(named_struct(
                    't', CAST(1 AS BIGINT), 'day', pts[0].day,
                    'v', pts[0].v, 'level', pts[0].v,
                    'trend', CAST(0 AS BIGINT))),
                'l', pts[0].v, 'b', CAST(0 AS BIGINT),
                't', CAST(1 AS BIGINT)),
              (acc, x) -> named_struct(
                'rows', concat(acc.rows, array(named_struct(
                    't', acc.t + 1, 'day', x.day, 'v', x.v,
                    'level', CAST(floor((x.v + acc.l + acc.b) / 2.0)
                                  AS BIGINT),
                    'trend', CAST(floor((floor((x.v + acc.l + acc.b) / 2.0)
                                         - acc.l + acc.b) / 2.0)
                                  AS BIGINT)))),
                'l', CAST(floor((x.v + acc.l + acc.b) / 2.0) AS BIGINT),
                'b', CAST(floor((floor((x.v + acc.l + acc.b) / 2.0)
                                 - acc.l + acc.b) / 2.0) AS BIGINT),
                't', acc.t + 1),
              acc -> acc.rows)
            """
        ).alias("rows"),
    )
    return (
        folded.select("priority", F.explode("rows").alias("r"))
        .select(
            "priority",
            F.col("r.t").alias("t"),
            F.col("r.day").alias("day"),
            F.col("r.v").alias("v"),
            F.col("r.level").alias("level"),
            F.col("r.trend").alias("trend"),
            (F.col("r.level") + F.col("r.trend"))
            .cast("bigint")
            .alias("forecast_next"),
        )
        .orderBy("priority", "t")
    )


_LB_LAGS = 5
_LB_RESCALE = 10000000  # fixed divisor on the n-scaled centered values


@register(
    "q_ts_ljung_box",
    oracle=f"""
    WITH day AS (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    dims AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s
        FROM day
    ),
    y AS (
        SELECT d, (CAST(n AS HUGEINT) * x - s) // {_LB_RESCALE} AS yr,
               n, row_number() OVER (ORDER BY d) AS t
        FROM day CROSS JOIN dims
    ),
    lagged AS (
        SELECT t, n, yr,
               lead(yr, 1) OVER (ORDER BY t) AS y1,
               lead(yr, 2) OVER (ORDER BY t) AS y2,
               lead(yr, 3) OVER (ORDER BY t) AS y3,
               lead(yr, 4) OVER (ORDER BY t) AS y4,
               lead(yr, 5) OVER (ORDER BY t) AS y5
        FROM y
    ),
    mom AS (
        SELECT CAST(MAX(n) AS HUGEINT) AS n,
               CAST(SUM(yr * yr) AS HUGEINT) AS b,
               CAST(SUM(yr * y1) AS HUGEINT) AS a1,
               CAST(SUM(yr * y2) AS HUGEINT) AS a2,
               CAST(SUM(yr * y3) AS HUGEINT) AS a3,
               CAST(SUM(yr * y4) AS HUGEINT) AS a4,
               CAST(SUM(yr * y5) AS HUGEINT) AS a5
        FROM lagged
    ),
    lags AS (
        SELECT n, b, k,
               CASE k WHEN 1 THEN a1 WHEN 2 THEN a2 WHEN 3 THEN a3
                      WHEN 4 THEN a4 ELSE a5 END AS a
        FROM mom, unnest(generate_series(1, {_LB_LAGS})) AS t(k)
    ),
    terms AS (
        SELECT CAST(k AS BIGINT) AS lag,
               CAST(CASE WHEN b > 0 AND n > k THEN
                    CASE WHEN a >= 0 THEN 1 ELSE -1 END END AS BIGINT)
                   AS r_sign,
               CAST(CASE WHEN b > 0 AND n > k THEN
                    a * a * 1000000 // (b * b) END AS BIGINT) AS r2_ppm,
               CAST(CASE WHEN b > 0 AND n > k THEN
                    n * (n + 2) * (a * a * 1000000 // (b * b))
                    // ((n - k) * 1000000) * 1000000
                  + n * (n + 2) * (a * a * 1000000 // (b * b))
                    % ((n - k) * 1000000) * 1000000
                    // ((n - k) * 1000000) END AS BIGINT) AS q_term_e6
        FROM lags
    )
    SELECT lag, r_sign, r2_ppm, q_term_e6,
           CAST(SUM(q_term_e6) OVER (ORDER BY lag) AS BIGINT) AS q_cum_e6
    FROM terms ORDER BY lag
    """,
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily-revenue series:
    Q(m) = n(n+2) * sum_{k=1..m} r_k^2/(n-k) over lags 1..5 - the "is
    this series white noise?" gate run before trusting q_ts_anomaly's
    independence assumption or fitting q_ts_holt_linear's trend.

    Exact-integer discipline end to end (NO float anywhere): center by
    the n-scaled identity y_t = n*x_t - S (integers; the /n^2 cancels
    in every ratio), rescale by the fixed divisor 1e7 once
    (deterministic integer division, identical both engines - the
    q_ts_autocorr overflow rule: raw y^2 sums reach ~1e30 and their
    squares would blow past DECIMAL38), then r_k^2 = A_k^2*1e6 DIV B^2
    <= 1e6 by Cauchy-Schwarz, and each Q term multiplies by the
    integer n(n+2) before a two-step remainder-carrying division by
    (n-k)*1e6 (quotient*1e6 + remainder*1e6 DIV divisor - exact to the
    e6 floor without 1e45-scale intermediates). Emits per-lag rows
    with the cumulative Q so every prefix Q(1..m) is readable.
    Totality: a constant series (b = 0) or one shorter than the lag
    (n <= k, where the divisor turns zero/negative and the engines'
    integer divisions disagree on rounding) yields NULL statistics on
    both engines — guarded per lag, never a crash or divergence.

    Plan: the order log map-combines to ~2 400 day rows (bounded by
    the calendar, independent of sf); the lead windows, moment sums,
    and the 5-row lag expansion all run on that frame - the classic
    giant-input/tiny-state shape. The counting shuffle is the
    query."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    day = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    d38 = "DECIMAL(38,0)"
    dims = day.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    y = day.crossJoin(F.broadcast(dims)).select(
        "d",
        "n",
        F.expr(
            f"CAST((CAST(n AS {d38}) * x - s) DIV {_LB_RESCALE} AS BIGINT)"
        ).alias("yr"),
    )
    w = Window.orderBy("d")
    lagged = y.select(
        "n",
        "yr",
        *[F.lead("yr", k).over(w).alias(f"y{k}") for k in range(1, _LB_LAGS + 1)],
    )
    mom = lagged.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.expr(f"CAST(yr AS {d38}) * yr")).cast(d38).alias("b"),
        *[
            F.sum(F.expr(f"CAST(yr AS {d38}) * y{k}")).cast(d38).alias(f"a{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    lags = mom.select(
        "n",
        "b",
        F.explode(F.expr(f"sequence(1, {_LB_LAGS})")).alias("k"),
        *[F.col(f"a{k}") for k in range(1, _LB_LAGS + 1)],
    ).select(
        "n",
        "b",
        "k",
        F.expr(
            "CASE k WHEN 1 THEN a1 WHEN 2 THEN a2 WHEN 3 THEN a3"
            " WHEN 4 THEN a4 ELSE a5 END"
        ).alias("a"),
    )
    terms = lags.select(
        F.col("k").cast("bigint").alias("lag"),
        # Totality guard (the theta-sketch rule): a constant series has
        # b = 0 (r_k undefined) and a series shorter than the lag has
        # n <= k (the Q term's divisor is zero or NEGATIVE, where the
        # engines' DIV disagree — Spark truncates, DuckDB floors).
        # Both cases emit NULL, identically on both engines.
        F.expr(
            "CAST(CASE WHEN b > 0 AND n > k THEN"
            " CASE WHEN a >= 0 THEN 1 ELSE -1 END END AS BIGINT)"
        ).alias("r_sign"),
        F.expr(
            "CAST(CASE WHEN b > 0 AND n > k THEN"
            " a * a * 1000000 DIV (b * b) END AS BIGINT)"
        ).alias("r2_ppm"),
        F.expr(
            "CAST(CASE WHEN b > 0 AND n > k THEN"
            f" CAST(n AS {d38}) * (n + 2) * (a * a * 1000000 DIV (b * b))"
            " DIV ((n - k) * 1000000) * 1000000"
            f" + CAST(n AS {d38}) * (n + 2) * (a * a * 1000000 DIV (b * b))"
            " % ((n - k) * 1000000) * 1000000"
            " DIV ((n - k) * 1000000) END AS BIGINT)"
        ).alias("q_term_e6"),
    )
    return terms.select(
        "lag",
        "r_sign",
        "r2_ppm",
        "q_term_e6",
        F.sum("q_term_e6")
        .over(Window.orderBy("lag"))
        .cast("bigint")
        .alias("q_cum_e6"),
    ).orderBy("lag")


# --- Holt-Winters additive seasonal (period 7), alpha=beta=gamma=1/2 ---
# The recurrence needs the 7-slot seasonal state inlined per step on
# both engines; the expression strings are generated HERE, once, from
# shared templates, so the two engines cannot drift.
_HW_P = 7


def _hw_spark_fold() -> str:
    spos = (
        "CASE CAST(acc.t % 7 AS INT) "
        + " ".join(f"WHEN {i} THEN acc.s{i}" for i in range(_HW_P))
        + " END"
    )
    lt = f"CAST(floor((x.v - ({spos}) + acc.l + acc.b) / 2.0) AS BIGINT)"
    bt = f"CAST(floor((({lt}) - acc.l + acc.b) / 2.0) AS BIGINT)"
    snew = f"CAST(floor((x.v - ({lt}) + ({spos})) / 2.0) AS BIGINT)"
    s_updates = ", ".join(
        f"'s{i}', IF(CAST(acc.t % 7 AS INT) = {i}, {snew}, acc.s{i})"
        for i in range(_HW_P)
    )
    init_state = ", ".join(
        f"'s{i}', pts[{i}].v - l7" for i in range(_HW_P)
    )
    return f"""
        aggregate(
          slice(pts, 8, greatest(size(pts) - 7, 0)),
          named_struct(
            'rows', transform(slice(pts, 1, 7), (x, i) -> named_struct(
                't', CAST(i + 1 AS BIGINT), 'day', x.day, 'v', x.v,
                'level', l7, 'trend', CAST(0 AS BIGINT),
                'seasonal', CAST(x.v - l7 AS BIGINT))),
            'l', l7, 'b', CAST(0 AS BIGINT), {init_state},
            't', CAST(7 AS BIGINT)),
          (acc, x) -> named_struct(
            'rows', concat(acc.rows, array(named_struct(
                't', acc.t + 1, 'day', x.day, 'v', x.v,
                'level', {lt}, 'trend', {bt}, 'seasonal', {snew}))),
            'l', {lt}, 'b', {bt}, {s_updates},
            't', acc.t + 1),
          acc -> acc.rows)
    """


def _hw_oracle() -> str:
    spos = (
        "CASE CAST(r.t % 7 AS INT) "
        + " ".join(f"WHEN {i} THEN r.s{i}" for i in range(_HW_P))
        + " END"
    )
    lt = f"CAST(floor((p.v - ({spos}) + r.l + r.b) / 2.0) AS BIGINT)"
    bt = f"CAST(floor((({lt}) - r.l + r.b) / 2.0) AS BIGINT)"
    snew = f"CAST(floor((p.v - ({lt}) + ({spos})) / 2.0) AS BIGINT)"
    s_updates = ", ".join(
        f"CASE WHEN CAST(r.t % 7 AS INT) = {i} THEN {snew}"
        f" ELSE r.s{i} END AS s{i}"
        for i in range(_HW_P)
    )
    init_cols = ", ".join(
        f"CAST(MAX(CASE WHEN t = {i + 1} THEN v END) AS BIGINT) AS v{i + 1}"
        for i in range(_HW_P)
    )
    base_s = ", ".join(
        f"CAST(i.v{i + 1} - i.l7 AS BIGINT) AS s{i}" for i in range(_HW_P)
    )
    emit_s = (
        "CASE CAST((t - 1) % 7 AS INT) "
        + " ".join(f"WHEN {i} THEN s{i}" for i in range(_HW_P))
        + " END"
    )
    return f"""
    WITH RECURSIVE {_PRIORITY_DAYS_CTES},
    init AS (
        SELECT priority,
               CAST(floor(SUM(CASE WHEN t <= 7 THEN v ELSE 0 END) / 7.0)
                    AS BIGINT) AS l7,
               CAST(COUNT(*) AS BIGINT) AS n,
               {init_cols}
        FROM pts GROUP BY priority
    ),
    rec AS (
        SELECT p.priority, p.t, p.day, p.v,
               i.l7 AS l, CAST(0 AS BIGINT) AS b, {base_s}
        FROM pts p JOIN init i ON p.priority = i.priority
        WHERE p.t = 7 AND i.n >= 8
        UNION ALL
        SELECT p.priority, p.t, p.day, p.v,
               {lt} AS l, {bt} AS b, {s_updates}
        FROM rec r JOIN pts p
          ON p.priority = r.priority AND p.t = r.t + 1
    ),
    emit AS (
        SELECT p.priority, p.t, p.day, p.v,
               i.l7 AS level, CAST(0 AS BIGINT) AS trend,
               CAST(p.v - i.l7 AS BIGINT) AS seasonal
        FROM pts p JOIN init i ON p.priority = i.priority
        WHERE p.t <= 6 AND i.n >= 8
        UNION ALL
        SELECT priority, t, day, v, l AS level, b AS trend,
               CAST({emit_s} AS BIGINT) AS seasonal
        FROM rec
    )
    SELECT priority, t, day, v, level, trend, seasonal,
           CAST(level + trend + lag(seasonal, 6) OVER (
               PARTITION BY priority ORDER BY t) AS BIGINT)
               AS forecast_next
    FROM emit ORDER BY priority, t
    """


@register("q_ts_holt_winters", oracle=_hw_oracle())
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE SEASONAL smoothing (level + trend +
    period-7 seasonal slots, alpha = beta = gamma = 1/2) of daily
    revenue per order priority over 1996-H1 - the seasonal upgrade of
    q_ts_holt_linear, the textbook triple-exponential forecaster for
    weekly-cycling business series. Emits every observed day's
    smoothed level, trend, the UPDATED seasonal for its slot, and the
    one-step-ahead forecast level + trend + s_next (the seasonal that
    will apply to the next point = the one updated 6 observations
    earlier, read back with lag(seasonal, 6)).

    Init convention (documented, identical both engines): the first 7
    observed points seed l = floor(mean of v_1..7), b = 0,
    s_i = v_i - l; rows 1..6 emit that init state, smoothing starts at
    t = 7; a series with fewer than 8 observed days emits NOTHING
    (seasonal init undefined - the totality rule). Seasonal slots
    cycle by OBSERVED position (t mod 7), not calendar weekday, so
    gaps shift phase - the standard gapless-series assumption, stated.

    Cross-engine exactness: the q_ts_holt_linear discipline - state in
    exact bigint cents, every half-step floor(x / 2.0) on an
    integer-valued DOUBLE (lossless binary halving inside 2^53), the
    one mean floor(sum / 7.0). Spark folds each series' date-sorted
    array with aggregate() (JVM lambdas, no Python, no driver loop);
    DuckDB runs the SAME recurrence as a recursive CTE carrying the
    7 seasonal slots as columns; both expression strings are GENERATED
    from one Python template above, so they cannot drift.

    Scale: identical to q_ts_holt_linear - one map-combined groupBy to
    |series| x |days| cells, then a per-series fold over <= 181
    structs; sequential per key, parallel across keys."""
    series = (
        _priority_days(spark, sf_dir)
        .filter(F.size("pts") >= 8)
        .withColumn(
            "l7",
            F.expr(
                "CAST(floor(aggregate(slice(pts, 1, 7), 0L,"
                " (a, x) -> a + x.v) / 7.0) AS BIGINT)"
            ),
        )
    )
    folded = series.select(
        "priority", F.expr(_hw_spark_fold()).alias("rows")
    )
    w = Window.partitionBy("priority").orderBy("t")
    return (
        folded.select("priority", F.explode("rows").alias("r"))
        .select(
            "priority",
            F.col("r.t").alias("t"),
            F.col("r.day").alias("day"),
            F.col("r.v").alias("v"),
            F.col("r.level").alias("level"),
            F.col("r.trend").alias("trend"),
            F.col("r.seasonal").alias("seasonal"),
        )
        .withColumn(
            "forecast_next",
            (F.col("level") + F.col("trend") + F.lag("seasonal", 6).over(w))
            .cast("bigint"),
        )
        .orderBy("priority", "t")
    )
