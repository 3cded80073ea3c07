"""Robust / regression statistics beyond the stock aggregate set:
weighted median and exact-moment linear regression.

Both are written in exact integer arithmetic so the two engines reach
bit-identical answers (no float accumulation order): money in cents or
whole dollars, weights as bigints, regression reported as integer
numerator/denominator moments instead of a lossy quotient.

Charter-derived capability — the reference
(`/root/reference/fact-hive/h-run.sh:1-106`) has no statistics surface
(SURVEY.md §0).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import (
    _US_PER_DAY,
    DAILY_CENTS_SQL,
    EVENT_CENTS_SQL,
    daily_cents,
    event_cents,
    load_table,
)


# chi-square 0.05 critical values (e6-scaled) for df 1..10 — the same
# large-N convention as q_stat_ttest_welch's 3.841459 single-df pin:
# df1·F is compared against chi2(df1), exact for df2 → infinity.
_CHI2_CRIT_E6 = (
    3841459, 5991465, 7814728, 9487729, 11070498,
    12591587, 14067140, 15507313, 16918978, 18307038,
)
_CHI2_CASE = " ".join(
    f"WHEN {df} THEN {c}" for df, c in enumerate(_CHI2_CRIT_E6, start=1)
)


@register(
    "q_agg_weighted_median",
    oracle="""
    WITH p AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS px,
               CAST(round(l_quantity) AS BIGINT) AS q
        FROM lineitem
    ),
    g AS (
        SELECT flag, px, CAST(SUM(q) AS BIGINT) AS w
        FROM p GROUP BY flag, px
    ),
    c AS (
        SELECT flag, px, w,
               CAST(SUM(w) OVER (
                   PARTITION BY flag ORDER BY px) AS BIGINT) AS cum,
               CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
        FROM g
    )
    SELECT flag, MIN(px) AS wmedian_cents
    FROM c WHERE 2 * cum >= tot
    GROUP BY flag
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest price whose cumulative weight
    (quantity) reaches half the group's total — the inventory-weighted
    "typical price" that an unweighted percentile misstates.

    No built-in computes this; the composition is (1) pre-aggregate to
    one row per (group, value) — this is the scale lever: the window
    then runs over distinct values, not raw rows — (2) running + total
    weight via two frames over one window shuffle, (3) first crossing
    of half-mass. All bigint (cents / unit weights), so the crossing
    index is exact in both engines.

    At 100 TB: the groupBy shrinks the fact table to |group|×|distinct
    px| rows before any window sort; the window partitions by the group
    key, so no global sort and no skew beyond a group's own value
    cardinality.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("px"),
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
    )
    g = p.groupBy("flag", "px").agg(F.sum("q").cast("bigint").alias("w"))
    w_run = (
        Window.partitionBy("flag")
        .orderBy("px")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "px",
        F.sum("w").over(w_run).cast("bigint").alias("cum"),
        F.sum("w").over(w_all).cast("bigint").alias("tot"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("flag")
        .agg(F.min("px").alias("wmedian_cents"))
    )


@register(
    "q_agg_linreg",
    oracle="""
    WITH p AS (
        SELECT l_returnflag AS flag, l_linestatus AS status,
               CAST(l_linenumber AS BIGINT) AS lineno,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT flag, status, lineno,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM p GROUP BY flag, status, lineno
    )
    SELECT flag, status, lineno, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(sy * sxx - sx * sxy AS BIGINT) AS icept_num
    FROM m
    """,
)
def q_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares regression of price-in-dollars on quantity per
    (returnflag, linestatus, linenumber) — the regr_slope/regr_intercept
    family, but
    reported as EXACT integer moments: slope = slope_num/slope_den,
    intercept = icept_num/slope_den. Emitting the numerator and
    denominator instead of the quotient keeps the result bit-identical
    across engines (a float slope would diverge in the last ulp by
    summation order) and lets the caller choose precision.

    Overflow budget (int64 max ≈ 9.2e18): y ≤ 1e5 dollars, x ≤ 1e2,
    per-group n ≤ ~2e5 at sf1.0 (42 groups) ⇒ sxy ≤ 2e12,
    n·sxy ≤ 4e17 — >20× headroom; whole-dollar y (not cents) is what
    buys the two extra decades. Beyond ~sf10, switch the moment
    columns to DECIMAL(38,0).

    Scale: one partial-aggregated groupBy — the moments are plain sums,
    so this is exactly as cheap as q_agg_flagship at any size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
        F.col("l_linenumber").cast("bigint").alias("lineno"),
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("y"),
    )
    m = p.groupBy("flag", "status", "lineno").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return m.select(
        "flag",
        "status",
        "lineno",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
        .cast("bigint")
        .alias("icept_num"),
    )


def _contingency(
    spark: SparkSession, sf_dir: str, keys: tuple[str, ...], x: str, y: str
) -> DataFrame:
    """(x, y, obs, r, c, n): the two-way contingency table of the SQL
    expressions `x` and `y` over the events with every `keys` column
    set, with each cell's row, column and grand totals. One
    map-combined groupBy collapses the corpus to the cells; the total
    windows run on the cell table. _contingency_sql is the DuckDB
    mirror."""
    obs = (
        load_table(spark, sf_dir, "events")
        .filter(" AND ".join(f"{k} IS NOT NULL" for k in keys))
        .select(F.expr(x).alias("x"), F.expr(y).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    return obs.select(
        "x",
        "y",
        "obs",
        F.sum("obs").over(Window.partitionBy("x")).cast("bigint").alias("r"),
        F.sum("obs").over(Window.partitionBy("y")).cast("bigint").alias("c"),
        F.sum("obs").over(Window.partitionBy()).cast("bigint").alias("n"),
    )


def _contingency_sql(keys: tuple[str, ...], x: str, y: str) -> str:
    """DuckDB CTEs `e`, `obs` (x, y, obs) and `tot` (with r, c, n):
    _contingency's relation."""
    where = " AND ".join(f"{k} IS NOT NULL" for k in keys)
    return f"""e AS (
        SELECT {x} AS x,
               {y} AS y
        FROM events WHERE {where}
    ),
    obs AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS obs
        FROM e GROUP BY x, y
    ),
    tot AS (
        SELECT x, y, obs,
               CAST(SUM(obs) OVER (PARTITION BY x) AS BIGINT) AS r,
               CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) AS c,
               CAST(SUM(obs) OVER () AS BIGINT) AS n
        FROM obs
    )"""


# (user_id parity × event_type): the A/B contingency table of
# q_stat_chisq and q_stat_gtest
_AB_CELLS = (("user_id", "event_type"), "user_id % 2", "event_type")


@register(
    "q_stat_chisq",
    oracle=f"""
    WITH {_contingency_sql(*_AB_CELLS)},
    cells AS (
        SELECT x AS variant, y AS outcome, obs,
               CAST(floor(
                   (obs - CAST(r AS DOUBLE) * c / n)
                   * (obs - CAST(r AS DOUBLE) * c / n)
                   / (CAST(r AS DOUBLE) * c / n)
                   * 1000000 + 0.5) AS BIGINT) AS term_ppm
        FROM tot
    )
    SELECT variant, outcome, obs, term_ppm,
           CAST(SUM(term_ppm) OVER () AS BIGINT) AS chisq_ppm
    FROM cells
    """,
)
def q_stat_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the (user_id-parity variant ×
    event_type) contingency table — the A/B-test significance primitive
    an experimentation platform runs over its event log. Emits every
    cell with its observed count and per-cell chi-square contribution,
    plus the table-wide statistic, all in parts-per-million bigints.

    Cross-engine determinism: counts and marginals are exact bigints;
    each cell's (obs−exp)²/exp is evaluated in DOUBLE with the SAME
    expression shape on both engines (exp = CAST(r AS DOUBLE)·c/n, the
    square as an explicit self-product, never pow()), so every IEEE
    intermediate is bit-identical; floor(x·1e6 + 0.5) then lands each
    term in an exact bigint BEFORE any cross-row summation, making the
    chi-square total an integer sum immune to addition order. NULL
    user/type rows (the round-3+ fixture-drift class) are quarantined
    identically on both engines.

    Scale: one map-side-combined groupBy over the event log shrinks
    100 TB to |variants|×|outcomes| rows; the three marginal windows
    then run over that tiny cell table (cells, not events), so cost is
    the count shuffle and nothing else."""
    tot = _contingency(spark, sf_dir, *_AB_CELLS)
    term = F.expr(
        "cast(floor("
        " (obs - cast(r as double) * c / n)"
        " * (obs - cast(r as double) * c / n)"
        " / (cast(r as double) * c / n)"
        " * 1000000 + 0.5) as bigint)"
    )
    cells = tot.select(
        F.col("x").alias("variant"),
        F.col("y").alias("outcome"),
        "obs",
        term.alias("term_ppm"),
    )
    return cells.select(
        "variant",
        "outcome",
        "obs",
        "term_ppm",
        F.sum("term_ppm").over(Window.partitionBy()).cast("bigint").alias("chisq_ppm"),
    )


@register(
    "q_llm_diversity",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ),
    c AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST((COUNT(*) * 1000000) // SUM(cnt) AS BIGINT) AS ttr_ppm,
           CAST(1000000 - (SUM(cnt * cnt) * 1000000)
                // (SUM(cnt) * SUM(cnt)) AS BIGINT) AS simpson_ppm
    FROM c GROUP BY source
    """,
)
def q_llm_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per corpus source: token count, type
    count, type-token ratio, and Gini–Simpson diversity (1 − Σp²) —
    the corpus-health metrics that flag boilerplate-heavy or
    template-generated sources before they skew a training mix.

    Gini–Simpson instead of Shannon entropy BY DESIGN: 1 − Σ(cnt/tot)²
    is a pure rational in the integer counts, so ppm-scaled integer
    division (both engines truncate non-negative DIV identically)
    reaches bit-identical answers with no transcendental (ln) whose
    last-ulp behavior is libm-dependent. Overflow budget: Σcnt²·1e6
    needs cnt ≤ ~3e6 per (source, token) for int64 — ~100× headroom at
    sf1.0 (≤2.5e5 tokens/source); beyond that, cast the Σcnt² moment
    to DECIMAL(38,0).

    Scale: explode → one (source, token) groupBy with map-side partial
    counts, then a per-source re-aggregation over distinct types only.
    Skew lever is hot sources, the same axis q_llm_heavy_hitters
    measures; NULL text/source rows are quarantined on both engines."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    c = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr("(count(1) * 1000000) DIV sum(cnt)")
        .cast("bigint")
        .alias("ttr_ppm"),
        F.expr(
            "1000000 - (sum(cnt * cnt) * 1000000) DIV (sum(cnt) * sum(cnt))"
        )
        .cast("bigint")
        .alias("simpson_ppm"),
    )


@register(
    "q_agg_corr_exact",
    oracle="""
    WITH p AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    m AS (
        SELECT flag, COUNT(*) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x * y) AS HUGEINT) AS sxy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx,
               CAST(SUM(y * y) AS HUGEINT) AS syy
        FROM p GROUP BY flag
    ),
    r AS (
        SELECT flag, n,
               abs(n * sxy - sx * sy) // 1000000 AS red,
               (n * sxx - sx * sx) // 1000 AS vxr,
               (n * syy - sy * sy) // 1000000 AS vyr,
               CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END AS sgn
        FROM m
    )
    SELECT flag, n,
           CAST(CASE WHEN vxr > 0 AND vyr > 0
                THEN (red * red * 1000000000) // (vxr * vyr)
                ELSE NULL END AS BIGINT) AS r2_ppm,
           CAST(sgn AS BIGINT) AS r_sign
    FROM r
    ORDER BY flag
    """,
)
def q_agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation strength per return flag as integer ppm of
    r² plus the sign of r — quantity-vs-price association without
    evaluating a square root or trusting float accumulation order
    (`corr()` builtins disagree across engines in the last ulps;
    r² = cov²/(var_x·var_y) is a ratio of integer moments).

    Overflow discipline: the five sufficient statistics accumulate in
    DECIMAL(38,0) (HUGEINT on the oracle), then covariance and
    variances are scaled down by FIXED integer divisors (1e6/1e3/1e6)
    before squaring, so the worst term stays ~1e35 < 38 digits at
    sf1.0 — both engines evaluate the identical integer expression,
    so parity is exact even though the last ~1e-6 of relative
    precision is deliberately shaved. Degenerate (zero-variance)
    groups emit NULL rather than dividing by zero — the fixture-drift
    posture. Plan: ONE map-side-combined aggregation per group (the
    q_agg_linreg/q_agg_moments shape); at 100 TB one narrow shuffle
    of five integers per group."""
    p = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round("l_quantity").cast("bigint").alias("x"),
            F.round("l_extendedprice").cast("bigint").alias("y"),
        )
    )
    d38 = "decimal(38,0)"
    m = p.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
    )
    r = m.select(
        "flag",
        "n",
        # _dfloor, not DIV: these quotients are co-moment-sized (not
        # ratio-bounded) and would pass 2^63 around 1e10 rows — the
        # round-10 levene lesson applied preventively.
        F.expr(
            _dfloor(f"abs(CAST(n AS {d38}) * sxy - sx * sy)", "1000000")
        ).alias("red"),
        F.expr(
            _dfloor(f"CAST(n AS {d38}) * sxx - sx * sx", "1000")
        ).alias("vxr"),
        F.expr(
            _dfloor(f"CAST(n AS {d38}) * syy - sy * sy", "1000000")
        ).alias("vyr"),
        F.expr(
            f"CASE WHEN CAST(n AS {d38}) * sxy - sx * sy >= 0"
            " THEN 1 ELSE -1 END"
        ).alias("sgn"),
    )
    return r.select(
        "flag",
        "n",
        F.expr(
            f"CASE WHEN vxr > 0 AND vyr > 0 THEN "
            f"(CAST(red AS {d38}) * CAST(red AS {d38}) * 1000000000)"
            f" DIV (CAST(vxr AS {d38}) * CAST(vyr AS {d38}))"
            " ELSE NULL END"
        )
        .cast("bigint")
        .alias("r2_ppm"),
        F.col("sgn").cast("bigint").alias("r_sign"),
    ).orderBy("flag")


def _customer_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, rev_cents): each customer's order revenue in exact
    cents — the one fact-sized shuffle of the spend-inequality
    queries, map-side combined down to |customers| rows.
    _CUSTOMER_CENTS_CTE is the DuckDB mirror."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )


# DuckDB CTE `rev(o_custkey, rev_cents)`: the SQL twin of _customer_cents.
_CUSTOMER_CENTS_CTE = """rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY o_custkey
    )"""


@register(
    "q_pareto_deciles",
    oracle=f"""
    WITH {_CUSTOMER_CENTS_CTE},
    rk AS (
        SELECT rev_cents,
               ntile(10) OVER (ORDER BY rev_cents DESC, o_custkey)
                   AS decile
        FROM rev
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           CAST(SUM(rev_cents) AS BIGINT) AS decile_cents,
           CAST(1000000 * SUM(rev_cents)
                // (SELECT SUM(rev_cents) FROM rev) AS BIGINT)
               AS share_ppm
    FROM rk
    GROUP BY decile
    ORDER BY decile
    """,
)
def q_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) report: customers bucketed into
    spend deciles, each decile's share of total revenue in exact ppm —
    the 80/20 curve behind account-tiering and whale-risk review.

    Plan: the per-customer rollup is the wide shuffle (facts →
    |customers| rows, map-side combined); the ntile() then runs over
    CUSTOMER AGGREGATES, not fact rows — its single-partition window
    is the documented cost, bounded by |customers| and explicitly NOT
    the fact table (at 100 TB with billions of customers the swap-in
    is range-partitioned rank via approx quantile cut points, same
    downstream algebra). ntile's floor-division distribution is
    identical on both engines given the total (rev DESC, custkey)
    tiebreak; money stays exact cents, shares exact ppm."""
    rev = _customer_cents(spark, sf_dir)
    rk = rev.select(
        "rev_cents",
        F.ntile(10)
        .over(Window.orderBy(F.desc("rev_cents"), F.asc("o_custkey")))
        .alias("decile"),
    )
    tot = rev.agg(F.sum("rev_cents").alias("tot_cents"))
    return (
        rk.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_cents").cast("bigint").alias("decile_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "share_ppm",
            F.expr("CAST(1000000 * decile_cents AS BIGINT) DIV tot_cents").cast(
                "bigint"
            ),
        )
        .drop("tot_cents")
        .orderBy("decile")
    )


@register(
    "q_agg_gini",
    oracle=f"""
    WITH {_CUSTOMER_CENTS_CTE},
    rk AS (
        SELECT rev_cents AS x,
               row_number() OVER (ORDER BY rev_cents, o_custkey) AS i
        FROM rev
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS HUGEINT) AS s,
               CAST(SUM(i * x) AS HUGEINT) AS s1
        FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s AS BIGINT) AS total_cents,
           CAST((1000000 * (2 * s1 - (n + 1) * s)) // (n * s) AS BIGINT)
               AS gini_ppm
    FROM agg
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend in exact integer ppm — the
    inequality summary behind q_pareto_deciles' decile curve
    (G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted spend).

    The rank is the only ordered step; like q_pareto_deciles it runs
    over CUSTOMER AGGREGATES (the wide fact shuffle happens first,
    map-side combined), with the same documented range-partitioned
    swap-in past broadcastable customer counts. The ×1e6 numerator
    sits in HUGEINT/DECIMAL(38) so a trillion-cent corpus cannot
    overflow, and both engines evaluate the identical integer
    expression — G arrives exact, no float division anywhere."""
    rk = _customer_cents(spark, sf_dir).select(
        "rev_cents",
        F.row_number()
        .over(Window.orderBy(F.asc("rev_cents"), F.asc("o_custkey")))
        .alias("i"),
    )
    d38 = "decimal(38,0)"
    agg = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev_cents").cast(d38)).alias("s"),
        F.sum((F.col("i") * F.col("rev_cents")).cast(d38)).alias("s1"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("s").cast("bigint").alias("total_cents"),
        F.expr(
            f"(CAST(1000000 AS {d38}) * (2 * s1 - (CAST(n AS {d38}) + 1) * s))"
            f" DIV (CAST(n AS {d38}) * s)"
        )
        .cast("bigint")
        .alias("gini_ppm"),
    )


@register(
    "q_orders_rfm",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey,
               MAX(epoch_us(o_orderdate)) // {_US_PER_DAY} AS last_day,
               COUNT(*) AS freq,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT ntile(5) OVER (ORDER BY last_day DESC, o_custkey) AS r,
               ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
               ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
        FROM base
    )
    SELECT r, f, m, COUNT(*) AS n_customers
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers scored 1–5 on Recency (days since
    last order), Frequency (order count), and Monetary (lifetime
    cents), reported as segment-cell sizes — the marketing-analytics
    workhorse for churn/campaign targeting.

    Plan: ONE per-customer rollup off the fact table (the only wide
    shuffle), then three ntile() windows over the customer aggregates
    — quintile assignment is floor-division identical on both engines
    given the total (metric, custkey) tiebreaks, and recency scores
    straight off the integer epoch-day, so no reference "today" is
    needed. Same |customers|-bounded single-partition caveat and
    approx-quantile swap-in as q_pareto_deciles (documented there);
    the final cell count is ≤125 rows."""
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_custkey").isNotNull()
            & F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "MAX(unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
                f" DIV {_US_PER_DAY}"
            ).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    scored = base.select(
        F.ntile(5)
        .over(Window.orderBy(F.desc("last_day"), F.asc("o_custkey")))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("freq"), F.asc("o_custkey")))
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r", "f", "m")
    )


@register(
    "q_stat_ttest_welch",
    oracle="""
    WITH p AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(x * x) AS HUGEINT) AS sxx
        FROM p GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n AS na, b.n AS nb,
               a.sx AS sxa, b.sx AS sxb,
               a.sxx AS sxxa, b.sxx AS sxxb
        FROM m a JOIN m b ON a.event_type < b.event_type
        WHERE a.n >= 2 AND b.n >= 2
    ),
    r AS (
        SELECT type_a, type_b, na, nb, sxa, sxb,
               ((sxa * nb - sxb * na) * (sxa * nb - sxb * na))
                   // 1000000000000 AS red2,
               (nb * nb * (na * sxxa - sxa * sxa) * (nb - 1)
                + na * na * (nb * sxxb - sxb * sxb) * (na - 1))
                   // 100000000000000000 AS dred,
               CASE WHEN sxa * nb - sxb * na >= 0 THEN 1 ELSE -1 END AS sgn
        FROM pairs
    )
    SELECT type_a, type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST((sxa * 10) // na AS BIGINT) AS mean_a_milli,
           CAST((sxb * 10) // nb AS BIGINT) AS mean_b_milli,
           CAST(CASE WHEN dred > 0
                THEN (red2 * (na - 1) * (nb - 1) * 10) // dred
                ELSE NULL END AS BIGINT) AS t2_ppm,
           CAST(sgn AS BIGINT) AS t_sign,
           CAST(CASE WHEN dred > 0
                     AND (red2 * (na - 1) * (nb - 1) * 10) // dred
                         > 3841459
                THEN 1 ELSE 0 END AS BIGINT) AS signif_5pct
    FROM r
    ORDER BY type_a, type_b
    """,
)
def q_stat_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test over every event-type pair — the A/B
    significance staple ("does `click` carry a different mean value
    than `view`?") — emitted as t² in integer ppm plus the sign of
    (mean_a − mean_b), the q_agg_corr_exact discipline: no sqrt, no
    float accumulation, bit-identical across engines.

    Rational form (x in exact cents):
        t² = (sxa·nb − sxb·na)²·(na−1)(nb−1)
             / [nb²(na·sxxa − sxa²)(nb−1) + na²(nb·sxxb − sxb²)(na−1)]
    Overflow budget (worst bound: n≤2e5/type, x≤6e4 cents): the
    squared difference (≤5e30) and the denominator (≤1.4e35) both fit
    DECIMAL(38,0)/HUGEINT, but neither survives the final product
    un-scaled, so the SQUARE is truncated DIV 1e12 and the denominator
    DIV 1e17 — truncating after squaring keeps relative error ≤1e-4 at
    sf0.01 (truncating the difference before squaring, the first cut,
    lost 1.5%). Divisors are sized so every DIV RESULT also fits
    int64, because Spark's integral division on DECIMAL returns BIGINT
    and silently wraps past 9.2e18 (verified on 4.1: 1e28 DIV 1e3 →
    negative long). Identical fixed divisors on both engines, so the
    shaved precision cancels in the comparison; they are the knob to
    re-size for ≥1e7 rows per group. The 5%-level
    flag uses the z² critical value 1.959964²·1e6 = 3841459 (valid for
    the n ≥ 1000 groups here; Welch df ≫ 100 makes the normal
    approximation exact to 4 decimals — df itself stays internal, the
    same reason corr_exact emits r²·sign, not r).

    Plan: ONE map-side-combined aggregation (3 integer moments per
    event_type) then an O(types²) self-join on the tiny moment table —
    at 100 TB the only exchange is 5 rows of 3 integers; the pairwise
    test matrix is driver-free and broadcast-sized."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    d38 = "decimal(38,0)"
    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("sx").alias("sxa"),
        F.col("sxx").alias("sxxa"),
    ).filter(F.col("na") >= 2)
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("sx").alias("sxb"),
        F.col("sxx").alias("sxxb"),
    ).filter(F.col("nb") >= 2)
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    r = pairs.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        "sxa",
        "sxb",
        F.expr(
            "((sxa * nb - sxb * na) * (sxa * nb - sxb * na))"
            " DIV 1000000000000"
        ).alias("red2"),
        F.expr(
            "(nb * nb * (na * sxxa - sxa * sxa) * (nb - 1)"
            " + na * na * (nb * sxxb - sxb * sxb) * (na - 1))"
            " DIV 100000000000000000"
        ).alias("dred"),
        F.expr(
            "CASE WHEN sxa * nb - sxb * na >= 0 THEN 1 ELSE -1 END"
        ).alias("sgn"),
    )
    t2 = F.expr(
        "CASE WHEN dred > 0 THEN"
        " (red2 * (na - 1) * (nb - 1) * 10) DIV dred"
        " ELSE NULL END"
    )
    return r.select(
        "type_a",
        "type_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr("(sxa * 10) DIV na").cast("bigint").alias("mean_a_milli"),
        F.expr("(sxb * 10) DIV nb").cast("bigint").alias("mean_b_milli"),
        t2.cast("bigint").alias("t2_ppm"),
        F.col("sgn").cast("bigint").alias("t_sign"),
        F.when(t2.isNotNull() & (t2 > 3841459), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("signif_5pct"),
    ).orderBy("type_a", "type_b")


@register(
    "q_stat_kruskal",
    oracle=f"""
    WITH p AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    vx AS (SELECT x, COUNT(*) AS t FROM p GROUP BY x),
    vr AS (
        SELECT x, t,
               2 * (SUM(t) OVER (ORDER BY x
                    ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS dr
        FROM vx
    ),
    gx AS (SELECT event_type, x, COUNT(*) AS c FROM p GROUP BY event_type, x),
    gr AS (
        SELECT gx.event_type,
               CAST(SUM(gx.c) AS HUGEINT) AS ng,
               CAST(SUM(gx.c * vr.dr) AS HUGEINT) AS drg
        FROM gx JOIN vr ON gx.x = vr.x
        GROUP BY gx.event_type
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS n,
               COUNT(*) AS k,
               CAST(SUM((drg * drg) // ng) AS HUGEINT) AS a
        FROM gr
    ),
    ties AS (
        SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tt,
               COUNT(*) AS n_vals
        FROM vx
    ),
    h AS (
        SELECT n, k, tt, n_vals,
               greatest(CAST((3000000 * a) // (n * (n + 1))
                        - 3000000 * (n + 1) AS BIGINT), 0) AS h_e6
        FROM tot, ties
    )
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(k AS BIGINT) AS n_groups,
           CAST(n_vals AS BIGINT) AS n_distinct_vals,
           CAST(tt AS BIGINT) AS tie_t,
           h_e6,
           CAST(CASE WHEN n * n * n - n - tt > 0
                THEN (CAST(h_e6 AS HUGEINT) * (n * n * n - n))
                     // (n * n * n - n - tt)
                ELSE NULL END AS BIGINT) AS h_corr_e6,
           CAST(CASE WHEN n * n * n - n - tt > 0
                     AND (CAST(h_e6 AS HUGEINT) * (n * n * n - n))
                         // (n * n * n - n - tt)
                         > CASE k - 1 {_CHI2_CASE} ELSE NULL END
                THEN 1 ELSE 0 END AS BIGINT) AS signif_5pct
    FROM h
    """,
)
def q_stat_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H over the K event-type groups — the
    nonparametric k-group location test that partners the pairwise
    Welch t² (q_stat_ttest_welch): does ANY event type's value
    distribution sit apart, without assuming normality? Emitted as
    exact-integer H·1e6 with the standard tie correction and a 5%
    χ²(df = K−1) flag (critical table for df ≤ 10, NULL past it —
    the same table-constant discipline as ttest's 3841459).

    Exact-integer rank arithmetic: ranks live DOUBLED (average rank
    of a tie run of t at cumulative offset cb is cb + (t+1)/2 —
    doubled: 2·cb + t + 1 — an integer always), group rank-sums DRg
    are exact int64, and H = 3·Σ(DRg²/ng)/(N(N+1)) − 3(N+1) runs in
    DECIMAL(38,0)/HUGEINT with per-group floor division. Overflow
    budget (the ttest discipline): DRg² ≤ ng²(2N+1)² needs DECIMAL38;
    the per-group DIV result DRg² // ng ≤ ng(2N+1)² must fit int64 —
    valid to N ≈ 1.5e6 rows; past that, pre-divide DRg by 10 (the
    knob, shaving <1e-2 relative) before squaring.

    Plan: ONE map-combined count per (event_type, x) and per x; the
    rank window runs over the DISTINCT-VALUE distribution (|V| rows —
    bounded by the cents-rounded value domain, NOT by N; at an
    unbounded domain you'd bucket first), then two tiny aggregates
    and a broadcast attach. At 100 TB the corpus contributes two
    count shuffles; no raw row ever reaches the window."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    vx = p.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
    vr = vx.select(
        "x",
        "t",
        (
            2
            * (
                F.sum("t").over(
                    Window.orderBy("x").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("t")
            )
            + F.col("t")
            + 1
        ).alias("dr"),
    )
    gx = p.groupBy("event_type", "x").agg(F.count(F.lit(1)).alias("c"))
    d38 = "decimal(38,0)"
    gr = (
        gx.join(vr, "x")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast(d38).alias("ng"),
            F.sum(F.col("c") * F.col("dr")).cast(d38).alias("drg"),
        )
    )
    tot = gr.agg(
        F.sum("ng").cast(d38).alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.expr("(drg * drg) DIV ng").cast(d38)).cast(d38).alias("a"),
    )
    ties = vx.agg(
        F.sum(
            F.col("t").cast(d38) * F.col("t") * F.col("t") - F.col("t")
        )
        .cast(d38)
        .alias("tt"),
        F.count(F.lit(1)).alias("n_vals"),
    )
    h = tot.crossJoin(F.broadcast(ties)).select(
        "n",
        "k",
        "tt",
        "n_vals",
        F.expr(
            "greatest(CAST((3000000 * a) DIV (n * (n + 1))"
            " - 3000000 * (n + 1) AS BIGINT), 0)"
        ).alias("h_e6"),
    )
    crit = f"CASE k - 1 {_CHI2_CASE} ELSE NULL END"
    hc = (
        "(CAST(h_e6 AS decimal(38,0)) * (n * n * n - n))"
        " DIV (n * n * n - n - tt)"
    )
    return h.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n_vals").cast("bigint").alias("n_distinct_vals"),
        F.col("tt").cast("bigint").alias("tie_t"),
        "h_e6",
        F.expr(
            f"CAST(CASE WHEN n * n * n - n - tt > 0 THEN {hc}"
            " ELSE NULL END AS BIGINT)"
        ).alias("h_corr_e6"),
        F.expr(
            f"CAST(CASE WHEN n * n * n - n - tt > 0 AND {hc} > {crit}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("signif_5pct"),
    )


def _type_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ty, x): every event with `value` set, ty its event type and x
    its value in whole cents."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("ty"),
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )


def _cents_grid(p: DataFrame) -> DataFrame:
    """(ty, x, c): the densified count grid of _type_cents `p`, one
    row per (type, distinct cents value) pair, c = 0 where the type
    never takes the value. One map-combined count per (ty, x), then a
    |V|·k cross join with the broadcast type list: every relation
    after the count is bounded by the cents domain |V|, not by the row
    count. _CENTS_GRID_CTES is the DuckDB mirror."""
    cnt = p.groupBy("ty", "x").agg(F.count(F.lit(1)).alias("c"))
    vx = p.select("x").distinct()
    tys = p.select("ty").distinct()
    return (
        vx.crossJoin(F.broadcast(tys))
        .join(cnt, ["ty", "x"], "left")
        .select("ty", "x", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )


# DuckDB CTEs `p(ty, x)` and `grid(ty, x, c)`: the SQL twin of
# _type_cents and _cents_grid.
_CENTS_GRID_CTES = """p AS (
        SELECT event_type AS ty, CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    cnt AS (SELECT ty, x, COUNT(*) AS c FROM p GROUP BY ty, x),
    vx AS (SELECT DISTINCT x FROM p),
    tys AS (SELECT DISTINCT ty FROM p),
    grid AS (
        SELECT t.ty, v.x, COALESCE(c.c, 0) AS c
        FROM tys t CROSS JOIN vx v
        LEFT JOIN cnt c ON c.ty = t.ty AND c.x = v.x
    )"""


@register(
    "q_stat_mannwhitney",
    oracle=f"""
    WITH {_CENTS_GRID_CTES},
    g AS (
        SELECT ty, x, c,
               COALESCE(SUM(c) OVER (
                   PARTITION BY ty ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cume
        FROM grid
    ),
    pr AS (
        SELECT a.ty AS type_a, b.ty AS type_b,
               CAST(SUM(a.c) AS HUGEINT) AS na,
               CAST(SUM(b.c) AS HUGEINT) AS nb,
               CAST(SUM(CAST(a.c AS HUGEINT)
                        * (2 * b.cume + b.c)) AS HUGEINT) AS u2a,
               CAST(SUM(CAST(a.c + b.c AS HUGEINT) * (a.c + b.c)
                        * (a.c + b.c) - (a.c + b.c)) AS HUGEINT) AS tt
        FROM g a JOIN g b ON a.x = b.x AND a.ty < b.ty
        GROUP BY a.ty, b.ty
    ),
    z AS (
        SELECT type_a, type_b, na, nb, u2a, tt,
               na + nb AS n,
               (3000000 * (u2a - na * nb) * (u2a - na * nb))
                   // (na * nb) AS t1,
               (na + nb) * (na + nb - 1) * (na + nb + 1) - tt AS bden
        FROM pr
    )
    SELECT type_a, type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(u2a AS BIGINT) AS u2_a, CAST(tt AS BIGINT) AS tie_t,
           CAST(CASE WHEN bden > 0
                THEN (t1 * n * (n - 1)) // bden
                ELSE NULL END AS BIGINT) AS z2_e6,
           CAST(CASE WHEN bden > 0
                     AND (t1 * n * (n - 1)) // bden > 3841459
                THEN 1 ELSE 0 END AS BIGINT) AS signif_5pct
    FROM z
    ORDER BY type_a, type_b
    """,
)
def q_stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U over every event-type pair — the rank-based
    two-sample partner to q_stat_ttest_welch (location shift without
    normality) and the pairwise drill-down of q_stat_kruskal's k-group
    H: WHICH pair differs, not just whether any does. Emitted as the
    exact doubled U statistic plus tie-corrected z² in integer e6 and
    the 5% normal flag (z² > 1.959964²·1e6 = 3841459, the ttest
    constant — valid for the n ≥ 1000 groups here).

    Exact rank arithmetic without ranking any row: over the per-
    (type, value) count grid (the kruskal trick), the doubled U is
        2·U_a = Σ_x c_a(x)·(2·C_b(<x) + c_b(x))
    — each a-observation beats everything of b strictly below it and
    half-ties the b's at its own value; doubling makes the half-tie an
    integer always. The grid densifies (type × distinct-value cross
    join) so one per-type running sum serves every pair; pooled tie
    term T = Σ(t³−t) falls out of the same join. z² is computed in two
    sequential floor divisions (t1 = 3e6·(2U−na·nb)² DIV na·nb, then
    ·n(n−1) DIV (n(n−1)(n+1)−T)) so no intermediate exceeds
    DECIMAL(38,0)/HUGEINT — exact to ±1e-6 in z², identically floored
    on both engines. Overflow budget: 3e6·(na·nb)² ≤ 1e38 needs
    na·nb ≤ 1.8e15, and t1 ≤ 3e6·na·nb must fit the BIGINT that
    Spark's DECIMAL DIV returns — na·nb ≤ 3e12 is the binding knob
    (pre-divide 2U−na·nb by 1e3 past ~1.7e6 rows/group).

    Plan: ONE map-combined count per (type, x) plus a distinct-value
    relation bounded by the cents domain |V|, a |V|·k densified grid
    with a per-type running-sum window (partition key = type, k ways
    parallel), then the k²/2 pair join keyed on x — every relation
    after the first count is O(|V|·k²), independent of row count N.
    At 100 TB the corpus contributes exactly one count shuffle; no
    raw row ever reaches a window or a join."""
    g = _cents_grid(_type_cents(spark, sf_dir)).select(
        "ty",
        "x",
        "c",
        F.coalesce(
            F.sum("c").over(
                Window.partitionBy("ty")
                .orderBy("x")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cume"),
    )
    d38 = "decimal(38,0)"
    a = g.select(
        F.col("ty").alias("type_a"),
        F.col("x").alias("xa"),
        F.col("c").alias("ca"),
    )
    b = g.select(
        F.col("ty").alias("type_b"),
        F.col("x").alias("xb"),
        F.col("c").alias("cb"),
        F.col("cume").alias("cbe"),
    )
    pr = (
        a.join(
            b,
            (F.col("xa") == F.col("xb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum("ca").cast(d38).alias("na"),
            F.sum("cb").cast(d38).alias("nb"),
            F.sum(
                F.col("ca").cast(d38) * (2 * F.col("cbe") + F.col("cb"))
            )
            .cast(d38)
            .alias("u2a"),
            F.sum(
                (F.col("ca") + F.col("cb")).cast(d38)
                * (F.col("ca") + F.col("cb"))
                * (F.col("ca") + F.col("cb"))
                - (F.col("ca") + F.col("cb"))
            )
            .cast(d38)
            .alias("tt"),
        )
    )
    z = pr.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        "u2a",
        "tt",
        (F.col("na") + F.col("nb")).alias("n"),
        F.expr(
            "(3000000 * (u2a - na * nb) * (u2a - na * nb)) DIV (na * nb)"
        )
        .cast(d38)
        .alias("t1"),
        F.expr(
            "(na + nb) * (na + nb - 1) * (na + nb + 1) - tt"
        ).alias("bden"),
    )
    zexpr = "(t1 * n * (n - 1)) DIV bden"
    return z.select(
        "type_a",
        "type_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("u2a").cast("bigint").alias("u2_a"),
        F.col("tt").cast("bigint").alias("tie_t"),
        F.expr(
            f"CAST(CASE WHEN bden > 0 THEN {zexpr}"
            " ELSE NULL END AS BIGINT)"
        ).alias("z2_e6"),
        F.expr(
            f"CAST(CASE WHEN bden > 0 AND {zexpr} > 3841459"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("signif_5pct"),
    ).orderBy("type_a", "type_b")


@register(
    "q_stat_ks2",
    oracle=f"""
    WITH {_CENTS_GRID_CTES},
    g AS (
        SELECT ty, x,
               SUM(c) OVER (
                   PARTITION BY ty ORDER BY x
                   ROWS UNBOUNDED PRECEDING) AS cumi
        FROM grid
    ),
    tot AS (SELECT ty, CAST(COUNT(*) AS HUGEINT) AS n FROM p GROUP BY ty),
    pr AS (
        SELECT a.ty AS type_a, b.ty AS type_b, ta.n AS na, tb.n AS nb,
               MAX(ABS(tb.n * a.cumi - ta.n * b.cumi)) AS d_num
        FROM g a
        JOIN g b ON a.x = b.x AND a.ty < b.ty
        JOIN tot ta ON ta.ty = a.ty
        JOIN tot tb ON tb.ty = b.ty
        GROUP BY 1, 2, 3, 4
    )
    SELECT type_a, type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           CAST((1000000 * d_num) // (na * nb) AS BIGINT) AS d_ppm,
           CAST(CASE WHEN ((1000000 * d_num) // (na * nb))
                          * ((1000000 * d_num) // (na * nb))
                          * na * nb
                          > CAST(1844164 AS HUGEINT) * 1000000 * (na + nb)
                THEN 1 ELSE 0 END AS BIGINT) AS signif_5pct
    FROM pr
    ORDER BY type_a, type_b
    """,
)
def q_stat_ks2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov over every event-type pair — the
    distribution-drift detector (train/serve skew, A/B sanity, feed
    corruption): the largest ECDF gap D, exact, with the 5% asymptotic
    flag. Completes the nonparametric family: kruskal asks "any group
    apart?", mannwhitney asks "which pair shifted in location?", KS
    asks "does the SHAPE differ anywhere?".

    Exact rational ECDF: over the densified (type × distinct-value)
    grid (shared construction with q_stat_mannwhitney), the gap at x
    is |F_a(x) − F_b(x)| = |nb·C_a(x) − na·C_b(x)| / (na·nb), so
    D's numerator is an exact integer MAX; the reported d_ppm floors
    1e6·D identically on both engines. The 5% flag squares the FLOORED
    d_ppm (conservative by < 1e-6·D, identical floors both sides) so
    the comparison product d_ppm²·na·nb ≤ 1e12·na·nb stays inside
    DECIMAL(38,0)/HUGEINT to na·nb ≤ 1e26 — no rescale knob needed at
    any realistic scale; the critical constant is c(0.05)² = 1.358² =
    1.844164 scaled e6 in Kα·√((na+nb)/(na·nb)).

    Plan: identical skeleton to mannwhitney — one map-combined count
    per (type, x), a |V|·k grid with per-type running sums, a tiny
    per-type total broadcast onto the k²/2 pair join, and a MAX
    aggregate. Everything after the first count is O(|V|·k²) whatever
    N is; the value domain |V| (cents-bounded) is the dial — bucket x
    first if the domain were unbounded."""
    p = _type_cents(spark, sf_dir)
    d38 = "decimal(38,0)"
    g = _cents_grid(p).select(
        "ty",
        "x",
        F.sum("c")
        .over(
            Window.partitionBy("ty")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cumi"),
    )
    tot = p.groupBy("ty").agg(F.count(F.lit(1)).cast(d38).alias("n"))
    a = g.select(
        F.col("ty").alias("type_a"),
        F.col("x").alias("xa"),
        F.col("cumi").alias("cia"),
    )
    b = g.select(
        F.col("ty").alias("type_b"),
        F.col("x").alias("xb"),
        F.col("cumi").alias("cib"),
    )
    pr = (
        a.join(
            b,
            (F.col("xa") == F.col("xb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .join(
            F.broadcast(tot.select(F.col("ty").alias("type_a"),
                                   F.col("n").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(tot.select(F.col("ty").alias("type_b"),
                                   F.col("n").alias("nb"))),
            "type_b",
        )
        .groupBy("type_a", "type_b", "na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("nb") * F.col("cia") - F.col("na") * F.col("cib")
                )
            )
            .cast(d38)
            .alias("d_num")
        )
    )
    dppm = "(1000000 * d_num) DIV (na * nb)"
    return pr.select(
        "type_a",
        "type_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("d_num").cast("bigint").alias("d_num"),
        F.expr(f"CAST({dppm} AS BIGINT)").alias("d_ppm"),
        F.expr(
            f"CAST(CASE WHEN CAST({dppm} AS decimal(38,0))"
            f" * CAST({dppm} AS decimal(38,0)) * na * nb"
            " > CAST(1844164 AS decimal(38,0)) * 1000000 * (na + nb)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("signif_5pct"),
    ).orderBy("type_a", "type_b")


_BENFORD_PPM = (
    "CASE d WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939"
    " WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947"
    " WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END"
)  # round(1e6*log10(1+1/d)); sums to exactly 1,000,000


@register(
    "q_stat_benford",
    oracle=f"""
    WITH p AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
    ),
    obs AS (SELECT d, CAST(COUNT(*) AS HUGEINT) AS o FROM p GROUP BY d),
    dig AS (SELECT CAST(range AS BIGINT) AS d FROM range(1, 10)),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM p),
    r AS (
        SELECT d, o, n, CAST({_BENFORD_PPM} AS HUGEINT) AS exp_ppm
        FROM (
            SELECT dig.d AS d, COALESCE(obs.o, 0) AS o, n.n AS n
            FROM dig LEFT JOIN obs ON obs.d = dig.d CROSS JOIN n
        )
    ),
    c AS (
        SELECT d, o, n, exp_ppm,
               ((1000000 * o - n * exp_ppm) * (1000000 * o - n * exp_ppm))
                   // (n * exp_ppm) AS contrib_e6
        FROM r
    )
    SELECT CAST(d AS BIGINT) AS digit,
           CAST(o AS BIGINT) AS n_obs,
           CAST(exp_ppm AS BIGINT) AS exp_ppm,
           CAST((1000000 * o) // n AS BIGINT) AS obs_ppm,
           CAST(contrib_e6 AS BIGINT) AS contrib_e6,
           CAST(SUM(contrib_e6) OVER () AS BIGINT) AS chi2_e6,
           CAST(CASE WHEN SUM(contrib_e6) OVER () > 15507313
                THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM c
    ORDER BY digit
    """,
)
def q_stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the fraud /
    synthetic-data / unit-mixup detector: natural multi-magnitude
    amounts follow P(d) = log10(1+1/d); a flat or spiked first-digit
    histogram flags fabricated or truncated feeds. Emits the 9-row
    digit distribution with per-digit χ² contributions and the
    χ²(8 df) 5% rejection flag.

    No float log anywhere: the expected distribution is the standard
    constant table round(1e6·log10(1+1/d)) — nine literals summing to
    exactly 1e6, identical in both engines — and the first digit is
    taken from the STRING form of the integer cents (substr of a
    BIGINT cast), because floor(log10(x))/pow(10,·) float round-trips
    straddle exact powers of ten differently per libm. χ²·1e6 =
    Σ (1e6·O − n·exp_ppm)² DIV (n·exp_ppm) with per-digit floors,
    DECIMAL(38,0)/HUGEINT throughout — (1e6·n)² ≤ 1e38 holds to
    n = 1e16 rows. Digits densify against a constant 9-row relation so
    a digit with zero mass still reports (and still contributes
    n·p_d to χ²). The rejection constant 15507313 is χ²(8)·1e6 at 5%
    (the q_stat_kruskal critical table, df = 8).

    Plan: one map-combined 9-group count; everything downstream lives
    on ≤ 9 rows (constant-relation left join, global window over 9
    rows — SCALING.md §global-windows). At 100 TB the scan's digit
    extraction is fused into the parquet read and the single exchange
    carries nine (digit, count) pairs."""
    p = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull()
                & (F.col("o_totalprice") > 0))
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("d")
        )
    )
    d38 = "decimal(38,0)"
    obs = p.groupBy("d").agg(F.count(F.lit(1)).cast(d38).alias("o"))
    dig = spark.range(1, 10).select(F.col("id").alias("d"))
    n = p.agg(F.count(F.lit(1)).cast(d38).alias("n"))
    r = (
        dig.join(obs, "d", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            F.coalesce(F.col("o"), F.lit(0).cast(d38)).alias("o"),
            "n",
            F.expr(f"CAST({_BENFORD_PPM} AS {d38})").alias("exp_ppm"),
        )
    )
    c = r.select(
        "d",
        "o",
        "n",
        "exp_ppm",
        F.expr(
            "((1000000 * o - n * exp_ppm) * (1000000 * o - n * exp_ppm))"
            " DIV (n * exp_ppm)"
        )
        .cast(d38)
        .alias("contrib_e6"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return c.select(
        F.col("d").cast("bigint").alias("digit"),
        F.col("o").cast("bigint").alias("n_obs"),
        F.col("exp_ppm").cast("bigint").alias("exp_ppm"),
        F.expr("CAST((1000000 * o) DIV n AS BIGINT)").alias("obs_ppm"),
        F.col("contrib_e6").cast("bigint").alias("contrib_e6"),
        F.sum("contrib_e6").over(w).cast("bigint").alias("chi2_e6"),
        F.when(F.sum("contrib_e6").over(w) > 15507313, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("reject_5pct"),
    ).orderBy("digit")


@register(
    "q_stat_spearman",
    oracle=f"""
    WITH {EVENT_CENTS_SQL},
    s AS (
        SELECT event_type, d,
               CAST(SUM(v) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type,
               2 * rank() OVER (PARTITION BY event_type ORDER BY y)
                 + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS u,
               2 * rank() OVER (PARTITION BY event_type ORDER BY c)
                 + COUNT(*) OVER (PARTITION BY event_type, c) - 1 AS w
        FROM s
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(u) AS HUGEINT) AS su,
               CAST(SUM(w) AS HUGEINT) AS sw,
               CAST(SUM(u * w) AS HUGEINT) AS suw,
               CAST(SUM(u * u) AS HUGEINT) AS suu,
               CAST(SUM(w * w) AS HUGEINT) AS sww
        FROM r GROUP BY 1
    ),
    q AS (
        SELECT event_type, n,
               n * suw - su * sw AS num,
               n * suu - su * su AS da,
               n * sww - sw * sw AS db
        FROM m
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
                ELSE 0 END AS INTEGER) AS rho_sign,
           CASE WHEN da = 0 OR db = 0 THEN NULL
                ELSE CAST((num * num * 1000000) // (da * db) AS BIGINT)
           END AS rho2_e6
    FROM q
    ORDER BY event_type
    """,
)
def q_stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per event type between the two daily
    series a pipeline monitor actually compares — revenue (sum of
    cents) and volume (event count): does value move MONOTONICALLY
    with traffic, robust to the heavy-tailed amounts that make the
    Pearson estimate (q_agg_corr_exact's moment machinery) chase
    outliers?

    Exact integers throughout: average ranks live DOUBLED (tie run at
    min-rank p of size t → 2p + t − 1, always integer — the kruskal
    discipline via rank() + a per-(type,value) count window, no
    groupBy/join-back needed), the five moment sums are exact, and
    ρ² is reported e6-floored as num²·1e6 DIV (da·db) with the sign
    carried separately — no square root ever computed. Overflow
    budget: doubled ranks ≤ 2n, so num ≤ n·(2n)² and num²·1e6 needs
    DECIMAL(38,0)/HUGEINT, which holds to n ≈ 2e5 days per type
    (centuries); past that pre-divide the doubled ranks by 10.
    Constant series (da or db = 0) → NULL, engine-identical.

    Plan: the corpus collapses to ONE map-combined (type, day)
    aggregate of the tables.event_cents rows (the daily_cents sum plus
    a row count); the four rank/count windows share a single exchange on
    event_type and run over the calendar-bounded day series; the
    final moment aggregate is per-type. One corpus-sized exchange
    end to end."""
    s = event_cents(spark, sf_dir).groupBy("event_type", "d").agg(
        F.sum("v").cast("bigint").alias("y"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    wy = Window.partitionBy("event_type").orderBy("y")
    wyt = Window.partitionBy("event_type", "y")
    wc = Window.partitionBy("event_type").orderBy("c")
    wct = Window.partitionBy("event_type", "c")
    r = s.select(
        "event_type",
        (
            2 * F.rank().over(wy) + F.count(F.lit(1)).over(wyt) - 1
        ).alias("u"),
        (
            2 * F.rank().over(wc) + F.count(F.lit(1)).over(wct) - 1
        ).alias("w"),
    )
    d38 = "decimal(38,0)"
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("u").cast(d38).alias("su"),
        F.sum("w").cast(d38).alias("sw"),
        F.sum(F.col("u") * F.col("w")).cast(d38).alias("suw"),
        F.sum(F.col("u") * F.col("u")).cast(d38).alias("suu"),
        F.sum(F.col("w") * F.col("w")).cast(d38).alias("sww"),
    )
    q = m.select(
        "event_type",
        "n",
        F.expr("n * suw - su * sw").alias("num"),
        F.expr("n * suu - su * su").alias("da"),
        F.expr("n * sww - sw * sw").alias("db"),
    )
    return q.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1"
            " ELSE 0 END AS INT)"
        ).alias("rho_sign"),
        F.expr(
            "CASE WHEN da = 0 OR db = 0 THEN NULL"
            " ELSE CAST((num * num * 1000000) DIV (da * db) AS BIGINT) END"
        ).alias("rho2_e6"),
    ).orderBy("event_type")


@register(
    "q_stat_levene",
    oracle=f"""
    WITH p AS (
        SELECT event_type AS g,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    gx AS (
        SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1, 2
    ),
    cum AS (
        SELECT g, x, c,
               CAST(SUM(c) OVER (
                   PARTITION BY g ORDER BY x) AS BIGINT) AS cm,
               CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS ng
        FROM gx
    ),
    med AS (
        SELECT g, MIN(x) AS med, MIN(ng) AS ng
        FROM cum WHERE 2 * cm >= ng GROUP BY g
    ),
    z AS (
        SELECT gx.g AS g, med.ng AS ng,
               CAST(SUM(gx.c * abs(gx.x - med.med)) AS HUGEINT) AS sz,
               CAST(SUM(gx.c * (gx.x - med.med) * (gx.x - med.med))
                    AS HUGEINT) AS qz
        FROM gx JOIN med ON med.g = gx.g
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS n,
               CAST(COUNT(*) AS HUGEINT) AS k,
               CAST(SUM(sz) AS HUGEINT) AS s,
               CAST(SUM((sz * sz * 1000000) // ng) AS HUGEINT) AS a,
               CAST(SUM(qz) AS HUGEINT) AS q
        FROM z
    ),
    ss AS (
        SELECT n, k,
               greatest(a - (s * s * 1000000) // n, 0) AS ssb_e6,
               q * 1000000 - a AS ssw_e6
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(k AS BIGINT) AS k_groups,
           CASE WHEN ssw_e6 <= 0 OR k < 2 THEN NULL
                ELSE CAST(((n - k) * ssb_e6 * 1000000)
                          // ((k - 1) * ssw_e6) AS BIGINT)
           END AS f_e6,
           CASE WHEN ssw_e6 <= 0 OR k < 2 THEN NULL
                ELSE (k - 1) * (((n - k) * ssb_e6 * 1000000)
                                // ((k - 1) * ssw_e6))
                     >= (CASE k - 1 {_CHI2_CASE} ELSE NULL END)
           END AS unequal_variance
    FROM ss
    """,
)
def q_stat_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across the K event
    types (Levene's test with group MEDIANS — the robust form): are
    the SPREADS equal, the assumption behind pooled-variance
    comparisons that kruskal/ttest sidestep for LOCATION but nothing
    yet checked for SCALE? One-way ANOVA F on the absolute deviations
    z = |x − med_g|.

    Exact integer: the group median is the weighted-median rule
    (smallest x with 2·cum ≥ n — q_agg_weighted_median's exact pick),
    deviations are integer cents, and every mean-square is carried as
    an e6-scaled floor: a_g = S_g²·1e6 DIV n_g, SSB = Σa_g −
    S²·1e6 DIV N (greatest 0 — floors may cross), SSW = Σz²·1e6 −
    Σa_g, F_e6 = (N−k)·SSB·1e6 DIV ((k−1)·SSW) — identical floor
    sequence both engines, DECIMAL(38,0)/HUGEINT throughout; the two
    big floors run through _dfloor (Spark's long-typed DIV wrapped
    (sz²·1e6) DIV ng to garbage at the round-10 sf1.0 sweep — the
    quotient passed 2^63), good to ~1e11 rows per group at cents
    ≤ 1e5; past that pre-divide z by 10 per decade (the kruskal
    knob).
    The 5% flag compares (k−1)·F against the χ²(k−1) table — the
    large-N asymptotic, honest because N ≫ k here.

    Plan (the kruskal skeleton): ONE map-combined count per (type,
    value) is the only corpus-sized exchange; the median windows, the
    broadcast median attach, and both moment aggregates run over the
    bounded distinct-value relation. No raw row ever reaches a
    window; at an unbounded value domain, bucket first."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    gx = p.groupBy("g", "x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg = Window.partitionBy("g")
    cum = gx.select(
        "g",
        "x",
        "c",
        F.sum("c").over(wcum).alias("cm"),
        F.sum("c").over(wg).alias("ng"),
    )
    med = (
        cum.filter(2 * F.col("cm") >= F.col("ng"))
        .groupBy("g")
        .agg(F.min("x").alias("med"), F.min("ng").alias("ng"))
    )
    d38 = "decimal(38,0)"
    z = (
        gx.join(F.broadcast(med), "g")
        .groupBy("g", "ng")
        .agg(
            F.sum(
                F.expr(f"CAST(c AS {d38}) * abs(x - med)")
            ).cast(d38).alias("sz"),
            F.sum(
                F.expr(f"CAST(c AS {d38}) * (x - med) * (x - med)")
            ).cast(d38).alias("qz"),
        )
    )
    tot = z.agg(
        F.sum("ng").cast(d38).alias("n"),
        F.count(F.lit(1)).cast(d38).alias("k"),
        F.sum("sz").cast(d38).alias("s"),
        F.sum(F.expr(_dfloor("sz * sz * 1000000", "ng")))
        .cast(d38)
        .alias("a"),
        F.sum("qz").cast(d38).alias("q"),
    )
    ss = tot.select(
        "n",
        "k",
        F.expr(
            "greatest(a - " + _dfloor("s * s * 1000000", "n")
            + ", CAST(0 AS DECIMAL(38,0)))"
        ).alias("ssb_e6"),
        F.expr("q * 1000000 - a").alias("ssw_e6"),
    )
    crit = f"CASE CAST(k - 1 AS INT) {_CHI2_CASE} ELSE NULL END"
    f_e6 = "((n - k) * ssb_e6 * 1000000) DIV ((k - 1) * ssw_e6)"
    return ss.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("k").cast("bigint").alias("k_groups"),
        F.expr(
            f"CASE WHEN ssw_e6 <= 0 OR k < 2 THEN NULL"
            f" ELSE CAST({f_e6} AS BIGINT) END"
        ).alias("f_e6"),
        F.expr(
            f"CASE WHEN ssw_e6 <= 0 OR k < 2 THEN NULL"
            f" ELSE (k - 1) * ({f_e6}) >= {crit} END"
        ).alias("unequal_variance"),
    )


@register(
    "q_orders_abc_class",
    oracle="""
    WITH r AS (
        SELECT l_partkey AS partkey,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(rev) AS HUGEINT) AS tot FROM r),
    c AS (
        SELECT partkey, rev,
               CAST(SUM(rev) OVER (
                   ORDER BY rev DESC, partkey) AS HUGEINT) AS cum
        FROM r
    ),
    k AS (
        SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                    WHEN cum * 20 <= tot * 19 THEN 'B'
                    ELSE 'C' END AS abc_class,
               rev
        FROM c, t
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS class_rev_e4,
           CAST((1000000 * CAST(SUM(rev) AS HUGEINT))
                // (SELECT tot FROM t) AS BIGINT) AS share_ppm
    FROM k GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def q_orders_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by discounted revenue:
    A = parts inside the first 80% of cumulative revenue (ranked
    desc), B = to 95%, C = the tail — the warehouse slotting /
    procurement-attention split. Boundary rule: a part whose
    cumulative INCLUDING itself crosses the threshold falls into the
    next class (cum·5 ≤ tot·4 etc. — pure integer comparisons on
    exact e4 revenue, no float share anywhere; comparisons run in
    DECIMAL(38,0)/HUGEINT so they survive totals past int64/20).

    The interesting part is the GLOBAL cumulative sum, which Spark's
    window-without-partition would run single-partition. Here it is
    DECOMPOSED: parts bucket into fixed-width revenue bins (rev DIV
    1e8 — $10k steps), a tiny bins-level prefix window (bounded
    domain) computes each bin's offset, and the per-part running sum
    is a window PARTITIONED BY bin (offset + within-bin prefix) —
    identical value to the single-partition form (bins are revenue-
    ordered by construction; ties can't cross bins since equal rev =
    equal bin), but the heavy window is now parallel across bins. The
    per-part ranking at 100 TB runs over the part DIMENSION (~n_facts
    /30), so even that is dimension-scaled, and each bin partition is
    a fraction of it. The oracle computes the same cum with the plain
    global window — same value, fixture scale.

    Tie discipline: (rev DESC, partkey) total order in BOTH the
    within-bin window and the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    r = (
        li.select(F.col("l_partkey").alias("partkey"), rev.alias("lrev"))
        .groupBy("partkey")
        .agg(F.sum("lrev").cast("bigint").alias("rev"))
        .withColumn("bin", F.expr("rev DIV 100000000"))
    )
    bins = r.groupBy("bin").agg(F.sum("rev").cast("bigint").alias("bsum"))
    # bins are few (revenue-range/width) — this global prefix window is
    # over the bounded bin domain, not over parts
    wb = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binoff = bins.select(
        "bin",
        (F.sum("bsum").over(wb) - F.col("bsum")).alias("off"),
    )
    tot = bins.agg(F.sum("bsum").cast("decimal(38,0)").alias("tot"))
    win = (
        Window.partitionBy("bin")
        .orderBy(F.desc("rev"), "partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        r.join(F.broadcast(binoff), "bin")
        .select(
            "partkey",
            "rev",
            (F.col("off") + F.sum("rev").over(win))
            .cast("decimal(38,0)")
            .alias("cum"),
        )
        .crossJoin(F.broadcast(tot))
    )
    k = c.select(
        F.expr(
            "CASE WHEN cum * 5 <= tot * 4 THEN 'A'"
            " WHEN cum * 20 <= tot * 19 THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc_class"),
        "rev",
        "tot",
    )
    return (
        k.groupBy("abc_class", "tot")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("class_rev_e4"),
        )
        .select(
            "abc_class",
            "n_parts",
            "class_rev_e4",
            F.expr(
                "CAST((1000000 * CAST(class_rev_e4 AS DECIMAL(38,0)))"
                " DIV tot AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("abc_class")
    )


@register(
    "q_stat_runs",
    oracle=f"""
    WITH {DAILY_CENTS_SQL},
    cum AS (
        SELECT event_type, y,
               CAST(SUM(1) OVER (
                   PARTITION BY event_type ORDER BY y) AS BIGINT) AS cm,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n
        FROM s
    ),
    med AS (
        SELECT event_type, MIN(y) AS med
        FROM cum WHERE 2 * cm >= n GROUP BY event_type
    ),
    sg AS (
        SELECT s.event_type AS event_type, s.d AS d,
               CASE WHEN s.y > med.med THEN 1 ELSE -1 END AS sgn
        FROM s JOIN med ON med.event_type = s.event_type
        WHERE s.y <> med.med
    ),
    r AS (
        SELECT event_type, sgn,
               lag(sgn) OVER (
                   PARTITION BY event_type ORDER BY d) AS prev
        FROM sg
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN prev IS NULL OR sgn <> prev
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs,
               CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2
        FROM r GROUP BY 1
    ),
    z AS (
        SELECT event_type, n1, n2, runs,
               n1 + n2 AS n,
               2 * n1 * n2 AS p
        FROM agg
    )
    SELECT event_type, n1, n2, runs,
           CASE WHEN n1 = 0 OR n2 = 0 OR p = n THEN NULL
                ELSE CAST(
                    (CAST(runs * n - p - n AS HUGEINT)
                     * (runs * n - p - n) * (n - 1) * 1000000)
                    // (CAST(p AS HUGEINT) * (p - n)) AS BIGINT)
           END AS z2_e6,
           CASE WHEN n1 = 0 OR n2 = 0 OR p = n THEN NULL
                ELSE (CAST(runs * n - p - n AS HUGEINT)
                      * (runs * n - p - n) * (n - 1) * 1000000)
                     // (CAST(p AS HUGEINT) * (p - n)) >= 3841459
           END AS nonrandom
    FROM z
    ORDER BY event_type
    """,
)
def q_stat_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily-revenue
    series RANDOM around its median, or does it clump (trend /
    regime-switch) or oscillate (over-correction)? Counts runs of
    above/below-median days (median ties excluded, the standard
    treatment; median = the weighted-median exact pick) and scores
    z² = (R − μ)²/σ² against the 5% χ²(1) gate.

    Exact rational algebra, no float: with n = n1+n2, p = 2·n1·n2,
    μ = p/n + 1 and σ² = p(p−n)/(n²(n−1)), so z² multiplies through
    to (Rn − p − n)²·(n−1)·1e6 DIV (p·(p−n)) — one floor division,
    identical both engines, in DECIMAL(38,0)/HUGEINT ((Rn)² ≈ n⁴
    passes int64 near n ≈ 5e4 days). Degenerate splits (n1 or n2 = 0,
    or p = n i.e. n1 = n2 = 1) → NULL.

    Plan: the tables.daily_cents (type, day) sum is the only
    corpus-sized exchange; the median rank window, the sign sequence,
    the lag window, and the final aggregate all run on the
    calendar-bounded day series under one event_type partitioning;
    the median attaches by broadcast."""
    s = daily_cents(spark, sf_dir)
    wcum = Window.partitionBy("event_type").orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy("event_type")
    cum = s.select(
        "event_type",
        "y",
        F.sum(F.lit(1)).over(wcum).cast("bigint").alias("cm"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    med = (
        cum.filter(2 * F.col("cm") >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("y").alias("med"))
    )
    sg = (
        s.join(F.broadcast(med), "event_type")
        .filter(F.col("y") != F.col("med"))
        .select(
            "event_type",
            "d",
            F.when(F.col("y") > F.col("med"), 1).otherwise(-1).alias("sgn"),
        )
    )
    r = sg.select(
        "event_type",
        "sgn",
        F.lag("sgn").over(
            Window.partitionBy("event_type").orderBy("d")
        ).alias("prev"),
    )
    agg = r.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("sgn") != F.col("prev")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    z = agg.select(
        "event_type",
        "n1",
        "n2",
        "runs",
        (F.col("n1") + F.col("n2")).alias("n"),
        (2 * F.col("n1") * F.col("n2")).alias("p"),
    )
    z2 = (
        "(CAST(runs * n - p - n AS DECIMAL(38,0))"
        " * (runs * n - p - n) * (n - 1) * 1000000)"
        " DIV (CAST(p AS DECIMAL(38,0)) * (p - n))"
    )
    return z.select(
        "event_type",
        "n1",
        "n2",
        "runs",
        F.expr(
            f"CASE WHEN n1 = 0 OR n2 = 0 OR p = n THEN NULL"
            f" ELSE CAST({z2} AS BIGINT) END"
        ).alias("z2_e6"),
        F.expr(
            f"CASE WHEN n1 = 0 OR n2 = 0 OR p = n THEN NULL"
            f" ELSE {z2} >= 3841459 END"
        ).alias("nonrandom"),
    ).orderBy("event_type")


@register(
    "q_stat_cohens_d",
    oracle="""
    WITH p AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(x * x) AS HUGEINT) AS sxx
        FROM p GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n AS na, b.n AS nb,
               a.sx * b.n - b.sx * a.n AS diff,
               a.n * b.n AS nn,
               b.n * (a.n * a.sxx - a.sx * a.sx)
                 + a.n * (b.n * b.sxx - b.sx * b.sx) AS pv
        FROM m a JOIN m b ON a.event_type < b.event_type
        WHERE a.n >= 2 AND b.n >= 2
    ),
    r AS (
        SELECT type_a, type_b, na, nb,
               CASE WHEN diff > 0 THEN 1 WHEN diff < 0 THEN -1
                    ELSE 0 END AS d_sign,
               CASE WHEN pv > 0 THEN
                   CAST(floor(least(CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE) * CAST(na + nb - 2 AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(pv AS DOUBLE)) * 1000000, 1000000000000.0) + 0.5) AS BIGINT)
               ELSE NULL END AS d2_e6
        FROM pairs
    )
    SELECT type_a, type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(d2_e6 AS BIGINT) AS d2_e6,
           CAST(d_sign AS INTEGER) AS d_sign,
           CASE WHEN d2_e6 IS NULL THEN NULL
                WHEN d2_e6 >= 640000 THEN 'large'
                WHEN d2_e6 >= 250000 THEN 'medium'
                WHEN d2_e6 >= 40000 THEN 'small'
                ELSE 'negligible' END AS effect
    FROM r
    ORDER BY type_a, type_b
    """,
)
def q_stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size for every event-type pair — the
    magnitude half of the inference pair: q_stat_ttest_welch says a
    value gap is STATISTICALLY real (which any gap is at large N);
    this says whether it is PRACTICALLY large, via the standard
    0.2/0.5/0.8 bands on |d| (compared as d² ≥ 0.04/0.25/0.64, so the
    banding needs no square root).

    d² = (Sa·nb − Sb·na)²·(na+nb−2) / (na·nb·P) with
    P = nb(na·Qa − Sa²) + na(nb·Qb − Sb²): the moments diff/nn/P are
    EXACT DECIMAL(38,0)/HUGEINT integers (no cancellation loss), and
    the final ratio is ONE double expression of identical shape on
    both engines, floor-pinned to e6 (the chisq discipline) and
    clamped at 1e12 ppm before the BIGINT cast (d² = 1e6 — far past
    every band — so the clamp never fires on sane data but keeps a
    near-zero-variance pair from overflowing the cast). The previous
    exact-integer pre-divide form wrapped Spark's long-typed DIV at
    the sf1.0 sweep (nn·pv DIV 1e6 ≈ 4e28 > 2^63 — found round 10);
    the double form has no magnitude limit and its only rounding is
    the final pin. Zero pooled variance → NULL.

    Plan: the ttest skeleton — ONE map-combined moment aggregate per
    type is the only corpus-sized exchange; the K²/2 pair join runs
    on the K-row moment relation."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    d38 = "decimal(38,0)"
    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum(F.expr(f"CAST(x AS {d38}) * x")).cast(d38).alias("sxx"),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("sx").alias("sxa"),
        F.col("sxx").alias("sxxa"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("sx").alias("sxb"),
        F.col("sxx").alias("sxxb"),
    )
    pairs = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .filter((F.col("na") >= 2) & (F.col("nb") >= 2))
        .select(
            "type_a",
            "type_b",
            "na",
            "nb",
            F.expr("sxa * nb - sxb * na").alias("diff"),
            F.expr("na * nb").alias("nn"),
            F.expr(
                "nb * (na * sxxa - sxa * sxa)"
                " + na * (nb * sxxb - sxb * sxb)"
            ).alias("pv"),
        )
    )
    r = pairs.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        F.expr(
            "CASE WHEN diff > 0 THEN 1 WHEN diff < 0 THEN -1"
            " ELSE 0 END"
        ).alias("d_sign"),
        F.expr(
            "CASE WHEN pv > 0 THEN CAST(floor(least(CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE) * CAST(na + nb - 2 AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(pv AS DOUBLE)) * 1000000, 1000000000000.0) + 0.5) AS BIGINT) ELSE NULL END"
        ).alias("d2_e6"),
    )
    return r.select(
        "type_a",
        "type_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("d2_e6").cast("bigint").alias("d2_e6"),
        F.col("d_sign").cast("int").alias("d_sign"),
        F.expr(
            "CASE WHEN d2_e6 IS NULL THEN NULL"
            " WHEN d2_e6 >= 640000 THEN 'large'"
            " WHEN d2_e6 >= 250000 THEN 'medium'"
            " WHEN d2_e6 >= 40000 THEN 'small'"
            " ELSE 'negligible' END"
        ).alias("effect"),
    ).orderBy("type_a", "type_b")


def _dfloor(a: str, b: str) -> str:
    """Exact floor-division of non-negative DECIMAL(38,0) expressions
    as a SQL fragment, safe where Spark's `DIV` is not.

    Spark's IntegralDivide ALWAYS returns BIGINT: when the true
    quotient exceeds 2^63−1 it silently wraps (observed at the sf1.0
    scale sweep, round 10 — q_stat_levene's (sz²·1e6) DIV ng wrapped
    to garbage while DuckDB's HUGEINT `//` stayed exact, and
    q_stat_anova_f crashed on the ANSI long SUM of DIV terms). This
    identity — a − a%b exactly divisible by b, so the decimal division
    is exact and the (scale-6, HALF_UP) result adjustment is a no-op —
    keeps the quotient in DECIMAL(38,0) with ~1e32 of headroom.
    Operands must be non-negative (every call site is a square or a
    count).

    Past that headroom, non-ANSI decimal division returns NULL
    silently while DuckDB's HUGEINT stays exact — a silent
    NULL-vs-value parity red rather than an error (round-10 ADVICE).
    So the fragment guards itself: a NULL quotient from NON-NULL
    operands can only be the ~1e32 overflow, and raises instead of
    flowing downstream. The guard is a cell-local CASE (codegen-
    friendly, no extra pass); genuinely NULL inputs still propagate
    NULL."""
    q = f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS DECIMAL(38,0))"
    return (
        f"(CASE WHEN ({q}) IS NULL AND ({a}) IS NOT NULL"
        f" AND ({b}) IS NOT NULL THEN CAST(raise_error("
        f"'_dfloor quotient overflowed DECIMAL(38,0) ~1e32 headroom')"
        f" AS DECIMAL(38,0)) ELSE ({q}) END)"
    )


@register(
    "q_stat_anova_f",
    oracle=f"""
    WITH p AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS s,
               CAST(SUM(x * x) AS HUGEINT) AS q
        FROM p GROUP BY event_type
    ),
    t AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS k,
               SUM(n) AS n, SUM(s) AS s, SUM(q) AS q,
               SUM((s * s * 1000000) // n) AS a_e6
        FROM g
    ),
    f AS (
        SELECT k, n,
               greatest(a_e6 - (s * s * 1000000) // n, 0) AS ssb_e6,
               q * 1000000 - a_e6 AS ssw_e6
        FROM t
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n AS BIGINT) AS n,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2,
           CAST(CASE WHEN ssw_e6 >= 1000000 THEN
               (ssb_e6 * (n - k))
                   // ((ssw_e6 // 1000000) * (k - 1))
           END AS BIGINT) AS f_e6,
           CASE WHEN ssw_e6 >= 1000000 THEN
               (ssb_e6 * (n - k))
                   // ((ssw_e6 // 1000000) * (k - 1))
               * (k - 1)
               >= CASE k - 1 {_CHI2_CASE} ELSE NULL END
           END AS significant
    FROM f
    """,
)
def q_stat_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F over event-type value groups — the k-group
    parametric companion to q_stat_kruskal (rank-based) and
    q_stat_ttest_welch (two-group): does MEAN value differ across the
    k event types?

    Exact rational: SSB and SSW come from the same three power sums
    the ttest uses (n, Σx, Σx² per group at cents scale), combined as
    A_e6 = Σ_g (S_g²·1e6 DIV n_g); SSB_e6 = A_e6 − T²·1e6 DIV N;
    SSW_e6 = Q·1e6 − A_e6. Every floor is engine-identical and runs
    through _dfloor (exact decimal floor-division — Spark's
    long-typed DIV wraps past 2^63, which crashed this query's ANSI
    long SUM at the round-10 sf1.0 sweep): safe to ~1e11 rows per
    group at cents ≤ 1e5.
    SSB itself is non-negative by Cauchy–Schwarz, but the per-group
    floors leave ±(k−1) slack (equal group means can land SSB_e6 at
    −(k−1)), so it is clamped with greatest(·, 0) on both engines to
    keep F_e6 from emitting a small negative where 0 is meant. The
    final
    F_e6 pre-divides SSW back to unit scale so the product chain
    stays under DECIMAL(38,0)/HUGEINT to N ≈ 1e8 rows per group at
    cents ≤ 1e5. Significance is the df2→∞ convention pinned across
    this module: df1·F vs chi2(df1) 0.05 criticals (_CHI2_CRIT_E6).

    Plan: ONE map-combined moment aggregate over the corpus (k rows
    out), then a single-row reduction — the ttest/cohens_d skeleton
    minus the pair join; nothing after the first exchange touches
    more than k rows."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.round(F.col("value") * 100).cast("bigint").alias("x"),
                "event_type")
    )
    d38 = "decimal(38,0)"
    g = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("s"),
        # the x² products and their sum run in DECIMAL — the long sum
        # overflows at ~1e9 rows/group at cents ≤ 1e5
        F.sum(F.expr(f"CAST(x AS {d38}) * x")).cast(d38).alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast(d38).alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("q").alias("q"),
        F.sum(F.expr(_dfloor("s * s * 1000000", "n"))).alias("a_e6"),
    )
    f = t.select(
        "k",
        "n",
        F.expr(
            "greatest(a_e6 - " + _dfloor("s * s * 1000000", "n") + ", 0)"
        ).alias("ssb_e6"),
        F.expr("q * 1000000 - a_e6").alias("ssw_e6"),
    )
    f_e6 = (
        "(ssb_e6 * (n - k)) DIV ("
        + _dfloor("ssw_e6", "1000000")
        + " * (k - 1))"
    )
    return f.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df2"),
        F.expr(
            f"CAST(CASE WHEN ssw_e6 >= 1000000 THEN {f_e6} END AS BIGINT)"
        ).alias("f_e6"),
        F.expr(
            f"CASE WHEN ssw_e6 >= 1000000 THEN"
            f" {f_e6} * (k - 1)"
            f" >= CASE CAST(k - 1 AS INT) {_CHI2_CASE} ELSE NULL END"
            f" END"
        ).alias("significant"),
    )


@register(
    "q_stat_jarque_bera",
    oracle=f"""
    WITH p AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    mu AS (
        SELECT event_type,
               CAST(SUM(x) AS HUGEINT) // COUNT(*) AS mu
        FROM p GROUP BY event_type
    ),
    c AS (
        SELECT p.event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM((x - mu) * (x - mu)) AS HUGEINT) AS sd2,
               CAST(SUM(CAST(x - mu AS HUGEINT)
                        * (x - mu) * (x - mu)) AS HUGEINT) AS sd3,
               CAST(SUM(CAST(x - mu AS HUGEINT) * (x - mu)
                        * (x - mu) * (x - mu)) AS HUGEINT) AS sd4
        FROM p JOIN mu USING (event_type)
        GROUP BY p.event_type
    ),
    r AS (
        SELECT event_type, n, sd2,
               CASE WHEN sd3 > 0 THEN 1 WHEN sd3 < 0 THEN -1
                    ELSE 0 END AS skew_sign,
               (abs(sd3) * 1000000) // sd2 AS a3,
               (sd4 * 1000000) // sd2 AS a4
        FROM c WHERE n >= 4 AND sd2 > 0
    ),
    jb AS (
        SELECT event_type, n, skew_sign,
               (a3 * a3 * n) // (sd2 * 1000000) AS skew2_e6,
               (n * a4) // sd2 AS kurt_e6
        FROM r
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(skew_sign AS INTEGER) AS skew_sign,
           CAST(skew2_e6 AS BIGINT) AS skew2_e6,
           CAST(kurt_e6 AS BIGINT) AS kurt_e6,
           CAST((n * (skew2_e6 * 1000000
                      + ((kurt_e6 - 3000000)
                         * (kurt_e6 - 3000000)) // 4))
                // 6000000 AS BIGINT) AS jb_e6,
           (n * (skew2_e6 * 1000000
                 + ((kurt_e6 - 3000000) * (kurt_e6 - 3000000)) // 4))
               // 6000000 >= {_CHI2_CRIT_E6[1]} AS nonnormal
    FROM jb
    ORDER BY event_type
    """,
)
def q_stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test per event type — skewness² and
    kurtosis from CENTRAL power sums, JB = n/6·(S² + (K−3)²/4),
    rejected against chi2(2) at 0.05 (5.991465, the df-2 entry of
    _CHI2_CRIT_E6). Completes the distribution-shape shelf next to
    q_agg_moments (which reports Spark's float skewness/kurtosis,
    rounded) with a bit-identical integer twin.

    TWO-PASS by design: raw power sums Σx⁴ overflow DECIMAL(38,0)
    once n·x⁴ ≳ 1e38 (n = 1e8 at x ≤ 1e5 cents is 1e28 — fine, but
    the M4 = n³Q4 − ... EXPANSION the one-pass algebra needs is n⁴·m4
    ≈ 1e48 at sf100). Pass 1 computes the floored integer group mean
    (S DIV n, engine-identical); pass 2 re-reads with the k-row mean
    relation broadcast and sums (x−μ)^{2,3,4} directly — centered
    deltas keep every accumulator under n·(2e5)⁴ ≈ 1e30. The floored
    μ (≤1 cent off the true mean) is part of the pinned semantics,
    identical on both engines.

    Negative-DIV convention: on the pinned DuckDB 1.0 both engines
    truncate integer division toward zero ((-7)//2 = -3 there, same
    as Spark DIV), so a signed DIV would agree — the one signed sum
    (Σd³) is still split into |Σd³| DIV and a separate sign column as
    a defensive convention (it stays correct even on engines that
    floor, e.g. Python or later DuckDB semantics changes); every
    other numerator is a square or fourth power, non-negative by
    construction.

    Plan: two corpus scans (pass-1 moment agg + pass-2 centered agg),
    the μ relation joined BROADCAST — no corpus-sized exchange beyond
    the two map-combined aggregates; at 100 TB the second pass rides
    the same partition layout as the first."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    d38 = "decimal(38,0)"
    mu = p.groupBy("event_type").agg(
        F.expr("CAST(SUM(x) AS DECIMAL(38,0)) DIV COUNT(*)")
        .cast("bigint")
        .alias("mu")
    )
    c = (
        p.join(F.broadcast(mu), "event_type")
        .withColumn("d", (F.col("x") - F.col("mu")).cast(d38))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum(F.expr("d * d")).cast(d38).alias("sd2"),
            F.sum(F.expr("d * d * d")).cast(d38).alias("sd3"),
            F.sum(F.expr("d * d * d * d")).cast(d38).alias("sd4"),
        )
    )
    r = c.filter((F.col("n") >= 4) & (F.col("sd2") > 0)).select(
        "event_type",
        "n",
        "sd2",
        F.expr(
            "CASE WHEN sd3 > 0 THEN 1 WHEN sd3 < 0 THEN -1 ELSE 0 END"
        ).alias("skew_sign"),
        F.expr(
            "CAST((abs(sd3) * 1000000) DIV sd2 AS DECIMAL(38,0))"
        ).alias("a3"),
        F.expr(
            "CAST((sd4 * 1000000) DIV sd2 AS DECIMAL(38,0))"
        ).alias("a4"),
    )
    jb = r.select(
        "event_type",
        "n",
        "skew_sign",
        F.expr("(a3 * a3 * n) DIV (sd2 * 1000000)").alias("skew2_e6"),
        F.expr("(n * a4) DIV sd2").alias("kurt_e6"),
    )
    jb_expr = (
        "(n * (skew2_e6 * 1000000"
        " + ((kurt_e6 - 3000000) * (kurt_e6 - 3000000)) DIV 4))"
        " DIV 6000000"
    )
    return jb.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("skew_sign").cast("int").alias("skew_sign"),
        F.col("skew2_e6").cast("bigint").alias("skew2_e6"),
        F.col("kurt_e6").cast("bigint").alias("kurt_e6"),
        F.expr(f"CAST({jb_expr} AS BIGINT)").alias("jb_e6"),
        F.expr(f"{jb_expr} >= {_CHI2_CRIT_E6[1]}").alias("nonnormal"),
    ).orderBy("event_type")


@register(
    "q_stat_survival_km",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               epoch_us(o_orderdate) // {_US_PER_DAY} AS dayn,
               o_orderkey,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    maxd AS (SELECT MAX(dayn) AS maxd FROM o),
    per AS (
        SELECT f.o_custkey,
               CASE WHEN s.dayn IS NOT NULL THEN s.dayn - f.dayn
                    ELSE maxd.maxd - f.dayn END AS dur,
               CASE WHEN s.dayn IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM (SELECT * FROM o WHERE rn = 1) f
        LEFT JOIN (SELECT * FROM o WHERE rn = 2) s USING (o_custkey)
        CROSS JOIN maxd
    ),
    t AS (
        SELECT dur,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM per GROUP BY dur
    ),
    risk AS (
        SELECT dur, d, c,
               (SELECT COUNT(*) FROM per)
                 - COALESCE(SUM(d + c) OVER (
                       ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS n_risk
        FROM t
    ),
    km AS (
        SELECT dur, d, c, n_risk,
               CASE WHEN n_risk > d THEN
                   CAST(floor(ln(n_risk - d) * 1000000 + 0.5) AS BIGINT)
                   - CAST(floor(ln(n_risk) * 1000000 + 0.5) AS BIGINT)
               END AS l
        FROM risk WHERE d > 0
    )
    SELECT CAST(dur AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           c AS n_censored,
           CASE WHEN n_risk > d THEN
               CAST(SUM(l) OVER (ORDER BY dur) AS BIGINT)
           END AS log_surv_e6
    FROM km
    ORDER BY t_days
    """,
)
def q_stat_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of time-to-second-order: for each
    customer, the event is the SECOND order (repeat purchase), timed
    in whole days from the first; customers who never reorder are
    right-censored at the global last order date. The product-limit
    estimator S(t) = Π_{{t_i ≤ t}} (1 − d_i/n_i) is reported in LOG
    form: log_surv_e6 = Σ [L(n_i−d_i) − L(n_i)] with
    L(z) = floor(ln(z)·1e6 + ½) — each ln is of an EXACT integer and
    pinned to e6 before any sum (the bigram_ppl/zipf_fit float rule),
    so the cumulative sum is pure integer arithmetic. If survival
    reaches zero (n_risk == d at the last event time) the log is NULL
    from that row on, by construction only the final row.

    Censored-at-t rows stay in the risk set AT t (removed after the
    deaths), the standard KM tie convention — encoded identically in
    both engines as a 1-PRECEDING window over (deaths+censored).
    Durations use epoch-day integers (epoch_us DIV 86.4e9), not
    date_diff, per this module's dialect-trap rule.

    Plan: one window over orders partitioned by custkey (rank 1st/2nd
    order), the global max date attached as a broadcast 1×1 staple,
    then the KM table lives on |distinct durations| rows — the final
    ordered window is a few thousand rows at any corpus scale, the
    classic giant-input/tiny-state survival shape."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {_US_PER_DAY}"
        ).alias("dayn"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("dayn", "o_orderkey")
    r = o.withColumn("rn", F.row_number().over(w))
    f = r.filter(F.col("rn") == 1).select("o_custkey", F.col("dayn").alias("d1"))
    s = r.filter(F.col("rn") == 2).select("o_custkey", F.col("dayn").alias("d2"))
    maxd = o.agg(F.max("dayn").alias("maxd"))
    per = (
        f.join(s, "o_custkey", "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            F.when(F.col("d2").isNotNull(), F.col("d2") - F.col("d1"))
            .otherwise(F.col("maxd") - F.col("d1"))
            .alias("dur"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    t = per.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    n_total = per.agg(F.count(F.lit(1)).alias("n_total"))
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        t.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wcum), F.lit(0)),
        )
    )
    km = risk.filter(F.col("d") > 0).withColumn(
        "l",
        F.expr(
            "CASE WHEN n_risk > d THEN"
            " CAST(floor(ln(n_risk - d) * 1000000 + 0.5) AS BIGINT)"
            " - CAST(floor(ln(n_risk) * 1000000 + 0.5) AS BIGINT) END"
        ),
    )
    wlog = Window.orderBy("dur")
    return km.select(
        F.col("dur").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(
            F.col("n_risk") > F.col("d"),
            F.sum("l").over(wlog).cast("bigint"),
        ).alias("log_surv_e6"),
    ).orderBy("t_days")


# Poisson(1) inverse-CDF thresholds at 2^60 scale for the portable
# 60-bit md5 hash: multiplicity m is the first k whose cumulative
# probability exceeds u = h/2^60. Precomputed in Python so both
# engines compare against the SAME integer constants (no libm call
# at query time at all).
_POIS1_T60 = (
    424136118829305344,     # P(X<=0)
    848272237658610688,     # P(X<=1)
    1060340297073263360,    # P(X<=2)
    1131029650211480960,    # P(X<=3)
    1148701988496035328,    # P(X<=4)
    1152236456152946176,    # P(X<=5)
    1152825534095764608,    # P(X<=6)
)
_BOOT_B = 48  # bootstrap replicates
_BOOT_LO_RN = 2   # floor(0.025 * 48) + 1  -> 2.5% order statistic
_BOOT_HI_RN = 47  # ceil(0.975 * 48)       -> 97.5% order statistic


def _pois_case(h: str) -> str:
    """CASE expression mapping a 60-bit hash to a Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS1_T60)
    )
    return f"CASE {arms} ELSE 7 END"


@register(
    "q_stat_bootstrap_ci",
    oracle=f"""
    WITH x AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    rep AS (
        SELECT b.range AS b, x.cents,
               {_pois_case("(('0x' || substr(md5(CAST(x.o_orderkey AS VARCHAR) || ':' || CAST(b.range AS VARCHAR)), 1, 15))::BIGINT)")} AS m
        FROM x CROSS JOIN range({_BOOT_B}) b
    ),
    means AS (
        SELECT b,
               CAST(SUM(m * cents) AS HUGEINT)
                   // NULLIF(SUM(m), 0) AS mean_cents
        FROM rep GROUP BY b
    ),
    ranked AS (
        SELECT mean_cents,
               row_number() OVER (ORDER BY mean_cents, b) AS rn
        FROM means
    ),
    point AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(cents) AS HUGEINT)
                    // COUNT(*) AS BIGINT) AS point_mean_cents
        FROM x
    )
    SELECT point.n_orders,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           point.point_mean_cents,
           CAST(MIN(CASE WHEN rn = {_BOOT_LO_RN} THEN mean_cents END)
                AS BIGINT) AS ci_lo_cents,
           CAST(MIN(CASE WHEN rn = {_BOOT_HI_RN} THEN mean_cents END)
                AS BIGINT) AS ci_hi_cents
    FROM ranked CROSS JOIN point
    GROUP BY point.n_orders, point.point_mean_cents
    """,
)
def q_stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for mean order value — the
    distributed-bootstrap construction (Chamandy et al., Google 2012,
    'Estimating Uncertainty for Massive Data Streams'): instead of
    resampling n rows WITH replacement (which needs global
    coordination), each row independently draws its multiplicity in
    replicate b as Poisson(1) — at large n the replicate is
    distribution-identical to a classical bootstrap resample.

    Fully deterministic and engine-portable: the draw is the 60-bit
    md5 prefix of 'orderkey:b' (the q_llm_simhash portable-hash
    family) compared against PRECOMPUTED integer thresholds
    floor(CDF_Poisson(1)·2^60) (_POIS1_T60) — no RNG, no libm at
    query time, bit-identical across engines. Replicate means are
    floored integer cents; the CI is the 2nd/47th order statistic of
    the 48 replicate means (2.5%/97.5% at B=48).

    Plan: the B-fold expansion is a PROJECTION (explode of a constant
    sequence) fused into the scan — it never shuffles; the only
    exchange carries B×parts partial (Σm·x, Σm) pairs, so at 100 TB
    the cost is B extra map-side multiply-adds per row, not B corpus
    copies. The 48-row means table then sorts in one task —
    giant-input/tiny-state, like q_stat_survival_km."""
    x = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    h = (
        "CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), ':',"
        " CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    rep = x.select(
        "o_orderkey",
        "cents",
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"),
    ).select("b", "cents", F.expr(_pois_case(h)).alias("m"))
    means = rep.groupBy("b").agg(
        F.expr(
            "CAST(CAST(SUM(m * cents) AS DECIMAL(38,0))"
            " DIV NULLIF(SUM(m), 0) AS BIGINT)"
        ).alias("mean_cents")
    )
    ranked = means.select(
        "mean_cents",
        F.row_number().over(Window.orderBy("mean_cents", "b")).alias("rn"),
    )
    point = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(CAST(SUM(cents) AS DECIMAL(38,0))"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("point_mean_cents"),
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("n_orders", "point_mean_cents")
        .agg(
            F.min(
                F.when(F.col("rn") == _BOOT_LO_RN, F.col("mean_cents"))
            ).cast("bigint").alias("ci_lo_cents"),
            F.min(
                F.when(F.col("rn") == _BOOT_HI_RN, F.col("mean_cents"))
            ).cast("bigint").alias("ci_hi_cents"),
        )
        .select(
            "n_orders",
            F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
            "point_mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )


@register(
    "q_stat_auc_roc",
    oracle="""
    WITH p AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    g AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM p GROUP BY s
    ),
    w AS (
        SELECT s, cnt, pos,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb
        FROM g
    ),
    t AS (
        SELECT CAST(SUM(pos) AS HUGEINT) AS n1,
               CAST(SUM(cnt - pos) AS HUGEINT) AS n0,
               CAST(SUM(pos * (2 * cb + cnt + 1)) AS HUGEINT) AS r2
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_neg,
           CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
               ((r2 - n1 * (n1 + 1)) * 1000000) // (2 * n1 * n0)
           END AS BIGINT) AS auc_e6,
           CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
               2 * (((r2 - n1 * (n1 + 1)) * 1000000) // (2 * n1 * n0))
               - 1000000
           END AS BIGINT) AS gini_e6
    FROM t
    """,
)
def q_stat_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of `value` as a score for the purchase outcome — the
    rank-sum (Mann–Whitney) identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀)
    with midrank tie handling, the standard offline-eval metric for
    any ranking/classifier score. Everything is an exact rational in
    integer cents-counts: per distinct score the tied group's doubled
    rank-sum contribution is pos·(2·before + cnt + 1), so 2R₁ is an
    exact bigint and AUC_e6 one engine-identical floored division.
    gini_e6 = 2·AUC_e6 − 1e6 is plain integer arithmetic (can be
    negative; no signed division anywhere).

    Headroom: 2R₁ ≤ 2·n₁·N and the e6 product run in
    DECIMAL(38,0)/HUGEINT — safe to N ≈ 1e15 rows, far past 100 TB.

    Plan: ONE map-combined groupBy collapses the corpus to |distinct
    cents| rows; the rank window and final reduction run on that tiny
    score relation — the chisq skeleton with a rank window instead of
    marginals."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.round(F.col("value") * 100).cast("bigint").alias("s"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    g = p.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = g.select(
        "s",
        "cnt",
        "pos",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint").alias("cb"),
    )
    d38 = "decimal(38,0)"
    t = w.agg(
        F.sum("pos").cast(d38).alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast(d38).alias("n0"),
        F.sum(F.col("pos") * (2 * F.col("cb") + F.col("cnt") + 1))
        .cast(d38)
        .alias("r2"),
    )
    auc = "((r2 - n1 * (n1 + 1)) * 1000000) DIV (2 * n1 * n0)"
    return t.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.expr(
            f"CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN {auc} END AS BIGINT)"
        ).alias("auc_e6"),
        F.expr(
            f"CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN 2 * ({auc}) - 1000000"
            " END AS BIGINT)"
        ).alias("gini_e6"),
    )


@register(
    "q_stat_calibration",
    oracle="""
    WITH p AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT s // 1000 AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST((CAST(SUM(s) AS HUGEINT) * 10000) // COUNT(*) AS BIGINT)
               AS mean_score_e6,
           CAST((CAST(SUM(y) AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT)
               AS pos_rate_ppm
    FROM p GROUP BY 1 ORDER BY 1
    """,
)
def q_stat_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table for `value` as a purchase
    score: fixed-width score bins (10 original units = 1000 cents)
    with per-bin support, mean score and observed positive rate — the
    table a reliability diagram plots and ECE sums. Exact integers
    end to end: mean_score_e6 = Σcents·1e4 DIV n (cents·1e4 = e6 of
    original units), rate in ppm; the e6 products run in
    DECIMAL(38,0)/HUGEINT for headroom to ~1e15 rows per bin.

    Plan: ONE map-combined groupBy on the derived bin key — the
    corpus collapses to |bins| rows before the only exchange; the
    sort is on that tiny relation."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.round(F.col("value") * 100).cast("bigint").alias("s"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    return (
        p.groupBy(F.expr("s DIV 1000").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr(
                "CAST((CAST(SUM(s) AS DECIMAL(38,0)) * 10000)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("mean_score_e6"),
            F.expr(
                "CAST((CAST(SUM(y) AS DECIMAL(38,0)) * 1000000)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("pos_rate_ppm"),
        )
        .orderBy("bin")
    )


# y of the day-of-week tables: the integer day number's weekday
# ((d+4) % 7, 1970-01-01 = Thursday → 0 = Monday), with no calendar or
# timezone function, so the ns-parquet/µs-Spark timestamp gap cannot
# leak in. _DOW_SQL is the DuckDB mirror.
_DOW = f"(unix_micros(ts) DIV {_US_PER_DAY} + 4) % 7"
_DOW_SQL = f"(epoch_us(ts) // {_US_PER_DAY} + 4) % 7"


@register(
    "q_stat_mutual_info",
    oracle=f"""
    WITH {_contingency_sql(("event_type", "ts"), "event_type", _DOW_SQL)},
    cells AS (
        SELECT x, y, obs,
               CAST(floor(ln(CAST(obs AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))
                    * 1000000 + 0.5) AS BIGINT) AS pmi_e6,
               n
        FROM tot
    )
    SELECT x, y, obs, pmi_e6,
           CAST(CAST(SUM(CAST(obs AS HUGEINT) * pmi_e6) OVER () AS HUGEINT)
                // n AS BIGINT) AS mi_e6
    FROM cells
    """,
)
def q_stat_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week — the
    dependence screen a feature-selection / leakage audit runs over
    categorical pairs. Emits every contingency cell with its
    pointwise mutual information (pmi_e6) plus the corpus MI
    (MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), reported as mi_e6 =
    Σ obs·pmi_e6 DIV n — an exact integer once each cell's single
    DOUBLE ln is floor-pinned to e6, the chisq discipline: identical
    expression shape on both engines, obs·n and r·c stay < 2^53 so
    the only rounding is the ln itself).

    Plan: the day-of-week _contingency cell table (≤ |types|·7 cells);
    the MI reduction runs on it."""
    tot = _contingency(
        spark, sf_dir, ("event_type", "ts"), "event_type", _DOW
    )
    cells = tot.select(
        "x",
        "y",
        "obs",
        F.expr(
            "CAST(floor(ln(CAST(obs AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("pmi_e6"),
        "n",
    )
    return cells.select(
        "x",
        "y",
        "obs",
        "pmi_e6",
        F.expr(
            "CAST(CAST(SUM(CAST(obs AS DECIMAL(38,0)) * pmi_e6) OVER ()"
            " AS DECIMAL(38,0)) DIV n AS BIGINT)"
        ).alias("mi_e6"),
    )


@register(
    "q_stat_cramers_v",
    oracle=f"""
    WITH {_contingency_sql(("user_id", "ts"), "user_id % 4", _DOW_SQL)},
    cells AS (
        SELECT obs, n,
               CAST(floor(
                   (obs - CAST(r AS DOUBLE) * c / n)
                   * (obs - CAST(r AS DOUBLE) * c / n)
                   / (CAST(r AS DOUBLE) * c / n)
                   * 1000000 + 0.5) AS BIGINT) AS term_ppm
        FROM tot
    ),
    dims AS (
        SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT y) AS BIGINT) AS nc
        FROM obs
    )
    SELECT CAST(MAX(c.n) AS BIGINT) AS n,
           d.nr AS n_rows_dim,
           d.nc AS n_cols_dim,
           CAST(SUM(c.term_ppm) AS BIGINT) AS chisq_ppm,
           CAST(SUM(c.term_ppm)
                // (MAX(c.n) * (least(d.nr, d.nc) - 1)) AS BIGINT)
               AS v2_ppm
    FROM cells c CROSS JOIN dims d
    GROUP BY d.nr, d.nc
    """,
)
def q_stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (squared, ppm) for the user-cohort × day-of-week
    contingency table: V² = χ²/(N·(min(r,c)−1)) — the normalized
    [0,1] effect size that makes chi-square comparable across table
    shapes, the standard categorical-association report next to
    q_stat_chisq's raw statistic. Per-cell terms are the chisq
    discipline (single DOUBLE expression, floor-pinned to ppm before
    any cross-row sum); the normalization is one engine-identical
    integer division by N·(min dims − 1).

    Plan: the day-of-week _contingency cell table (≤ 4·7 cells) and the
    scalar reduction on it; the dims relation is a 1-row staple joined
    by broadcast cross."""
    tot = _contingency(spark, sf_dir, ("user_id", "ts"), "user_id % 4", _DOW)
    cells = tot.select(
        "obs",
        "n",
        F.expr(
            "cast(floor("
            " (obs - cast(r as double) * c / n)"
            " * (obs - cast(r as double) * c / n)"
            " / (cast(r as double) * c / n)"
            " * 1000000 + 0.5) as bigint)"
        ).alias("term_ppm"),
    )
    dims = tot.select("x", "y", "obs").agg(
        F.countDistinct("x").cast("bigint").alias("nr"),
        F.countDistinct("y").cast("bigint").alias("nc"),
    )
    return (
        cells.crossJoin(F.broadcast(dims))
        .groupBy("nr", "nc")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.sum("term_ppm").cast("bigint").alias("chisq_ppm"),
            F.expr(
                "CAST(SUM(term_ppm) DIV (MAX(n) * (least(nr, nc) - 1))"
                " AS BIGINT)"
            ).alias("v2_ppm"),
        )
        .select(
            "n",
            F.col("nr").alias("n_rows_dim"),
            F.col("nc").alias("n_cols_dim"),
            "chisq_ppm",
            "v2_ppm",
        )
    )


@register(
    "q_stat_wilcoxon_signed_rank",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
          AND event_type IN ('view', 'purchase')
    ),
    u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN x END) AS BIGINT) AS sv,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS nv,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN x END) AS BIGINT) AS sp,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS np
        FROM e GROUP BY user_id
        HAVING COUNT(CASE WHEN event_type = 'view' THEN 1 END) > 0
           AND COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
    ),
    d AS (
        SELECT sv // nv - sp // np AS diff FROM u
        WHERE sv // nv - sp // np <> 0
    ),
    g AS (
        SELECT abs(diff) AS ad,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(CASE WHEN diff > 0 THEN 1 END) AS BIGINT) AS pos
        FROM d GROUP BY 1
    ),
    w AS (
        SELECT ad, cnt, pos,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb
        FROM g
    ),
    t AS (
        SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
               CAST(SUM(pos * (2 * cb + cnt + 1)) AS HUGEINT) AS w2p,
               CAST(SUM((cnt * cnt * cnt - cnt) / 2) AS HUGEINT) AS ties
        FROM w
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(w2p AS BIGINT) AS w2_plus,
           CAST(CASE WHEN n >= 2
                      AND n * (n + 1) * (2 * n + 1) - ties > 0 THEN
               ((w2p - n * (n + 1) // 2) * (w2p - n * (n + 1) // 2)
                * 6000000)
               // (n * (n + 1) * (2 * n + 1) - ties)
           END AS BIGINT) AS z2_e6,
           CASE WHEN n >= 2 AND n * (n + 1) * (2 * n + 1) - ties > 0 THEN
               ((w2p - n * (n + 1) // 2) * (w2p - n * (n + 1) // 2)
                * 6000000)
               // (n * (n + 1) * (2 * n + 1) - ties) >= 3841459
           END AS significant
    FROM t
    """,
)
def q_stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-user means (view cents
    vs purchase cents, users with both) — the nonparametric paired
    companion to q_stat_ttest_welch (unpaired parametric) and
    q_stat_mannwhitney (unpaired ranks). Pinned exact semantics: the
    pair difference is the FLOORED per-user mean gap in cents
    (sv DIV nv − sp DIV np, engine-identical truncation), zero
    differences drop (standard), |d| ranks use midranks carried ×2
    (the AUC doubled-rank trick: a tied group at cumulative offset cb
    contributes 2·cb + cnt + 1 per member), so W2⁺ = 2·W⁺ is an exact
    bigint. Significance is the tie-corrected normal approximation as
    one exact rational: z² = (W2⁺ − n(n+1)/2)²·6 / (n(n+1)(2n+1) −
    Σ(t³−t)/2), e6-floored, gated on chi²(1) 0.05 (the module's
    df→∞ convention). t³−t is divisible by 2 (three consecutive
    integers), so the tie term is exact. Headroom: the squared
    numerator ×6e6 runs in DECIMAL(38,0)/HUGEINT — safe past n ≈ 1e7
    pairs.

    Plan: one map-combined per-user pivot aggregate (corpus → |users|
    rows), one map-combined |d|-group aggregate, a rank window over
    |distinct gaps| rows, single-row algebra — the chisq/AUC skeleton."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    u = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", F.col("x")))
            .cast("bigint")
            .alias("sv"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("bigint")
            .alias("nv"),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("x")))
            .cast("bigint")
            .alias("sp"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("np"),
        )
        .filter((F.col("nv") > 0) & (F.col("np") > 0))
    )
    d = u.select(F.expr("sv DIV nv - sp DIV np").alias("diff")).filter(
        F.col("diff") != 0
    )
    g = d.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.count(F.when(F.col("diff") > 0, 1)).cast("bigint").alias("pos"),
    )
    w = g.select(
        "ad",
        "cnt",
        "pos",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint").alias("cb"),
    )
    d38 = "decimal(38,0)"
    t = w.agg(
        F.sum("cnt").cast(d38).alias("n"),
        F.sum(F.col("pos") * (2 * F.col("cb") + F.col("cnt") + 1))
        .cast(d38)
        .alias("w2p"),
        F.sum(F.expr("(cnt * cnt * cnt - cnt) DIV 2")).cast(d38).alias("ties"),
    )
    z2 = (
        "((w2p - n * (n + 1) DIV 2) * (w2p - n * (n + 1) DIV 2) * 6000000)"
        " DIV (n * (n + 1) * (2 * n + 1) - ties)"
    )
    guard = "n >= 2 AND n * (n + 1) * (2 * n + 1) - ties > 0"
    return t.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("w2p").cast("bigint").alias("w2_plus"),
        F.expr(f"CAST(CASE WHEN {guard} THEN {z2} END AS BIGINT)").alias("z2_e6"),
        F.expr(f"CASE WHEN {guard} THEN {z2} >= 3841459 END").alias("significant"),
    )


@register(
    "q_stat_theil_u",
    oracle=f"""
    WITH {_contingency_sql(("event_type", "ts"), "event_type", _DOW_SQL)},
    mi AS (
        SELECT CAST(CAST(SUM(CAST(obs AS HUGEINT)
                   * CAST(floor(ln(CAST(obs AS DOUBLE) * n
                                   / (CAST(r AS DOUBLE) * c))
                          * 1000000 + 0.5) AS BIGINT)) AS HUGEINT)
                   // MAX(n) AS BIGINT) AS mi_e6,
               CAST(MAX(n) AS BIGINT) AS n
        FROM tot
    ),
    hx AS (
        SELECT CAST(CAST(SUM(CAST(r AS HUGEINT)
                   * CAST(floor(ln(CAST(n AS DOUBLE) / r)
                          * 1000000 + 0.5) AS BIGINT)) AS HUGEINT)
                   // MAX(n) AS BIGINT) AS hx_e6
        FROM (SELECT DISTINCT x, r, n FROM tot)
    )
    SELECT mi.n, mi.mi_e6, hx.hx_e6,
           CAST(CASE WHEN hx.hx_e6 > 0 THEN
               (CAST(mi.mi_e6 AS HUGEINT) * 1000000) // hx.hx_e6
           END AS BIGINT) AS theil_u_ppm
    FROM mi CROSS JOIN hx
    """,
)
def q_stat_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(X|Y) = MI(X,Y)/H(X) for
    event type given day-of-week — the NORMALIZED [0,1] dependence
    measure (q_stat_mutual_info's MI in nats is scale-bound to the
    entropies; U answers "what fraction of event-type uncertainty
    does the weekday explain"). Same cell machinery and e6 ln pinning
    as mutual_info/chisq: MI and H(X) are exact integer reductions of
    floor-pinned per-cell/per-row logs, and the final ratio is one
    engine-identical integer division in HUGEINT/DECIMAL(38,0).

    Plan: the day-of-week _contingency cell table of
    q_stat_mutual_info, then single-row algebra."""
    tot = _contingency(
        spark, sf_dir, ("event_type", "ts"), "event_type", _DOW
    )
    d38 = "decimal(38,0)"
    mi = tot.agg(
        F.expr(
            "CAST(CAST(SUM(CAST(obs AS DECIMAL(38,0))"
            " * CAST(floor(ln(CAST(obs AS DOUBLE) * n"
            " / (CAST(r AS DOUBLE) * c)) * 1000000 + 0.5) AS BIGINT))"
            f" AS {d38}) DIV MAX(n) AS BIGINT)"
        ).alias("mi_e6"),
        F.max("n").cast("bigint").alias("n"),
    )
    hx = (
        tot.select("x", "r", "n")
        .distinct()
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(r AS DECIMAL(38,0))"
                " * CAST(floor(ln(CAST(n AS DOUBLE) / r) * 1000000 + 0.5)"
                f" AS BIGINT)) AS {d38}) DIV MAX(n) AS BIGINT)"
            ).alias("hx_e6")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .select(
            "n",
            "mi_e6",
            "hx_e6",
            F.expr(
                "CAST(CASE WHEN hx_e6 > 0 THEN"
                " (CAST(mi_e6 AS DECIMAL(38,0)) * 1000000) DIV hx_e6"
                " END AS BIGINT)"
            ).alias("theil_u_ppm"),
        )
    )


def _parity_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, hit): every event with `user_id` and `event_type` set,
    variant its user's parity cohort (user_id % 2) and hit 1 for a
    purchase, else 0 — the two-arm conversion sample of the A/B
    tests. _PARITY_HITS_CTE is the DuckDB mirror."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
        )
    )


# DuckDB CTE `e(variant, hit)`: the SQL twin of _parity_hits.
_PARITY_HITS_CTE = """e AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    )"""


@register(
    "q_stat_prop_ztest",
    oracle=f"""
    WITH {_PARITY_HITS_CTE},
    g AS (
        SELECT variant,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(hit) AS HUGEINT) AS x
        FROM e GROUP BY variant
    ),
    p AS (
        SELECT a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2
        FROM g a JOIN g b ON a.variant = 0 AND b.variant = 1
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
           CAST((x1 * 1000000) // n1 AS BIGINT) AS p1_ppm,
           CAST((x2 * 1000000) // n2 AS BIGINT) AS p2_ppm,
           CAST(CASE WHEN x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN
               ((x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1)
                * (n1 + n2) * 1000000)
               // ((x1 + x2) * (n1 + n2 - x1 - x2) * n1 * n2)
           END AS BIGINT) AS z2_e6,
           CASE WHEN x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN
               ((x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1)
                * (n1 + n2) * 1000000)
               // ((x1 + x2) * (n1 + n2 - x1 - x2) * n1 * n2)
               >= 3841459
           END AS significant
    FROM p
    """,
)
def q_stat_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase rates between the user-parity
    cohorts — THE A/B-test primitive for conversion metrics
    (q_stat_chisq generalizes to k×m tables; this is the canonical
    two-arm form with its pooled-variance z). Everything is one exact
    rational: z² = (x₁n₂ − x₂n₁)²·(n₁+n₂) / ((x₁+x₂)(n₁+n₂−x₁−x₂)·
    n₁n₂) — multiplied through so no per-arm division ever happens —
    e6-floored in HUGEINT/DECIMAL(38,0) (numerator ≤ (n₁n₂)²·N·1e6,
    safe to ~1e7 rows/cohort; the quotient itself is z²-sized, so the
    round-10 DIV-wrap rule is satisfied without _dfloor). Degenerate
    pools (all or no successes) → NULL. Significance gates on
    chi²(1) = z² at 0.05, the module's shared convention.

    Plan: the chisq skeleton — ONE map-combined cohort aggregate is
    the only corpus-sized exchange; the rest is a 2-row self-join and
    scalar algebra."""
    d38 = "decimal(38,0)"
    g = _parity_hits(spark, sf_dir).groupBy("variant").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("hit").cast(d38).alias("x"),
    )
    a = g.filter(F.col("variant") == 0).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    b = g.filter(F.col("variant") == 1).select(
        F.col("n").alias("n2"), F.col("x").alias("x2")
    )
    p = a.crossJoin(b)
    z2 = (
        "((x1 * n2 - x2 * n1) * (x1 * n2 - x2 * n1) * (n1 + n2) * 1000000)"
        " DIV ((x1 + x2) * (n1 + n2 - x1 - x2) * n1 * n2)"
    )
    guard = "x1 + x2 > 0 AND x1 + x2 < n1 + n2"
    return p.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("x1").cast("bigint").alias("x1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("x2").cast("bigint").alias("x2"),
        F.expr("CAST((x1 * 1000000) DIV n1 AS BIGINT)").alias("p1_ppm"),
        F.expr("CAST((x2 * 1000000) DIV n2 AS BIGINT)").alias("p2_ppm"),
        F.expr(f"CAST(CASE WHEN {guard} THEN {z2} END AS BIGINT)").alias("z2_e6"),
        F.expr(f"CASE WHEN {guard} THEN {z2} >= 3841459 END").alias("significant"),
    )


@register(
    "q_stat_odds_ratio",
    oracle=f"""
    WITH {_PARITY_HITS_CTE},
    g AS (
        SELECT variant,
               CAST(SUM(hit) AS HUGEINT) AS a,
               CAST(COUNT(*) - SUM(hit) AS HUGEINT) AS b
        FROM e GROUP BY variant
    ),
    p AS (
        SELECT x.a AS a, x.b AS b, z.a AS c, z.b AS d
        FROM g x JOIN g z ON x.variant = 0 AND z.variant = 1
    )
    SELECT CAST(a AS BIGINT) AS n11, CAST(b AS BIGINT) AS n10,
           CAST(c AS BIGINT) AS n01, CAST(d AS BIGINT) AS n00,
           CAST(CASE WHEN b * c > 0 THEN (a * d * 1000000) // (b * c)
                END AS BIGINT) AS odds_ratio_ppm,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
               CAST(floor(ln(CAST(a AS DOUBLE) * d
                             / (CAST(b AS DOUBLE) * c))
                    * 1000000 + 0.5) AS BIGINT)
           END AS ln_or_e6
    FROM p
    """,
)
def q_stat_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of purchasing between the user-parity cohorts — the
    effect-size companion to q_stat_prop_ztest's significance (OR is
    what a logistic-regression coefficient exponentiates to, and the
    measure case-control analyses report). OR_ppm = (ad·1e6) DIV (bc)
    is one exact floored rational in HUGEINT/DECIMAL(38,0); ln(OR) —
    the symmetric, CI-friendly form — is the module's single-DOUBLE
    e6 pin (chisq discipline: the ratio composed as double(a)·d /
    (double(b)·c), identical shape both engines). Zero cells → NULL
    (the textbook undefined case; a Haldane +½ correction would break
    exactness for no analytical gain here).

    Plan: the prop_ztest skeleton — one map-combined cohort pivot,
    then 1×1 algebra."""
    d38 = "decimal(38,0)"
    g = _parity_hits(spark, sf_dir).groupBy("variant").agg(
        F.sum("hit").cast(d38).alias("a"),
        (F.count(F.lit(1)) - F.sum("hit")).cast(d38).alias("b"),
    )
    x = g.filter(F.col("variant") == 0).select(
        F.col("a").alias("a"), F.col("b").alias("b")
    )
    z = g.filter(F.col("variant") == 1).select(
        F.col("a").alias("c"), F.col("b").alias("d")
    )
    p = x.crossJoin(z)
    return p.select(
        F.col("a").cast("bigint").alias("n11"),
        F.col("b").cast("bigint").alias("n10"),
        F.col("c").cast("bigint").alias("n01"),
        F.col("d").cast("bigint").alias("n00"),
        F.expr(
            "CAST(CASE WHEN b * c > 0 THEN (a * d * 1000000) DIV (b * c)"
            " END AS BIGINT)"
        ).alias("odds_ratio_ppm"),
        F.expr(
            "CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN"
            " CAST(floor(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))"
            " * 1000000 + 0.5) AS BIGINT) END"
        ).alias("ln_or_e6"),
    )


@register(
    "q_stat_gtest",
    oracle=f"""
    WITH {_contingency_sql(*_AB_CELLS)},
    cells AS (
        SELECT x AS variant, y AS outcome, obs,
               CAST(floor(ln(CAST(obs AS DOUBLE) * n
                             / (CAST(r AS DOUBLE) * c))
                    * 1000000 + 0.5) AS BIGINT) AS term_e6
        FROM tot
    )
    SELECT variant, outcome, obs, term_e6,
           CAST(2 * SUM(CAST(obs AS HUGEINT) * term_e6) OVER ()
                AS BIGINT) AS g_e6
    FROM cells
    """,
)
def q_stat_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio test) of independence on the same
    (user_id-parity variant x event_type) contingency table as
    q_stat_chisq: G = 2*sum O*ln(O*N/(R*C)). Where chi-square sums
    squared deviations, G sums scaled log-likelihood terms and
    PARTITIONS ADDITIVELY across table collapses - the property that
    lets an experimentation platform reconcile per-country G values
    against the pooled table, which chi-square cannot do. Emits each
    cell's observed count and e6 log-term plus the table-wide G.

    Cross-engine determinism: one DOUBLE ln per cell, argument
    composed identically on both engines (obs*n as DOUBLE over
    r AS DOUBLE * c - never two divisions), floor-pinned to e6 per
    the q_llm_charfreq_kl discipline; G is then 2*sum obs*term_e6 in
    exact integers (HUGEINT/DECIMAL(38,0) headroom: obs*|term| <
    1e9*2e7 per cell). A zero cell cannot occur in the output (obs
    rows exist only for observed combinations; the sparse-table
    convention 0*ln(0) = 0 is the SQL GROUP BY itself).

    Scale: identical to q_stat_chisq - one map-side-combined groupBy
    shrinks the event log to |variants| x |outcomes| cells; the
    marginal windows run over that tiny frame. At 100 TB the only
    cost is the counting shuffle."""
    tot = _contingency(spark, sf_dir, *_AB_CELLS)
    cells = tot.select(
        F.col("x").alias("variant"),
        F.col("y").alias("outcome"),
        "obs",
        F.expr(
            "CAST(floor(ln(CAST(obs AS DOUBLE) * n"
            " / (CAST(r AS DOUBLE) * c)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("term_e6"),
    )
    return cells.select(
        "variant",
        "outcome",
        "obs",
        "term_e6",
        F.expr(
            "CAST(2 * SUM(CAST(obs AS DECIMAL(38,0)) * term_e6)"
            " OVER () AS BIGINT)"
        ).alias("g_e6"),
    )


@register(
    "q_stat_friedman",
    oracle="""
    WITH cell AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS block,
               o_orderpriority AS treatment,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
          AND o_totalprice IS NOT NULL
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT block, treatment, v,
               2 * rank() OVER (PARTITION BY block ORDER BY v)
               + COUNT(*) OVER (PARTITION BY block, v) - 1 AS r2
        FROM cell
    ),
    rsum AS (
        SELECT treatment,
               CAST(SUM(r2) AS BIGINT) AS rank2_sum,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM ranked GROUP BY treatment
    ),
    dims AS (
        SELECT CAST(MAX(b) AS BIGINT) AS b,
               CAST(MIN(b) AS BIGINT) AS bmin,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(rank2_sum AS HUGEINT) * rank2_sum)
                    AS HUGEINT) AS sq,
               CAST((SELECT COUNT(DISTINCT block) FROM cell)
                    AS BIGINT) AS nb
        FROM rsum
    )
    SELECT r.treatment, r.rank2_sum,
           CAST(d.b AS BIGINT) AS n_blocks,
           CAST(d.k - 1 AS BIGINT) AS df,
           CAST(CASE WHEN d.bmin = d.b AND d.b = d.nb THEN
                3 * sq * 1000000 // (d.b * d.k * (d.k + 1))
                - 3 * d.b * (d.k + 1) * 1000000 END AS BIGINT) AS friedman_e6
    FROM rsum r CROSS JOIN dims d
    ORDER BY r.treatment
    """,
)
def q_stat_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the five order priorities earn
    systematically different monthly revenue across the twelve 1996
    blocks? The nonparametric repeated-measures ANOVA - rank the k=5
    treatments within each month-block, then
    chi2_F = 12/(b*k*(k+1)) * sum R_j^2 - 3*b*(k+1) on the per-
    treatment rank sums, df = k-1. Emits each treatment's (doubled)
    rank sum plus the shared statistic. The closed form requires a
    COMPLETE block design; if any treatment is missing from any
    block (per-treatment block counts disagree), friedman_e6 is NULL
    on both engines rather than a silently wrong value.

    Tie handling is exact midranks kept INTEGER by doubling:
    r2 = 2*rank + ties - 1 equals twice the average rank of a tied
    group (revenue-cent ties are then handled identically on both
    engines, not assumed away), and sum R_j^2 = sum (r2_j/2)^2 folds the
    /4 into the closed form: chi2_F = 3*sum r2_j^2/(b*k*(k+1)) -
    3*b*(k+1), all integer until the single e6 floor division
    (_dfloor; numerator 3*sq*1e6 is a sum of squares, non-negative).

    Scale: the cell table map-combines the order log to b*k = 60
    rows; ranks, rank sums, and the statistic all run on that frame.
    At 100 TB the only data-sized cost is the first groupBy - the
    classic giant-input/tiny-state shape (q_stat_survival_km
    family)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    cell = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("block"),
        F.col("o_orderpriority").alias("treatment"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    ranked = cell.select(
        "block",
        "treatment",
        "v",
        (
            2 * F.rank().over(Window.partitionBy("block").orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("block", "v"))
            - 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    rsum = ranked.groupBy("treatment").agg(
        F.sum("r2").cast("bigint").alias("rank2_sum"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    d38 = "DECIMAL(38,0)"
    dims = rsum.agg(
        F.max("b").cast("bigint").alias("b"),
        F.min("b").cast("bigint").alias("bmin"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.expr(f"CAST(rank2_sum AS {d38}) * rank2_sum"))
        .cast(d38)
        .alias("sq"),
    )
    nblocks = cell.agg(
        F.countDistinct("block").cast("bigint").alias("nb")
    )
    return (
        rsum.select("treatment", "rank2_sum")
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(nblocks))
        .select(
            "treatment",
            "rank2_sum",
            F.col("b").alias("n_blocks"),
            (F.col("k") - 1).cast("bigint").alias("df"),
            # Complete-block guard: the closed form assumes every
            # treatment appears in EVERY block. bmin = b alone only
            # proves EQUAL per-treatment block counts — rotating
            # absences (equal counts of different blocks) still pass
            # it while within-block k varies (round-13 ADVICE). The
            # added b = nb (nb = COUNT(DISTINCT block)) closes that:
            # equal counts + each treatment at most once per block +
            # count equal to the total block census ⇒ complete design.
            # Both engines emit NULL otherwise.
            F.expr(
                "CAST(CASE WHEN bmin = b AND b = nb THEN "
                + _dfloor(
                    f"3 * sq * 1000000",
                    f"CAST(b AS {d38}) * k * (k + 1)",
                )
                + f" - CAST(3 AS {d38}) * b * (k + 1) * 1000000 END"
                " AS BIGINT)"
            ).alias("friedman_e6"),
        )
        .orderBy("treatment")
    )


@register(
    "q_stat_wilson_ci",
    oracle=f"""
    WITH {_PARITY_HITS_CTE},
    agg AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(hit) AS BIGINT) AS x
        FROM e GROUP BY variant
    )
    SELECT variant, n, x,
           CAST(x * 1000000 // n AS BIGINT) AS rate_ppm,
           CAST(floor(
               ((CAST(x AS DOUBLE) / n + 3.8416 / (2.0 * n))
                / (1.0 + 3.8416 / n)
                - 1.96 * sqrt((CAST(x AS DOUBLE) / n)
                              * (1.0 - CAST(x AS DOUBLE) / n) / n
                              + 3.8416 / (4.0 * n * n))
                  / (1.0 + 3.8416 / n)) * 1000000 + 0.5) AS BIGINT)
               AS wilson_lo_e6,
           CAST(floor(
               ((CAST(x AS DOUBLE) / n + 3.8416 / (2.0 * n))
                / (1.0 + 3.8416 / n)
                + 1.96 * sqrt((CAST(x AS DOUBLE) / n)
                              * (1.0 - CAST(x AS DOUBLE) / n) / n
                              + 3.8416 / (4.0 * n * n))
                  / (1.0 + 3.8416 / n)) * 1000000 + 0.5) AS BIGINT)
               AS wilson_hi_e6
    FROM agg ORDER BY variant
    """,
)
def q_stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for each variant's purchase-through
    rate - the small-sample-correct CI an experimentation platform
    reports beside q_stat_prop_ztest's test decision (the normal
    interval collapses badly near 0/1 rates; Wilson inverts the score
    test instead). z = 1.96 and z^2 = 3.8416 are LITERALS embedded
    identically on both engines.

    Determinism note: unlike ln (platform libm, pinned per-cell
    elsewhere), sqrt is IEEE-754 CORRECTLY ROUNDED on every platform,
    so the whole interval is composed in DOUBLE with a single
    character-identical expression on both engines and floor-pinned
    to e6 only at the end - the one float pipeline in the repo that
    needs no intermediate pin, and the docstring says WHY.

    Plan: one map-combined groupBy collapses the event log to
    |variants| (n, x) pairs; the interval is per-row scalar algebra
    on that tiny frame. The counting shuffle is the query."""
    agg = _parity_hits(spark, sf_dir).groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hit").cast("bigint").alias("x"),
    )
    lo = (
        "CAST(floor(((CAST(x AS DOUBLE) / n + 3.8416 / (2.0 * n))"
        " / (1.0 + 3.8416 / n)"
        " - 1.96 * sqrt((CAST(x AS DOUBLE) / n)"
        " * (1.0 - CAST(x AS DOUBLE) / n) / n"
        " + 3.8416 / (4.0 * n * n)) / (1.0 + 3.8416 / n))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    hi = lo.replace("- 1.96 * sqrt", "+ 1.96 * sqrt")
    return agg.select(
        "variant",
        "n",
        "x",
        F.expr("CAST(x * 1000000 DIV n AS BIGINT)").alias("rate_ppm"),
        F.expr(lo).alias("wilson_lo_e6"),
        F.expr(hi).alias("wilson_hi_e6"),
    ).orderBy("variant")


@register(
    "q_stat_srm",
    oracle="""
    WITH e AS (
        SELECT user_id % 2 AS variant FROM events
        WHERE user_id IS NOT NULL
    ),
    obs AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n
        FROM e GROUP BY variant
    ),
    tot AS (
        SELECT variant, n, CAST(SUM(n) OVER () AS BIGINT) AS t
        FROM obs
    )
    SELECT variant, n, t,
           CAST(n * 1000000 // t AS BIGINT) AS share_ppm,
           CAST(floor(
               (n - t / 2.0) * (n - t / 2.0) / (t / 2.0)
               * 1000000 + 0.5) AS BIGINT) AS gof_term_e6,
           CAST(SUM(CAST(floor(
               (n - t / 2.0) * (n - t / 2.0) / (t / 2.0)
               * 1000000 + 0.5) AS BIGINT)) OVER () AS BIGINT)
               AS srm_chisq_e6,
           CAST(CASE WHEN SUM(CAST(floor(
                    (n - t / 2.0) * (n - t / 2.0) / (t / 2.0)
                    * 1000000 + 0.5) AS BIGINT)) OVER () > 3841459
                THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM tot ORDER BY variant
    """,
)
def q_stat_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-square goodness-of-fit of
    the observed variant split against the DESIGNED 50/50 allocation,
    df = 1, flagged at the 0.05 critical value 3.841459 (the
    ttest_welch literal). SRM is the first health check any A/B
    readout runs - q_stat_chisq tests outcome INDEPENDENCE given the
    split; this tests the split itself (a biased bucketing hash or
    logging loss shows up here before any metric can be trusted).

    Per-cell (O-E)^2/E is evaluated in DOUBLE with the same expression
    shape on both engines (E = t/2.0 exactly; the square as an
    explicit self-product) and floor-pinned to e6 per cell before the
    cross-cell sum - the q_stat_chisq discipline on the
    goodness-of-fit axis. The flag column makes the decision itself
    oracle-checked, not just the statistic.

    Plan: one map-combined groupBy collapses the event log to two
    (variant, n) rows; the marginal window and the algebra run on
    that frame. The counting shuffle is the query."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    obs = (
        ev.select((F.col("user_id") % 2).alias("variant"))
        .groupBy("variant")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = obs.select(
        "variant",
        "n",
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("t"),
    )
    term = (
        "CAST(floor((n - t / 2.0) * (n - t / 2.0) / (t / 2.0)"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    return tot.select(
        "variant",
        "n",
        "t",
        F.expr("CAST(n * 1000000 DIV t AS BIGINT)").alias("share_ppm"),
        F.expr(term).alias("gof_term_e6"),
        F.expr(f"CAST(SUM({term}) OVER () AS BIGINT)").alias("srm_chisq_e6"),
        F.expr(
            f"CAST(CASE WHEN SUM({term}) OVER () > 3841459"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_flag"),
    ).orderBy("variant")


@register(
    "q_stat_cuped",
    oracle="""
    WITH e AS (
        SELECT user_id % 2 AS variant, user_id,
               CASE WHEN ts <  TIMESTAMP '2024-01-16'
                    THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END AS xv,
               CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(round(value * 10000) AS BIGINT) ELSE 0 END AS yv
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    ),
    u AS (
        SELECT variant, user_id,
               CAST(SUM(xv) AS BIGINT) AS x, CAST(SUM(yv) AS BIGINT) AS y
        FROM e GROUP BY variant, user_id
    ),
    pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy_all,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM u
    ),
    v AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sxv,
               CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS syv
        FROM u GROUP BY variant
    )
    SELECT variant, n_users,
           CAST((syv - (((syv % n_users) + n_users) % n_users))
                // n_users AS BIGINT) AS mean_y_e4,
           CAST(CASE WHEN p.n * p.sxx - p.sx * p.sx > 0 THEN floor(
               CAST(p.n * p.sxy - p.sx * p.sy_all AS DOUBLE)
               / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
               * 1000000 + 0.5) END AS BIGINT) AS theta_e6,
           CAST(CASE WHEN p.n * p.sxx - p.sx * p.sx > 0 THEN floor(
               CAST(syv AS DOUBLE) / n_users
               - (CAST(p.n * p.sxy - p.sx * p.sy_all AS DOUBLE)
                  / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
                 * (CAST(sxv AS DOUBLE) / n_users
                    - CAST(p.sx AS DOUBLE) / p.n)
               + 0.5) END AS BIGINT) AS cuped_mean_e4
    FROM v CROSS JOIN pooled p
    ORDER BY variant
    """,
)
def q_stat_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013 - public
    method): per variant, the experiment metric's mean is adjusted by
    the pre-period covariate, Y_adj = Y - theta*(X - mean(X)), with
    theta = cov(X, Y)/var(X) POOLED across variants - the standard
    trick that removes between-user variance an A/B platform cannot
    randomize away. Here X = each user's pre-cutoff value sum and
    Y = the post-cutoff sum (cutoff 2024-01-16 splits the fixture's
    event month), both in exact e4 integer units; users are the
    randomization unit (variant = user_id % 2).

    Cross-engine determinism: every moment (n, Σx, Σx², Σxy, per-
    variant Σx, Σy) is an exact integer in DECIMAL(38,0)/HUGEINT;
    theta and the adjusted mean are then ONE identically-composed
    DOUBLE expression on both engines (exact integers cast to DOUBLE
    round-to-nearest identically), floor-pinned to e6/e4. var(X) = 0
    (degenerate pre-period) yields NULL theta and NULL adjusted mean
    on both engines - the totality rule. mean_y_e4 is a sign-safe
    exact floor (non-negative-remainder subtraction shared verbatim
    with the oracle, so Spark's truncating DIV and DuckDB's flooring
    // agree even if a variant's Y sum goes negative).

    Plan: one map-combined (variant, user) aggregate collapses the
    event log to one row per user; the pooled moments are a 1-row
    broadcast staple and the per-variant aggregate is 2 rows. At
    100 TB the only data-sized cost is the per-user groupBy - and X
    being derived IN the same pass means CUPED costs nothing beyond
    the metric query itself, which is the method's selling point."""
    cutoff = "TIMESTAMP '2024-01-16'"
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    u = (
        e.select(
            (F.col("user_id") % 2).alias("variant"),
            "user_id",
            F.expr(
                f"CASE WHEN ts < {cutoff} THEN"
                " CAST(round(value * 10000) AS BIGINT) ELSE 0L END"
            ).alias("xv"),
            F.expr(
                f"CASE WHEN ts >= {cutoff} THEN"
                " CAST(round(value * 10000) AS BIGINT) ELSE 0L END"
            ).alias("yv"),
        )
        .groupBy("variant", "user_id")
        .agg(
            F.sum("xv").cast("bigint").alias("x"),
            F.sum("yv").cast("bigint").alias("y"),
        )
    )
    d38 = "DECIMAL(38,0)"
    pooled = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr(f"CAST(x AS {d38})")).cast(d38).alias("sx"),
        F.sum(F.expr(f"CAST(y AS {d38})")).cast(d38).alias("sy_all"),
        F.sum(F.expr(f"CAST(x AS {d38}) * x")).cast(d38).alias("sxx"),
        F.sum(F.expr(f"CAST(x AS {d38}) * y")).cast(d38).alias("sxy"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.expr(f"CAST(x AS {d38})")).cast(d38).alias("sxv"),
        F.sum(F.expr(f"CAST(y AS {d38})")).cast(d38).alias("syv"),
    )
    theta = (
        "CAST(n * sxy - sx * sy_all AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE)"
    )
    return (
        v.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            "n_users",
            # Sign-safe floor shared with the oracle: Spark DIV
            # truncates toward zero while DuckDB // floors, so both
            # engines first subtract the non-negative remainder
            # (((syv % n) + n) % n) and divide the exact multiple —
            # identical for negative per-variant Y sums too, with no
            # reliance on the fixture's value > 0 (round-13 ADVICE).
            F.expr(
                "CAST((syv - (((syv % n_users) + n_users) % n_users))"
                " DIV n_users AS BIGINT)"
            ).alias("mean_y_e4"),
            F.expr(
                "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN"
                f" floor(({theta}) * 1000000 + 0.5) END AS BIGINT)"
            ).alias("theta_e6"),
            F.expr(
                "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN floor("
                "CAST(syv AS DOUBLE) / n_users"
                f" - ({theta})"
                " * (CAST(sxv AS DOUBLE) / n_users"
                "    - CAST(sx AS DOUBLE) / n)"
                " + 0.5) END AS BIGINT)"
            ).alias("cuped_mean_e4"),
        )
        .orderBy("variant")
    )


@register(
    "q_stat_power_mde",
    oracle="""
    WITH e AS (
        SELECT user_id % 2 AS variant, event_type
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    base AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS x0,
               CAST((SELECT COUNT(*) FROM e WHERE variant = 0)
                    AS BIGINT) AS n0
        FROM e GROUP BY event_type
    ),
    rates AS (
        SELECT event_type, x0, n0,
               CAST(x0 AS DOUBLE) / n0 AS p1,
               CASE WHEN 1.1 * (CAST(x0 AS DOUBLE) / n0) < 1.0
                    THEN 1.1 * (CAST(x0 AS DOUBLE) / n0) ELSE 1.0 END AS p2
        FROM base
    )
    SELECT event_type, x0, n0,
           CAST(floor(p1 * 1000000 + 0.5) AS BIGINT) AS p1_ppm,
           CAST(CASE WHEN p2 > p1 AND p2 < 1.0 THEN ceil(
               (1.959964 * sqrt(2.0 * ((p1 + p2) / 2.0)
                                * (1.0 - (p1 + p2) / 2.0))
                + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
               * (1.959964 * sqrt(2.0 * ((p1 + p2) / 2.0)
                                  * (1.0 - (p1 + p2) / 2.0))
                  + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
               / ((p2 - p1) * (p2 - p1))) END AS BIGINT) AS n_per_arm
    FROM rates ORDER BY event_type
    """,
)
def q_stat_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis: for each event type treated as
    the success metric, the required sample size PER ARM to detect a
    +10% relative lift over the observed control-arm base rate at
    alpha = 0.05 (two-sided) and power = 0.80 - the two-proportion
    z-test closed form n = (z_a*sqrt(2*pbar*(1-pbar)) +
    z_b*sqrt(p1(1-p1)+p2(1-p2)))^2 / (p2-p1)^2 every experimentation
    platform runs before launching (Fleiss et al.; z literals
    1.959964 / 0.841621 embedded identically on both engines).

    Cross-engine determinism: x0/n0 are exact integers; p1, p2 and
    the whole formula are ONE character-identical DOUBLE composition
    (sqrt is IEEE correctly-rounded - the q_stat_wilson_ci rule);
    the output is ceil() of that scalar, integer-exact unless the
    true value sits within one ulp of an integer (not the case on
    any fixture; documented hazard). Degenerate rates (p1 = 0 gives
    p2 = p1; p1 high enough that p2 clamps to 1) emit NULL - the
    totality rule.

    Plan: one map-combined count per (event_type) over the control
    arm plus a 1-row control-total staple - the event log collapses
    in the first exchange; everything downstream is |event types|
    rows of scalar algebra. At 100 TB the counting shuffle is the
    query."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select((F.col("user_id") % 2).alias("variant"), "event_type")
    base = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("x0")
    )
    n0 = e.filter(F.col("variant") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n0")
    )
    za, zb = "1.959964", "0.841621"
    p1 = "(CAST(x0 AS DOUBLE) / n0)"
    p2 = f"(CASE WHEN 1.1 * {p1} < 1.0 THEN 1.1 * {p1} ELSE 1.0 END)"
    pbar = f"(({p1} + {p2}) / 2.0)"
    root = (
        f"({za} * sqrt(2.0 * {pbar} * (1.0 - {pbar}))"
        f" + {zb} * sqrt({p1} * (1.0 - {p1}) + {p2} * (1.0 - {p2})))"
    )
    return (
        base.crossJoin(F.broadcast(n0))
        .select(
            "event_type",
            "x0",
            "n0",
            F.expr(
                f"CAST(floor({p1} * 1000000 + 0.5) AS BIGINT)"
            ).alias("p1_ppm"),
            F.expr(
                f"CAST(CASE WHEN {p2} > {p1} AND {p2} < 1.0 THEN"
                f" ceil({root} * {root}"
                f" / (({p2} - {p1}) * ({p2} - {p1}))) END AS BIGINT)"
            ).alias("n_per_arm"),
        )
        .orderBy("event_type")
    )


# Wald SPRT literals (α = β = 0.05, H0: p = 0.18 vs H1: p = 0.20 on
# the purchase-through rate): the ONLY log math runs here, once, in
# Python, and both engines consume identical e12 integers — the
# q_ir_ndcg/_RBO_W_CASE discipline.
_SPRT_P0, _SPRT_P1 = 0.18, 0.20
_SPRT_C1_E12 = round(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000_000_000)
_SPRT_C0_E12 = round(
    math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000_000_000
)
_SPRT_A_E12 = round(math.log(0.95 / 0.05) * 1_000_000_000_000)


@register(
    "q_stat_sprt",
    oracle=f"""
    WITH {_PARITY_HITS_CTE},
    agg AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(hit) AS BIGINT) AS x
        FROM e GROUP BY variant
    )
    SELECT variant, n, x,
           CAST(CAST(x AS HUGEINT) * {_SPRT_C1_E12}
                + CAST(n - x AS HUGEINT) * {_SPRT_C0_E12}
                AS HUGEINT) AS llr_e12,
           CASE WHEN CAST(x AS HUGEINT) * {_SPRT_C1_E12}
                     + CAST(n - x AS HUGEINT) * {_SPRT_C0_E12}
                     >= {_SPRT_A_E12} THEN 'accept_h1'
                WHEN CAST(x AS HUGEINT) * {_SPRT_C1_E12}
                     + CAST(n - x AS HUGEINT) * {_SPRT_C0_E12}
                     <= -{_SPRT_A_E12} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM agg ORDER BY variant
    """,
)
def q_stat_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (Wald, Ann. Math.
    Stat. 1945 — public method) on each variant's purchase-through
    rate: H0: p = 0.18 vs H1: p = 0.20 at α = β = 0.05. The Bernoulli
    log-likelihood ratio is LINEAR in the sufficient statistics —
    LLR = x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0)) — so the test that
    justifies PEEKING (apply the same decision rule at every n; Wald's
    boundaries ln((1−β)/α), ln(β/(1−α)) keep the total error
    probabilities) costs one map-combined count per variant. This
    query emits the decision at the CURRENT n; a monitoring platform
    re-runs it per batch and the always-valid guarantee is exactly
    that re-running never inflates α.

    Cross-engine determinism: the three logarithms are e12 integer
    LITERALS computed once in Python; llr_e12 = x·c1 + (n−x)·c0 is
    exact integer arithmetic in DECIMAL(38,0)/HUGEINT (x can be ~1e9
    at scale and |c| ~2e11 — BIGINT would overflow at ~4e7 rows, the
    q_stat_levene lesson), and the boundary comparison is integer vs
    literal. No float crosses an engine boundary.

    Plan: one map-combined groupBy over the event log (2 rows out) —
    the giant-input/tiny-state shape; at 100 TB the test costs one
    scan and the LLR algebra is free."""
    d38 = "DECIMAL(38,0)"
    agg = _parity_hits(spark, sf_dir).groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hit").cast("bigint").alias("x"),
    )
    llr = (
        f"CAST(x AS {d38}) * {_SPRT_C1_E12}"
        f" + CAST(n - x AS {d38}) * {_SPRT_C0_E12}"
    )
    return agg.select(
        "variant",
        "n",
        "x",
        F.expr(f"CAST({llr} AS {d38})").alias("llr_e12"),
        F.expr(
            f"CASE WHEN {llr} >= {_SPRT_A_E12} THEN 'accept_h1'"
            f" WHEN {llr} <= -{_SPRT_A_E12} THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("decision"),
    ).orderBy("variant")
