"""UDF / UDAF / UDTF surface (SURVEY.md §2.2.H).

Python-in-the-data-path policy (the 100 TB posture): built-ins first;
when Python is unavoidable, Arrow-batched Pandas UDFs (`pandas_udf`,
`applyInPandas`) — never row-at-a-time UDFs in a hot path. The plain
Python UDF below exists to cover the API surface; its docstring is the
warning label.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import load_table


@register(
    "q_udf_python",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN 'none'
                WHEN l_discount < 0.05 THEN 'low'
                ELSE 'high' END AS disc_band
    FROM lineitem
    """,
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF (row-at-a-time; pickled per batch, ~100× slower
    than builtins — acceptable only off the hot path). Registered for
    SQL use as well (`spark.udf.register`)."""

    def band(d: float) -> str:
        if d == 0:
            return "none"
        return "low" if d < 0.05 else "high"

    band_udf = F.udf(band, "string")
    spark.udf.register("disc_band", band_udf)
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", band_udf("l_discount").alias("disc_band"))


@register(
    "q_udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS net_price
    FROM lineitem
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow-batched) pandas UDF — the sanctioned Python
    path: whole columns cross the JVM↔Python boundary as Arrow buffers,
    computed with numpy vector ops."""

    @pandas_udf("double")
    def net_price(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        # No .round() here: pandas rounds half-to-even, SQL ROUND rounds
        # half-away-from-zero — final rounding stays in the engine. The
        # engine rounds at 6dp because the product is exactly 6-decimal
        # (2+2+2 dp inputs): 4dp would sit on .5 boundaries where
        # Spark's (decimal-string) and DuckDB's (×10^n) ROUND diverge.
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(net_price("l_extendedprice", "l_discount", "l_tax"), 6).alias("net_price"),
    )


@register(
    "q_udaf_pandas",
    oracle="""
    -- group means via aggregate + join, not a whole-table window:
    -- bit-identical at sf0.01 and sf1.0 (A/B'd round 15) and ~50×
    -- cheaper at sf1.0 — this row was one of the sweep's oracle-tax
    -- leaders (r15 verdict item 7).
    WITH mm AS (
        SELECT l_returnflag, AVG(l_quantity) AS m
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ROUND(SUM(ABS(l.l_quantity - mm.m)), 4) AS abs_dev_sum,
           COUNT(*) AS n
    FROM lineitem l JOIN mm USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped UDAF via applyInPandas: per-group total absolute deviation
    from the group mean — a two-pass aggregate that needs the whole
    group, the legitimate use of the grouped-map path. Each group
    arrives as one pandas DataFrame (shuffle on the group key; groups
    must fit per-executor memory — fine for low-cardinality keys)."""

    def abs_dev(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        # Raw sum only — half-even Python rounding differs from SQL ROUND.
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "abs_dev_sum": [(q - q.mean()).abs().sum()],
                "n": [len(pdf)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    grouped = li.groupBy("l_returnflag").applyInPandas(
        abs_dev, schema="l_returnflag string, abs_dev_sum double, n long"
    )
    return grouped.select("l_returnflag", F.round("abs_dev_sum", 4).alias("abs_dev_sum"), "n")


@register(
    "q_udtf_python",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def q_udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark ≥3.5): tokenize document text, one row per
    token, consumed via LATERAL join in SQL."""

    @udtf(returnType="token: string")
    class SplitWords:
        def eval(self, text: str):
            for tok in text.split(" "):
                yield (tok,)

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.token FROM documents_udtf d, LATERAL split_words(d.text) t"
    )


@register(
    "q_udf_sql",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS total_net,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDF (Spark 4.0 CREATE FUNCTION ... RETURN <expr>): the
    declarative UDF path — the body is inlined into the plan by
    Catalyst, so unlike a Python UDF it stays inside codegen with zero
    JVM<->Python boundary; the right default for any expressible logic."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION fhcs_net_price(p DOUBLE, d DOUBLE, t DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)
        """
    )
    view = f"lineitem_sqludf_{abs(hash(sf_dir)) % 10**8}"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT l_returnflag,
               ROUND(SUM(fhcs_net_price(l_extendedprice, l_discount, l_tax)), 4) AS total_net,
               COUNT(*) AS n
        FROM {view}
        GROUP BY l_returnflag
        """
    )


def cogroup_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_udf_cogroup before its merge: each pandas call's per-key
    partial rows (k, kn = key IS NULL, side 0 orders / 1 events, and
    the four sums). A key has one row per (bucket, side) it reached."""
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def side(table: str, key: str, row_id: str, value: str, scale: int):
        return (
            load_table(spark, sf_dir, table)
            .select(
                F.coalesce(key, F.lit(0)).alias("k"),
                F.col(key).isNull().alias("kn"),
                F.coalesce(
                    F.round(F.col(value) * scale).cast("bigint"), F.lit(0)
                ).alias("v"),
                F.pmod(
                    F.xxhash64(key, F.pmod(row_id, F.lit(32))), F.lit(nparts)
                ).alias("bucket"),
            )
            .repartition(nparts, "bucket")
            .groupBy("bucket")
        )

    def reconcile_bucket(o_pdf: pd.DataFrame, e_pdf: pd.DataFrame) -> pd.DataFrame:
        def fold(pdf, n, s, tag):
            return pdf.groupby(["k", "kn"], sort=False)["v"].agg(
                **{n: "size", s: "sum"}
            ).assign(side=tag)

        return pd.concat(
            [
                fold(o_pdf, "n_orders", "spend_c", 0).assign(n_events=0, value_e4=0),
                fold(e_pdf, "n_events", "value_e4", 1).assign(n_orders=0, spend_c=0),
            ]
        ).reset_index()

    return (
        side("orders", "o_custkey", "o_orderkey", "o_totalprice", 100)
        .cogroup(side("events", "user_id", "event_id", "value", 10000))
        .applyInPandas(
            reconcile_bucket,
            schema="k bigint, kn boolean, side int, n_orders bigint,"
            " spend_c bigint, n_events bigint, value_e4 bigint",
        )
    )


@register(
    "q_udf_cogroup",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS k, COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT user_id AS k, COUNT(*) AS n_events,
               SUM(CAST(round(value * 10000) AS BIGINT)) AS value_e4
        FROM events GROUP BY 1
    )
    SELECT COALESCE(o.k, e.k) AS custkey,
           COALESCE(n_orders, 0) AS n_orders,
           CAST(COALESCE(spend_c, 0) AS BIGINT) AS spend_c,
           COALESCE(n_events, 0) AS n_events,
           CAST(COALESCE(value_e4, 0) AS BIGINT) AS value_e4
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def q_udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped map (`groupBy().cogroup().applyInPandas`): the
    two-sided grouped UDF. Each side's rows arrive together as two
    pandas frames, the shape of reconciliation jobs (ledger vs
    activity) where neither side's aggregate alone suffices. Keys
    present on either side are emitted (a full-outer alignment).

    Cost model: the operator makes one Python call per cogroup group,
    about 1 ms each, plus the pandas groupby work per row inside the
    call. Grouped by (key, salt) it would make 14,999 calls at sf0.1
    (15 s on 4 cores). So each side groups by a BUCKET in
    [0, P = shuffle.partitions), and the call folds its bucket with
    one pandas groupby per side: P calls in all, whatever the key
    count (1.4 s at sf0.1). The fold is a commutative monoid (counts
    plus integer cents and 1e-4 units), so the call emits per-key
    partials tagged with their side and one JVM aggregate merges them
    exactly.

    Frame bound: a call holds its whole bucket, about rows / P of each
    side, so on a cluster the partition count sizes the pandas frames.
    Every row carries a salt, pmod(o_orderkey or event_id, 32):
    content-deterministic, so stable across retries, unlike rand().
    The bucket is pmod(xxhash64(key, salt), P), so a hot key spreads
    over up to min(32, P) buckets instead of landing whole in one
    call, and the merge re-sums its partials (sf1.0 hot-key fixture,
    one user with 20% of events: 1.03× the uniform wall).
    Non-decomposable cogroup logic (true sequence alignment) cannot
    take this rewrite and must keep a per-key group.

    NULL keys: the oracle's FULL OUTER JOIN never matches NULL to
    NULL, so a NULL key yields one row per side that has it. Pandas
    would hand a NULL bigint over as float NaN, so the key crosses as
    (coalesce(key, 0), key IS NULL) and stays int64; the merge groups
    on (custkey, CASE WHEN custkey IS NULL THEN side END). NULL values
    count as rows and add 0, as COUNT(*) and COALESCE(SUM, 0) do.

    The bucket exchange is a USER-SPECIFIED repartition, not the
    cogroup's implicit one, and that is load-bearing (measured, round
    14): AQE's byte-based partition coalescing saw the collapsed
    keyed rows as "small" and merged the pandas stage down to ~one
    task, serializing its Python work (28.6 s at sf0.1; 3.1 s with
    coalescing off). A repartition with an explicit partition count
    is exempt from AQE coalescing and satisfies the cogroup's
    ClusteredDistribution, so the implicit exchange is elided and the
    width stays at spark.sql.shuffle.partitions. Byte heuristics
    undersize any Python-cost-dominated stage; pin its width."""
    return cogroup_partials(spark, sf_dir).groupBy(
        F.when(~F.col("kn"), F.col("k")).alias("custkey"),
        F.when(F.col("kn"), F.col("side")).alias("null_side"),
    ).agg(
        *[F.sum(c).alias(c) for c in ("n_orders", "spend_c", "n_events", "value_e4")]
    ).drop("null_side")


@register(
    "q_udf_sql_table",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    parts AS (
        SELECT o_orderkey, cents,
               unnest(generate_series(1, 4)) AS part_no
        FROM o
    )
    SELECT o_orderkey,
           CAST(part_no AS INT) AS part_no,
           CAST(cents // 4
                + CASE WHEN part_no = 1 THEN cents % 4 ELSE 0 END
                AS BIGINT) AS amount_cents
    FROM parts
    """,
)
def q_udf_sql_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table function (CREATE TEMPORARY FUNCTION … RETURNS TABLE)
    applied via LATERAL — an installment splitter that divides each
    order's total into 4 exact-integer parts, remainder on the first.
    This is the declarative UDTF surface: the function body is SQL, so
    Catalyst inlines it into the calling plan (codegen, pushdown —
    none of the Python UDTF's serialization wall, cf. q_udtf_python).

    The function is session-temporary and created idempotently; the
    LATERAL correlation is just an explode over a 4-element sequence,
    so the plan is one generate over the scan — no shuffle, no Python.
    """
    from fact_hive_custom_spark.tables import register_views

    register_views(spark, sf_dir, "orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION fhcs_split_payments(
            cents BIGINT, n_parts INT)
        RETURNS TABLE (part_no INT, amount_cents BIGINT)
        RETURN SELECT
            CAST(p AS INT) AS part_no,
            CAST(cents div n_parts
                 + CASE WHEN p = 1 THEN cents % n_parts ELSE 0 END
                 AS BIGINT) AS amount_cents
        FROM (SELECT explode(sequence(1, n_parts)) AS p)
        """
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, s.part_no, s.amount_cents
        FROM (SELECT o_orderkey,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders WHERE o_orderkey % 100 = 0) o,
             LATERAL fhcs_split_payments(o.cents, 4) s
        """
    )
