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

# q_udf_cogroup hot-key census threshold: a key whose row count on
# either side exceeds this gets a 32-way salt before the pandas
# cogroup, bounding every task's frame. 100k rows ≈ a few MB of Arrow
# batch — comfortably one task — while the census keeps uniform
# fixtures (every key far below it) on the salt-0 single-group plan.
_COGROUP_HOT_ROWS = 100_000


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
    two-sided grouped UDF — each key's order history and event history
    arrive together as two pandas frames, the shape of reconciliation
    jobs (ledger vs activity) where neither side's aggregate alone
    suffices. Keys present on either side are emitted (cogroup is a
    full-outer alignment).

    TWO-PHASE under skew (round 14, VERDICT r13 item 2): the
    reconciliation here is a commutative-monoid fold (counts + integer
    sums), so the cogroup can run on a SUB-KEYED grain and merge
    per-key afterward. A map-combined census counts rows per key on
    each side; keys above _COGROUP_HOT_ROWS on either side get a
    content-deterministic 32-way salt (pmod of o_orderkey/event_id —
    stable across retries, unlike rand()), all other keys salt 0 so
    the uniform-data plan pays only the census. The pandas stage then
    emits per-(key, salt) PARTIALS — every task's frame is bounded by
    max(_COGROUP_HOT_ROWS, rows/32) even when one key holds 20% of a
    side (the round-13 measured 1.31× straggler) — and a tiny JVM
    groupBy merges ≤ 32 partial rows per key exactly (integer
    cents/1e-4 units end-to-end, so the merge is associative and the
    SQL oracle is unchanged). Non-decomposable cogroup logic (true
    sequence alignment) cannot take this rewrite and keeps the
    documented per-key bound — that contract lives here, in the one
    query that demonstrates the operator.

    Plan: two map-combined census aggs (tiny output, broadcast), both
    sides shuffle ONCE on (key, salt) into a single Arrow-batched
    FlatMapCoGroupsInPandas, one hash-agg merge. At 100 TB this is
    still two co-partitioned data-sized exchanges and no join.

    The (key, salt) exchange is a USER-SPECIFIED repartition, not the
    cogroup's implicit one, and that is load-bearing (measured, round
    14): AQE's byte-based partition coalescing saw the collapsed
    keyed rows as "small" and merged the pandas stage down to ~one
    task — but this operator's cost is ~1 ms of Python per GROUP, not
    bytes, so coalescing serialized 15k groups (28.6 s at sf0.1;
    3.1 s with coalescing off). A repartition with an explicit
    partition count is exempt from AQE coalescing and satisfies the
    cogroup's ClusteredDistribution, so the implicit exchange is
    elided and parallelism is pinned at spark.sql.shuffle.partitions
    (2.4 s warm — 7× off the coalesced wall, same result). The rule
    generalizes: byte heuristics undersize any Python-cost-dominated
    stage; pin its width explicitly."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("v_e4"),
    )

    hot = (
        o.groupBy(F.col("o_custkey").alias("hk"))
        .agg(F.count(F.lit(1)).alias("c"))
        .unionByName(
            e.groupBy(F.col("user_id").alias("hk")).agg(
                F.count(F.lit(1)).alias("c")
            )
        )
        .groupBy("hk")
        .agg(F.max("c").alias("c"))
        .filter(F.col("c") > _COGROUP_HOT_ROWS)
        .select("hk")
    )
    # NULL-key straggler bound (round 15, ADVICE): the == census join
    # never matches a NULL custkey/user_id, so a pathologically hot
    # NULL key would land all its rows in one pandas group. Rather
    # than a null-safe join (measured: eqNullSafe's composite hash key
    # taxed every probe row, ~22 → ~27 s at sf1.0), salt ALL NULL-key
    # rows unconditionally — NULL keys are anomaly rows, fanning even
    # a cold one across 32 salts adds ≤31 tiny groups and the merge
    # agg re-sums them; results are exact either way. coalesce(salt,0)
    # likewise covers a NULL orderkey/event_id on a salted row.
    os_ = o.join(
        F.broadcast(hot), o["o_custkey"] == hot["hk"], "left"
    ).select(
        "o_custkey",
        "price_c",
        F.when(
            F.col("hk").isNotNull() | F.col("o_custkey").isNull(),
            F.coalesce(F.pmod(F.col("o_orderkey"), F.lit(32)), F.lit(0)),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("salt"),
    )
    es_ = e.join(
        F.broadcast(hot), e["user_id"] == hot["hk"], "left"
    ).select(
        "user_id",
        "v_e4",
        F.when(
            F.col("hk").isNotNull() | F.col("user_id").isNull(),
            F.coalesce(F.pmod(F.col("event_id"), F.lit(32)), F.lit(0)),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("salt"),
    )

    def reconcile_partial(
        key, o_pdf: pd.DataFrame, e_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    # key[0] can be None on a NULL-key fixture; keep it a
                    # real NULL group (the merge agg preserves it).
                    "custkey": None if key[0] is None else int(key[0]),
                    "n_orders": len(o_pdf),
                    "spend_c": int(o_pdf["price_c"].sum()) if len(o_pdf) else 0,
                    "n_events": len(e_pdf),
                    "value_e4": int(e_pdf["v_e4"].sum()) if len(e_pdf) else 0,
                }
            ]
        )

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = (
        os_.repartition(nparts, "o_custkey", "salt")
        .groupBy("o_custkey", "salt")
        .cogroup(
            es_.repartition(nparts, "user_id", "salt").groupBy(
                "user_id", "salt"
            )
        )
        .applyInPandas(
            reconcile_partial,
            schema="custkey bigint, n_orders bigint, spend_c bigint,"
            " n_events bigint, value_e4 bigint",
        )
    )
    return partials.groupBy("custkey").agg(
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("spend_c").cast("bigint").alias("spend_c"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("value_e4").cast("bigint").alias("value_e4"),
    )


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
