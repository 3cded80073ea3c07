"""Table catalog: the fixture star schema (FIXTURES.md).

`load_table` is the single scan entry point — every query goes through
it so scans stay uniform: `spark.read.schema(...).parquet` with the
schema taken from the file footer on the driver (`footer_schema`), so
planning a scan runs no Spark job, and the vectorized Parquet reader +
Catalyst still handle pushdown and pruning. `register_views` exposes
the same tables to `spark.sql` queries.

Relations that queries in several modules share are defined here
once, each as a Spark builder plus the DuckDB CTE fragment its
oracles use: the embeddings contract, the daily-cents series and the
int8 embedding grid.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def footer_schema(path: str) -> T.StructType:
    """The Spark schema of one parquet file, read from its footer on the
    driver: the names and types `spark.read.parquet` would infer, with
    no inference job. A directory (a table Spark wrote) is read from
    its first part file; its parts share one schema.

    Every field is nullable, as Spark's file sources make it anyway.
    Timestamps without a UTC flag map to TIMESTAMP_NTZ, as Spark infers
    them. A legacy INT96 column maps to TimestampType, as Spark infers
    it; pyarrow reports it as `timestamp[ns]`, and only the footer's
    physical type tells it apart. Any other `timestamp[ns]` column maps
    to LongType: Spark can read it only as long nanos, under
    `spark.sql.legacy.parquet.nanosAsLong`, which the readers of such a
    column set (`load_table`, streaming).

    One footer read per call, never cached, so a fixture rewritten in
    place is planned from its new footer at once.
    """
    import pyarrow.parquet as pq
    from pyarrow.types import is_timestamp
    from pyspark.sql.pandas.types import from_arrow_type

    if os.path.isdir(path):
        # names starting with "_" or "." are metadata, as Spark skips them
        parts = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
        if not parts:
            raise FileNotFoundError(f"no parquet part file in {path}")
        path = os.path.join(path, parts[0])

    footer = pq.read_metadata(path).schema
    # keyed by column path: a list column's leaf is not at its field index
    leaves = [footer.column(i) for i in range(len(footer))]
    physical = {c.path: c.physical_type for c in leaves}

    def spark_type(f) -> T.DataType:
        if physical.get(f.name) == "INT96":
            return T.TimestampType()
        if is_timestamp(f.type) and f.type.unit == "ns":
            return T.LongType()
        return from_arrow_type(f.type, prefer_timestamp_ntz=True)

    return T.StructType(
        [T.StructField(f.name, spark_type(f), True) for f in footer.to_arrow_schema()]
    )


def normalize_ts(df: DataFrame) -> DataFrame:
    """`events.ts` as a session-TZ TimestampType, from either encoding
    the fixture has shipped:

    - parquet timestamp[us]: Spark reads TIMESTAMP_NTZ (no UTC flag);
      with the session pinned to UTC, a cast to TimestampType is a
      bit-identical relabel and matches DuckDB's naive TIMESTAMP read.
    - parquet timestamp[ns]: Spark 4 refuses to read it as a timestamp
      (PARQUET_TYPE_ILLEGAL); it is read as long nanos
      (legacy.parquet.nanosAsLong) and microseconds are rebuilt.
      Integer `div` — `/` would promote int64 nanos to double and lose
      precision above 2^53, shifting some timestamps by 1 µs.
    """
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (columnar Parquet) with its footer schema.

    `events.ts` is normalized to a session-TZ TimestampType regardless
    of how the fixture encodes it (`normalize_ts`).

    The session timezone is pinned to UTC here (runtime conf) because
    queries may run under a caller-built session: TZ-dependent
    functions (unix_timestamp, epoch extraction) must agree with the
    UTC-naive oracle regardless of the host session's defaults.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(footer_schema(path)).parquet(path)
    return normalize_ts(df) if name == "events" else df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin `df` across the session's default parallelism IF its
    physical plan collapsed to fewer partitions — the guard that keeps
    compute-heavy map work (tokenize+shingle, K-fold md5 expansion,
    per-row hashing) off a single task when the source is one small
    parquet file with one row group (every local fixture: Spark cannot
    split inside a row group, so the scan and EVERYTHING up to the
    first exchange run serial no matter how many cores local[N] has —
    measured r16: the 8-vs-32-core ratio of the affected queries sat
    at ≈1.0).

    Scale-adaptive by construction (guide §2): at 100 TB a table scans
    as thousands of splits, the partition count is already ≥ cores,
    and this is an identity — no data-sized shuffle is ever added on a
    cluster. The round-robin (no key) avoids the hash-partition
    collision skew of a synthetic key and stays deterministic under
    retries via Spark's sort-before-repartition default.

    Always on: the r16 paired A/B against the identity decided it
    (q_stat_permutation_test 2.0× at 32 cores, 2.4× at 8 cores).
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the named fixture tables as temp views for a spark.sql
    query, which names the tables it reads.

    Registers afresh on every call: each view is a footer read and runs
    no job, and a fresh registration sees a fixture rewritten in place,
    which a memo of the last sf_dir would not.
    """
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000


def event_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, v): every event with `ts`, `value` and
    `event_type` set, d its UTC day number and v its value in whole
    cents. The rows `daily_cents` sums; EVENT_CENTS_SQL is the DuckDB
    mirror."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {_US_PER_DAY}").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
        )
    )


def daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, y): the daily-revenue series, y the exact cent
    sum of the type's events on day d. It is the one corpus-sized
    aggregate of the series queries (trend, drawdown, bands, forecast,
    runs); everything they do after it is bounded by the calendar, not
    by the row count. DAILY_CENTS_SQL is the DuckDB mirror."""
    return (
        event_cents(spark, sf_dir)
        .groupBy("event_type", "d")
        .agg(F.sum("v").cast("bigint").alias("y"))
    )


# DuckDB mirrors of event_cents (CTE `e`) and daily_cents (CTE `s`):
# substitute via `WITH {DAILY_CENTS_SQL}, ... FROM s`.
EVENT_CENTS_SQL = f"""e AS (
        SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS d,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL
    )"""
DAILY_CENTS_SQL = f"""{EVENT_CENTS_SQL},
    s AS (
        SELECT event_type, d, CAST(SUM(v) AS BIGINT) AS y
        FROM e GROUP BY 1, 2
    )"""


# DuckDB fragment enforcing the same contract as load_embeddings():
# substitute as a CTE via `WITH emb AS ({EMB_CONTRACT_SQL}) ... FROM emb`.
EMB_CONTRACT_SQL = """
    SELECT * FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(embedding) = (
          SELECT len(embedding) FROM embeddings
          WHERE embedding IS NOT NULL
          GROUP BY 1 ORDER BY COUNT(*) DESC, 1 LIMIT 1)
"""


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under its DIMENSION CONTRACT: NULL vectors
    and rows whose length differs from the corpus's modal dimension
    are excluded. Cosine/dot kernels require equal-length operands —
    a single zero-length or odd-dimension row (a real drift class:
    probed 2026-08-14, an empty-list row hard-crashes both engines'
    cosine paths) must quarantine at the scan, not abort a 100 TB
    pass. The modal dimension is computed distributed (groupBy +
    1-row broadcast join), never collected, and deterministically
    (count DESC, dim ASC tiebreak) — so the filter itself is
    engine-portable (EMB_CONTRACT_SQL is the DuckDB mirror).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mode_dim = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("dim"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("dim"))
        .limit(1)
        .select("dim")
    )
    # fan_out() was tried here (r16) and measured SLOWER for the
    # embedding consumers (paired: q_ir_ndcg 2.0/2.3 → 2.4, semdedup
    # 2.3/2.5 → 2.8 s): the heavy consumers already width-pin with
    # their own repartition (kmeans _quantized, PQ q, semdedup fold),
    # so a contract-level fan-out is a pure extra exchange for them.
    return (
        emb.filter(F.col("embedding").isNotNull())
        .join(F.broadcast(mode_dim), F.size("embedding") == F.col("dim"))
        .drop("dim")
    )


def int8_grid(emb: DataFrame, shift: int = 0) -> DataFrame:
    """(vec_id, qs): contract embeddings on one global int8 grid.
    gscale is the largest |x| in the whole corpus and each component
    maps to floor(x·127/gscale + 0.5), plus `shift` (k-means shifts by
    127 so every component is non-negative). An all-zero corpus has no
    grid and yields no rows. int8_grid_sql is the DuckDB mirror.
    q_llm_embed_quantize scales each vector by its own max instead."""
    g = emb.agg(
        F.max(
            F.expr("array_max(transform(embedding, x -> abs(cast(x as double))))")
        ).alias("gscale")
    )
    qs = "cast(floor((cast(x as double) * 127) / gscale + 0.5) as bigint)"
    if shift:
        qs += f" + {shift}"
    return (
        emb.crossJoin(F.broadcast(g))
        .filter(F.col("gscale") > 0)
        .select("vec_id", F.expr(f"transform(embedding, x -> {qs})").alias("qs"))
    )


def int8_grid_sql(shift: int = 0, name: str = "q") -> str:
    """DuckDB CTEs `emb` (the contract), `g` (the scale) and `name`
    (vec_id, qs): int8_grid's relation."""
    return f"""emb AS ({EMB_CONTRACT_SQL}),
    g AS (
        SELECT max(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))))) AS gscale
        FROM emb
    ),
    {name} AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor((CAST(x AS DOUBLE) * 127) / gscale + 0.5)
                        AS BIGINT) + {shift}) AS qs
        FROM emb, g WHERE gscale > 0
    )"""
