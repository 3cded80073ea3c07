"""Table catalog: the fixture star schema (FIXTURES.md).

`load_table` is the single scan entry point — every query goes through
it so scans stay uniform: `spark.read.schema(...).parquet` with the
schema taken from the file footer on the driver (`footer_schema`), so
planning a scan runs no Spark job, and the vectorized Parquet reader +
Catalyst still handle pushdown and pruning. `register_views` exposes
the same tables to `spark.sql` queries.
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
    them. A `timestamp[ns]` column maps to LongType: Spark can read it
    only as long nanos, under `spark.sql.legacy.parquet.nanosAsLong`,
    which the readers of such a column set (`load_table`, streaming).

    Read on every call and never cached, so a fixture rewritten in
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

    def spark_type(at) -> T.DataType:
        if is_timestamp(at) and at.unit == "ns":
            return T.LongType()
        return from_arrow_type(at, prefer_timestamp_ntz=True)

    return T.StructType(
        [T.StructField(f.name, spark_type(f.type), True) for f in pq.read_schema(path)]
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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries.

    Re-registers all ten views on every call: each is a footer read and
    runs no job, and a fresh registration sees a fixture rewritten in
    place, which a memo of the last sf_dir would not.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


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
