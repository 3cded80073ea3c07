"""Source / sink operators (SURVEY.md §2.2.A): format round-trips,
partitioned writes, managed tables, streaming file source.

Round-trips write to /tmp staging dirs (mode=overwrite, idempotent)
and return the re-read content, so the DuckDB oracle can check the
round-trip was lossless against the original table. The partitioned
sink demonstrates Hive-style layout + partition pruning on re-read —
at 100 TB, partition layout is the first-order scan optimization.

JDBC / Kafka connectors are out of scope in this environment (no
endpoints); the production path is stock `spark.read.jdbc` /
`format("kafka")`. Avro is likewise out of scope: it is an external
module since Spark 2.4 (`spark-avro` jar, not on this classpath and no
network to fetch it — verified: `format("avro")` raises
FAILED_FIND_DATA_SOURCE); the production path is stock
`format("avro")` with the package deployed.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.sources.io import round_trip, stage_dir
from fact_hive_custom_spark.tables import load_table


@register(
    "q_source_csv",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: write with header, re-read with the explicit
    original schema (never inferSchema in production), prove content
    equality against the source table."""
    r = load_table(spark, sf_dir, "region")
    return round_trip(spark, r, "csv", "region_csv", header=True)


@register(
    "q_source_json",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with explicit schema."""
    n = load_table(spark, sf_dir, "nation")
    return round_trip(spark, n, "json", "nation_json")


@register(
    "q_source_orc",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (Hive's native columnar format; binary-exact for
    doubles, vectorized reader on scan)."""
    s = load_table(spark, sf_dir, "supplier")
    return round_trip(spark, s, "orc", "supplier_orc")


@register(
    "q_source_xml",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip (built-in `xml` source since Spark 4.0): write
    with a rowTag, read back with the explicit original schema."""
    n = load_table(spark, sf_dir, "nation")
    return round_trip(spark, n, "xml", "nation_xml", rowTag="nation")


@register(
    "q_source_python_ds",
    oracle="""
    SELECT r AS id, r % 97 AS bucket,
           (r * 2654435761 % 1000003) / 1000003 AS score
    FROM range(10000) t(r)
    """,
)
def q_source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 `pyspark.sql.datasource`):
    a deterministic generator source read in 8 parallel InputPartitions
    (sources/python_datasource.py). The oracle recomputes the integer
    arithmetic + single IEEE754 division bit-for-bit, so this certifies
    the partitioned read loses/duplicates no rows."""
    from fact_hive_custom_spark.sources.python_datasource import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    return (
        spark.read.format("fhcs_synthetic")
        .option("n", 10000)
        .option("partitions", 8)
        .load()
    )


@register(
    "q_sink_partitioned",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read-back.

    Reading back with a partition predicate shows PartitionFilters in
    the scan — zero data files outside o_orderstatus=F are touched.
    That pruning is the point of partitioned layout at scale.
    """
    o = load_table(spark, sf_dir, "orders")
    path = stage_dir("orders_by_status")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    # partition discovery types o_orderstatus from the directory names
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")
    )


@register(
    "q_sink_table",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus
    """,
)
def q_sink_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed table via the session catalog: saveAsTable + spark.sql
    over the catalog name (the modern HiveContext path; with
    enableHiveSupport() the identical code persists to a Hive
    metastore)."""
    import shutil

    o = load_table(spark, sf_dir, "orders")
    # The default catalog is in-memory per session but the warehouse dir
    # persists — a stale location from a previous session would fail
    # saveAsTable with LOCATION_ALREADY_EXISTS. Drop both first.
    spark.sql("DROP TABLE IF EXISTS fhcs_orders_managed")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(warehouse.removeprefix("file:"), "fhcs_orders_managed"),
        ignore_errors=True,
    )
    o.write.mode("overwrite").saveAsTable("fhcs_orders_managed")
    return spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM fhcs_orders_managed GROUP BY o_orderstatus"
    )


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4,
           COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact⋈fact join: both tables are written
    `bucketBy(8, <orderkey>)` + sorted, then joined and aggregated
    WITHOUT A SINGLE EXCHANGE — the pre-shuffle layout SCALING.md
    prescribes for recurring 100 TB fact joins, demonstrated rather
    than claimed (plan-pinned in tests/test_plans.py). The merge hint
    keeps the optimizer from broadcasting the fixture-small side so
    the plan is the one a cluster would run.

    Revenue is exact-integer: cents × discount-complement-in-percent
    (both 2-dp by data contract), so no float summation order can
    diverge between engines.

    The layout BUILD (two bucketed table writes — the one-time cost a
    cluster amortizes over every later probe) and the zero-exchange
    PROBE are split into `bucketed_layout_build` / `bucketed_probe` so
    bench.py can time them as separate rows (round-10 verdict item 7:
    the combined 2.4 s median was build-dominated while the probe —
    the thing worth regressing — measures ~0.8 s)."""
    orders_tbl, lineitem_tbl = bucketed_layout_build(spark, sf_dir)
    return bucketed_probe(spark, orders_tbl, lineitem_tbl)


def sweep_bucketed_orphans(spark: SparkSession) -> None:
    """Drop the bucketed tables of *finished* `bucketed_layout_build`
    runs: warehouse dirs under its name prefixes older than an hour,
    which no live invocation can still be reading. The build cannot
    drop its own tables (the returned probe reads the bucket files
    lazily), so callers sweep once per process, before any timing
    (bench.py, the test session)."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh_dir = warehouse.removeprefix("file:")
    if not os.path.isdir(wh_dir):
        return
    now = time.time()
    for name in os.listdir(wh_dir):
        if name.startswith(("fhcs_orders_bkt", "fhcs_lineitem_bkt")):
            p = os.path.join(wh_dir, name)
            try:
                if now - os.path.getmtime(p) > 3600:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


def bucketed_layout_build(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Write orders + lineitem as bucketBy(8, orderkey) sorted tables
    under per-run names; returns (orders_tbl, lineitem_tbl). This is
    the recurring-layout investment: on a cluster it runs once per
    ingest, not once per query."""
    import uuid

    # Per-run table names: two concurrent invocations (parallel test
    # workers, bench alongside parity) must not race on a shared
    # DROP/rmtree/saveAsTable under a fixed name. The tables outlive
    # this call; sweep_bucketed_orphans removes them later.
    run = uuid.uuid4().hex[:12]
    orders_tbl = f"fhcs_orders_bkt_{run}"
    lineitem_tbl = f"fhcs_lineitem_bkt_{run}"
    for tbl, src, key in (
        (orders_tbl, "orders", "o_orderkey"),
        (lineitem_tbl, "lineitem", "l_orderkey"),
    ):
        df = load_table(spark, sf_dir, src)
        # one file per bucket: cluster rows onto their bucket before the
        # write so each bucket is a single sorted run (readable without
        # a re-sort)
        (
            df.repartition(8, F.col(key))
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    return orders_tbl, lineitem_tbl


def bucketed_probe(
    spark: SparkSession, orders_tbl: str, lineitem_tbl: str
) -> DataFrame:
    """The zero-exchange sort-merge probe over pre-bucketed tables —
    the per-query cost once the layout exists."""
    o = spark.table(orders_tbl)
    l = spark.table(lineitem_tbl)
    j = o.hint("merge").join(l, l["l_orderkey"] == o["o_orderkey"])
    return j.groupBy("o_orderkey", "o_orderstatus").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_stream_file_source",
    oracle="SELECT COUNT(*) AS n_events, CAST(SUM(user_id) AS BIGINT) AS sum_users FROM events",
)
def q_stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream source, driven to completion synchronously: read the
    events parquet as a stream (Trigger.AvailableNow), land batches in
    a memory sink via foreachBatch-equivalent append, return the
    aggregate — checked against batch SQL. This is the §G pattern for
    oracle-checking streaming operators (SURVEY.md §5)."""
    from fact_hive_custom_spark.streaming.jobs import run_stream_to_memory

    events = _streaming_events(spark, sf_dir)
    agg = events.agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("user_id").alias("sum_users")
    )
    return run_stream_to_memory(spark, agg, "q_stream_file_source_out", output_mode="complete")


def _streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream view of the events table (shared by §G queries)."""
    from fact_hive_custom_spark.streaming.jobs import streaming_events

    return streaming_events(spark, sf_dir)


@register(
    "q_source_binary",
    oracle="""
    SELECT 'r_' || CAST(r_regionkey AS VARCHAR) || '.bin' AS fname,
           CAST(length(r_name) AS BIGINT) AS n_bytes,
           md5(r_name) AS md5_hex
    FROM region
    """,
)
def q_source_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via the `binaryFile` source — the
    entry point for media shards (images/audio/video as bytes + file
    metadata, cf. operators/multimodal.py): one row per file with
    path, length, and content, scanned in parallel with no decoding.

    Staging writes one .bin per region row (driver-side: 5 tiny files
    of test scaffolding — production media already sits on object
    storage); the read back is the real production path. The oracle
    recomputes (name, byte length, md5) from the source table, so the
    files' round-trip integrity — not just their count — is checked.

    At 100 TB: binaryFile splits by file; pair it with
    `spark.sql.files.maxPartitionBytes` sizing and the mapInPandas
    decode seam. Filters on path/length are pushed (PushedFilters on
    the file index), and `content` is only materialized for rows that
    survive them.
    """
    import uuid

    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = stage_dir(f"binary_src_{uuid.uuid4().hex[:12]}")
    os.makedirs(path, exist_ok=True)
    for row in r.collect():  # 5 rows: staging scaffolding, not a data path
        with open(os.path.join(path, f"r_{row['r_regionkey']}.bin"), "wb") as f:
            f.write(row["r_name"].encode("utf-8"))
    files = spark.read.format("binaryFile").load(path)
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("md5_hex"),
    )


@register(
    "q_scan_merge_schema",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
               NULL AS status
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, NULL, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(price_cents) AS n_with_price,
           COUNT(status) AS n_with_status,
           CAST(SUM(COALESCE(price_cents, 0)) AS BIGINT) AS total_cents
    FROM unioned
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (`mergeSchema`): two parquet writes
    with DIFFERENT column sets land in one dataset directory; the
    merged scan unions the schemas and fills the absent columns with
    NULL — how a lakehouse table absorbs a new column without
    rewriting history. The aggregate proves both halves surfaced with
    their own columns populated and the other's NULL.

    Scale note: mergeSchema reconciles footers at planning time (cost
    scales with file count, not rows); production tables lock the
    merged schema in a metastore and read WITHOUT per-query merging —
    this query is the evolution-event path, not the steady state.
    """
    import uuid

    o = load_table(spark, sf_dir, "orders")
    path = stage_dir(f"merge_schema_{uuid.uuid4().hex[:12]}")
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", F.col("o_orderstatus").alias("status"))
        .write.mode("append")
        .parquet(path)
    )
    # merging the two files' footer schemas is what this query shows
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price_cents").alias("n_with_price"),
        F.count("status").alias("n_with_status"),
        F.sum(F.coalesce(F.col("price_cents"), F.lit(0)))
        .cast("bigint")
        .alias("total_cents"),
    )


@register(
    "q_sink_compact",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS value_e4
    FROM events
    GROUP BY event_type
    """,
)
def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the events table is first fragmented
    into 64 tiny parquet files (the streaming-ingest pathology), then
    compacted with repartition(4) into right-sized files, and the
    aggregate runs over the COMPACTED copy — proving the rewrite is
    content-preserving (the oracle reads the original). The test
    suite additionally asserts the output file count.

    Why it matters at 100 TB: a million 1 MB files turn scan planning
    and footer reads into the bottleneck (NameNode/liststore pressure,
    one task per file). Nightly compaction to ~128 MB-1 GB files —
    exactly this repartition-write — restores scan throughput.
    repartition (round-robin), not coalesce: coalesce(4) would chain
    the upstream 64-way parallelism down to 4 tasks for the WRITE
    stage itself; the shuffle decouples read and write parallelism
    and balances output sizes.
    """
    import uuid

    e = load_table(spark, sf_dir, "events")
    frag = stage_dir(f"compact_frag_{uuid.uuid4().hex[:12]}")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = stage_dir(f"compact_out_{uuid.uuid4().hex[:12]}")
    spark.read.schema(e.schema).parquet(frag).repartition(4).write.mode(
        "overwrite"
    ).parquet(compacted)
    c = spark.read.schema(e.schema).parquet(compacted)
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("value_e4"),
    )


@register(
    "q_source_csv_malformed",
    oracle="""
    WITH src AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 7 = 3 THEN NULL ELSE n_name END
                   AS n_name,
               CASE WHEN n_nationkey % 7 = 3 THEN NULL
                    ELSE n_regionkey END AS n_regionkey,
               CASE WHEN n_nationkey % 7 = 3 THEN 1 ELSE 0 END AS bad
        FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bad) AS BIGINT) AS n_malformed,
           CAST(SUM(CASE WHEN bad = 0 THEN n_regionkey ELSE 0 END)
                AS BIGINT) AS regionkey_sum
    FROM src
    """,
)
def q_source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance on CSV ingest (PERMISSIVE mode +
    columnNameOfCorruptRecord): rows whose numeric fields are garbage
    surface as NULL columns plus a populated _corrupt_record instead
    of failing the job — then get COUNTED, the quarantine report every
    large ingest needs. Every nationkey ≡3 (mod 7) row is written with
    a non-numeric regionkey ('NOT_A_NUMBER'), so both the malformed
    count and the clean-row aggregate are deterministic.

    At 100 TB: PERMISSIVE keeps one bad row from killing a pass
    (FAILFAST is the validation-run mode); the corrupt-record column
    routes rejects to a quarantine sink for replay after repair.
    """
    import uuid

    n = load_table(spark, sf_dir, "nation")
    path = stage_dir(f"csv_malformed_{uuid.uuid4().hex[:12]}")
    os.makedirs(path, exist_ok=True)
    rows = n.select("n_nationkey", "n_name", "n_regionkey").collect()
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        for r in sorted(rows, key=lambda x: x["n_nationkey"]):
            if r["n_nationkey"] % 7 == 3:
                f.write(f"{r['n_nationkey']},{r['n_name']},NOT_A_NUMBER\n")
            else:
                f.write(
                    f"{r['n_nationkey']},{r['n_name']},{r['n_regionkey']}\n"
                )
    schema = (
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, "
        "_corrupt_record STRING"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Not a reuse: Spark refuses a raw CSV scan whose only referenced
    # column is the corrupt-record column
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    # checkpointed rows answer.
    df = materialize(df)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_malformed"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(), F.col("n_regionkey")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("regionkey_sum"),
    )


@register(
    "q_source_text",
    oracle="""
    SELECT doc_id, text FROM documents
    WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
)
def q_source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited text source: stage the corpus as raw
    `<doc_id>\\t<text>` lines, re-read with `spark.read.text`, and
    recover the typed columns — the ingestion shape for the crawl /
    log-dump files an LLM-data pipeline starts from, where no schema
    exists until the parse step imposes one.

    The fixture's documents contain no tabs or newlines (asserted by
    the drift suite's fixture probes); a production corpus would
    escape or length-prefix instead. Plan: the write is one shuffle-
    free map pass; the read is a whole-file-splittable line scan
    whose parse (split on the first tab) stays in codegen. Round-trip
    equality against the source table is the oracle.

    NULL text is quarantined on both engines (SURVEY.md §7.4): a line
    dump has no NULL representation — concat_ws would silently render
    it as the empty string, which is a DIFFERENT value."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    path = stage_dir("documents_text")
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return (
        lines.select(
            F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
            .cast("bigint")
            .alias("doc_id"),
            F.substring_index(F.col("value"), "\t", -1).alias("text"),
        )
        .orderBy("doc_id")
    )
