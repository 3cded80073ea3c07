"""Structured Streaming plumbing (SURVEY.md §2.2.G).

Pattern: every streaming operator is a normal DataFrame transformation
applied to a `readStream` source; for the correctness gate we drive
the stream synchronously to completion with Trigger.AvailableNow into
a memory sink and hand back the settled table — the batch-mode oracle
then checks the same semantics. Late-data / watermark behavior (which
batch mode cannot express) is exercised in tests/test_streaming.py
with explicitly injected late rows.

In production the same code points at a directory of arriving files
(or Kafka) with a continuous trigger + checkpointLocation; state lives
in executor state stores.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fact_hive_custom_spark.tables import footer_schema, normalize_ts

# Streaming readers need an explicit schema. It comes from the events
# file's footer, as the batch read's does (tables.footer_schema): the
# fixture's ts encoding has varied across driver versions (int64 nanos
# vs parquet timestamp[us] → TIMESTAMP_NTZ), so no field list is
# hardcoded.


def events_ts_dtype(spark: SparkSession, sf_dir: str) -> T.DataType:
    """How the fixture encodes events.ts, read from the parquet footer."""
    return footer_schema(os.path.join(sf_dir, "events.parquet"))["ts"].dataType


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalized like the batch read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see tables.load_table
    raw = (
        spark.readStream.schema(footer_schema(os.path.join(sf_dir, "events.parquet")))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw)


def run_stream_to_memory(
    spark: SparkSession,
    streaming_df: DataFrame,
    name: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drive a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the settled result as a batch DataFrame."""
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    checkpoint = os.path.join(
        tempfile.gettempdir(), "fact_hive_custom_spark_ckpt", table
    )
    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(table)


def run_stream_foreach_batch_parquet(
    spark: SparkSession, streaming_df: DataFrame, out_dir: str
) -> None:
    """foreachBatch sink: append each micro-batch to a parquet dir —
    the exactly-once-with-idempotent-writes production pattern."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    checkpoint = os.path.join(
        tempfile.gettempdir(), "fact_hive_custom_spark_ckpt", f"feb_{uuid.uuid4().hex[:8]}"
    )
    q = (
        streaming_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
