"""Fixture-ingestion contract: events.ts must normalize to the SAME
UTC TimestampType column regardless of the parquet encoding the driver
ships (int64 nanos in early rounds, timestamp[us] since round 4 —
the round-3 CORRECTNESS gate went red on exactly this drift). Every
scan is planned from the file footer: the schema equals Spark's own
inference and building a query runs no Spark job."""

from __future__ import annotations

import datetime
import inspect
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import bench
from fact_hive_custom_spark import tables
from fact_hive_custom_spark.streaming.jobs import events_ts_dtype, streaming_events
from fact_hive_custom_spark.queries import QUERIES
from fact_hive_custom_spark.tables import TABLES, footer_schema, load_table
from tests.parity import DEFAULT_SF_DIR

_BASE_US = [1_706_600_000_000_000, 1_706_600_001_500_000]


def _write_events(dirpath, unit: str) -> str:
    """events.parquet with `ts` as timestamp[us], timestamp[ns], or
    (`int96`) the legacy INT96 encoding Hive and old Spark write."""
    vals = [v * 1000 for v in _BASE_US] if unit == "ns" else _BASE_US
    table = pa.table(
        {
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array(vals, pa.timestamp("ns" if unit == "ns" else "us")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(
        table,
        str(dirpath / "events.parquet"),
        version="2.6",
        use_deprecated_int96_timestamps=unit == "int96",
    )
    return str(dirpath)


@pytest.mark.parametrize("unit", ["us", "ns", "int96"])
def test_load_table_normalizes_any_ts_encoding(spark, tmp_path, unit):
    d = tmp_path / f"enc_{unit}"
    d.mkdir()
    df = load_table(spark, _write_events(d, unit), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == [
        datetime.datetime(2024, 1, 30, 7, 33, 20),
        datetime.datetime(2024, 1, 30, 7, 33, 21, 500000),
    ]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_streaming_reader_matches_batch_normalization(spark, tmp_path, unit):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d = tmp_path / f"senc_{unit}"
    d.mkdir()
    sf_dir = _write_events(d, unit)
    probed = events_ts_dtype(spark, sf_dir)
    expected = T.LongType() if unit == "ns" else T.TimestampNTZType()
    assert probed == expected

    from fact_hive_custom_spark.streaming.jobs import run_stream_to_memory

    agg = streaming_events(spark, sf_dir).agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    )
    out = run_stream_to_memory(spark, agg, f"ts_enc_{unit}", "complete").collect()
    assert out[0].lo == datetime.datetime(2024, 1, 30, 7, 33, 20)
    assert out[0].hi == datetime.datetime(2024, 1, 30, 7, 33, 21, 500000)


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred(spark, scale):
    sf_dir = os.path.join("/root/testdata", scale)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no fixture at {sf_dir}")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        # StructType equality covers names, types and nullability
        assert footer_schema(path) == _inferred(spark, path), name


@pytest.mark.parametrize("unit", ["us", "ns", "int96"])
def test_footer_schema_equals_inferred_for_events_encodings(spark, tmp_path, unit):
    path = os.path.join(_write_events(tmp_path, unit), "events.parquet")
    assert footer_schema(path) == _inferred(spark, path)


def test_footer_schema_equals_inferred_for_spark_written_dir(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    spark.range(6).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text").repartition(
        2
    ).write.parquet(path)
    assert footer_schema(path) == _inferred(spark, path)


@pytest.mark.parametrize("name", ["q_agg_flagship", "q_agg_grouping_sets"])
def test_query_construction_runs_no_job(spark, name):
    """Building a plain scan row (DataFrame and spark.sql over the
    registered views) runs no Spark job; its action runs at least one
    (bench.phase_jobs, the shared job counter)."""
    tag = bench.new_tag()
    bench.run_query(spark, name, DEFAULT_SF_DIR, tag)
    jobs = bench.phase_jobs(spark, tag)
    assert jobs["build"] == [0, 0]
    assert jobs["action"][0] >= 1


def test_register_views_loads_only_the_tables_the_query_reads(spark, monkeypatch):
    loaded = []
    real = tables.load_table
    monkeypatch.setattr(
        tables, "load_table", lambda s, d, name: loaded.append(name) or real(s, d, name)
    )
    QUERIES["q_agg_grouping_sets"](spark, DEFAULT_SF_DIR)
    assert loaded == ["orders"]


VIEW_QUERIES = sorted(
    name for name, fn in QUERIES.items() if "register_views(" in inspect.getsource(fn)
)


def test_view_queries_name_every_table_they_read(spark):
    """With no fixture view registered beforehand, each spark.sql row
    still analyzes: the tables it names are all the tables it reads."""
    assert len(VIEW_QUERIES) >= 12, VIEW_QUERIES
    for name in VIEW_QUERIES:
        for table in TABLES:
            spark.catalog.dropTempView(table)
        QUERIES[name](spark, DEFAULT_SF_DIR)
