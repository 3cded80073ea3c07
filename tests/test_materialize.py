"""materialize(): the lineage-truncation helper behind every shared
intermediate. Its durability follows the SparkContext: reliable
`checkpoint()` with a checkpoint directory, `localCheckpoint()`
without one."""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize
from fact_hive_custom_spark.queries import ORACLE
from tests.parity import DEFAULT_SF_DIR, compare, duck_connection

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_default_is_local_checkpoint(spark):
    # the shared test session never gets a checkpoint dir: every
    # materialize() in the run stays local
    assert not spark.sparkContext._jsc.getCheckpointDir().isPresent()
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = materialize(df)
    # eager + lineage-truncated: the materialized plan is a scan of
    # existing RDD blocks, not the original range+project
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 100


def test_reliable_checkpoint_from_checkpoint_dir(tmp_path):
    """A fresh session built with stock `spark.checkpoint.dir` makes
    materialize() write a reliable checkpoint there: same eager,
    truncated contract and rows, and the files land in the dir."""
    ckpt = tmp_path / "ckpt"
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark.sql import SparkSession, functions as F
        from fact_hive_custom_spark.materialize import materialize

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.checkpoint.dir", {str(ckpt)!r})
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        got = spark.sparkContext._jsc.getCheckpointDir()
        assert got.isPresent() and {str(ckpt)!r} in got.get(), got
        out = materialize(spark.range(50).withColumn("v", F.col("id") + 7))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert sorted(r.v for r in out.collect()) == [i + 7 for i in range(50)]
        assert any(f.startswith("rdd-") for _, ds, _ in os.walk({str(ckpt)!r})
                   for f in ds), list(os.walk({str(ckpt)!r}))
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_in_place_fixture_rewrite_is_answered_fresh(spark, tmp_path):
    """Two queries that reuse an intermediate and one spark.sql query
    over the registered views run, then run again in the same session
    after documents.parquet, events.parquet and orders.parquet are
    overwritten in place with another scale's files: the second run
    must answer from the new files. A lazy persist()/cache() keyed on
    the parquet path would serve the old corpus here, and so would a
    view kept from the first registration; materialize() leaves no
    CacheManager entry behind, and register_views registers afresh."""
    other = pathlib.Path(DEFAULT_SF_DIR)
    src = other.parent / "sf0.001"
    for f in src.glob("*.parquet"):
        shutil.copyfile(f, tmp_path / f.name)
    names = ("q_llm_jaccard_dedup", "q_ts_theil_sen", "q_agg_grouping_sets")

    def check() -> list[list[str]]:
        for name in names:
            ok, detail = compare(spark, name, str(tmp_path))
            assert ok, f"{name}: {detail}"
        con = duck_connection(str(tmp_path))
        # repr: grouping-set rows carry NULLs, which do not sort
        return [sorted(map(repr, con.sql(ORACLE[name]).fetchall())) for name in names]

    before = check()
    for t in ("documents", "events", "orders"):
        shutil.copyfile(other / f"{t}.parquet", tmp_path / f"{t}.parquet")
    after = check()
    # the rewrite changes every answer, so a stale read cannot pass
    assert all(b != a for b, a in zip(before, after))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
