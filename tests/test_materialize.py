"""materialize(): the lineage-truncation helper behind every shared
intermediate. Its durability follows the SparkContext: reliable
`checkpoint()` with a checkpoint directory, `localCheckpoint()`
without one."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from fact_hive_custom_spark.materialize import materialize

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
