"""Lineage-truncating materialization whose durability follows the
SparkContext.

`materialize(df)` is the engine's only way to reuse an intermediate
(shingle sets, the Theil-Sen and Mann-Kendall day series, BPE word
frequencies and vocab tables, the k-means and PQ quantized corpora,
the PCA scatter matrix, graph edge lists, the Markov transition
matrix, the theta and media sketch relations, pivot and semdedup
cluster assignments, PQ codebooks, the BFS seed and frontiers and
k-core edges). Each call costs at least one eager job, so each call
site names the measurement that keeps it. "Measured against the
identity" gives per-run medians, materialized vs lazy, of paired
fresh-JVM runs (`tools/ab_fresh.py --passes 3`, 4 cores, 3 alternated
pairs, at sf0.1 and at sf1.0); a call stays only where the
materialized side won all 3 pairs at one of the two scales, and
`tests/test_tools.py` pins the count per file.

The engine never calls `persist()`/`cache()`: their CacheManager entry
is keyed on the plan, which names the parquet path, so it outlives the
query — a fixture rewritten in place is then answered from the old
cache, and one pass reads the blocks a previous pass built instead of
doing its own work. A checkpoint belongs to the DataFrame that made it and
nothing else can match it. `tests/test_tools.py` fails on any
persist or cache call in the package.

Where the blocks live follows the SparkContext:

- with a checkpoint directory on the SparkContext (stock
  `spark.checkpoint.dir`, or `sc.setCheckpointDir`) it is a reliable
  `df.checkpoint()`: on a cluster point the directory at
  HDFS/object storage, where the write is replicated and any executor
  can re-read it after an executor loss;
- without one it is `localCheckpoint()`: eager, executor-local block
  storage, freed on RDD GC — the local/bench posture, with no
  filesystem round-trip but no recovery path either.

`get_session` turns on `spark.cleaner.referenceTracking.cleanCheckpoints`,
so reliable checkpoint files are removed when their RDD is collected.

Both forms are eager and truncate lineage identically — plan shape,
job structure and results are unchanged; only the storage of the
materialized blocks differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize `df` and truncate its lineage: reliable
    `checkpoint()` when the context has a checkpoint directory,
    `localCheckpoint()` otherwise."""
    jsc = df.sparkSession.sparkContext._jsc
    if jsc.getCheckpointDir().isPresent():
        return df.checkpoint(eager=True)
    return df.localCheckpoint()
