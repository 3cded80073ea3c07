"""SparkSession factory tuned for this engine.

Local runs use one JVM (local[N]); the settings are chosen so the same
code scales on a cluster: AQE on (runtime re-plan, skew-join splits,
partition coalescing), shuffle partitions sized to the cores (a cluster
overrides this to 2-3× its cores), Arrow for the pandas-UDF operators,
and a UTC session time zone so timestamps mean the same in every engine.
Python workers fork from the stock `pyspark.daemon`, and building a
session changes no process environment.

A short pass pays mostly for the code it runs, not for the data. For
perfbench's five `pipeline` queries at sf0.01 (4 cores,
`tools/ab_fresh.py`, per-query median passes summed), HotSpot's JIT
reports 9.6 s of compilation (`metrics.jit_compile_ms`) against 13.2 s
of process CPU. Two settings below cut fixed work:

- Generated-code cache: 8192 entries (Spark's default is 100). One pass
  generates this many distinct classes at sf0.01: perfbench
  `relational` 40, `pipeline` 121, `bench.HEADLINE` 1,098, the whole
  registry 4,468. Under a 100-entry LRU every set but `relational`
  evicted each class before its next use, so every pass compiled them
  all again (Janino, then the JIT). The cache key is the generated
  source, so `spark.sql.codegen.useIdInClassName` is off: AQE numbers
  codegen stages in the order it creates query stages, which varies
  from run to run. A query the session has already run then compiles
  nothing (`metrics.codegen_compiles`; `tests/test_metrics.py` pins 0
  for a second `pipeline` pass; ROADMAP item 4 lists the residue).
- Streaming checkpoint files: with no Hadoop native library, Spark's
  default FileContext checkpoint manager forks a `readlink` for each
  file it renames (AbstractFileSystem.renameInternal →
  getFileLinkStatus → FileUtil.readLink → Shell.execCommand). One
  q_stream_sink_modes run forked 144 `readlink`s and 63 `chmod`s, 0.5 s
  of child CPU; through the FileSystem API it forks the 63 `chmod`s
  only, 0.15 s.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g. A fixed 48g let
    the local-mode JVM grow until the kernel killed it on a 15 GB host
    (sf1.0, 11 queries in one process)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 48 << 30) >> 20}m"


def get_session(
    app_name: str = "fact_hive_custom_spark",
    quiet: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Runs on local[$SPARK_GRAFT_CPUS] (all local cores when unset) with
    driver memory $SPARK_DRIVER_MEMORY (`default_driver_memory()` when
    unset). All settings are stock Spark; none are required for
    correctness, only for performance posture (SURVEY.md §4).

    `quiet=True` lowers the WindowExec logger to ERROR; the bench and
    tooling entry points pass it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join handling, join demotion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width ~ cores locally; cluster deployments override.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        # Arrow transfer for Pandas UDF / toPandas paths. 64k-row batches
        # (vs default 10k) cut per-batch overhead ~25% at a few MB/batch.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Deterministic timestamp semantics vs external oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode: driver JVM is the only process; give it headroom.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        # Reliable checkpoints (materialize() with spark.checkpoint.dir
        # set) delete their files when the checkpointed RDD is GC'd.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Compiled-class cache (static conf, module docstring): 8192 is
        # the next power of two above the registry's 4,468 classes.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # No AQE-assigned stage id in the cache key (module docstring):
        # with it, q_llm_jaccard_dedup recompiled 4 classes in 5 of 16
        # warm runs at sf0.001; without it, in 0 of 16.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Streaming checkpoint files (offsets, commits, metadata, state)
        # through the FileSystem API, which forks no `readlink` (module
        # docstring). On file: both managers check that the destination
        # is absent, then rename through RawLocalFileSystem.rename, one
        # rename(2): FileSystemBasedCheckpointFileManager.renameTempFile
        # here, AbstractFileSystem.renameInternal in the default. So
        # atomicity and no-overwrite are the same.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    # Several queries end in a deliberate global window over a few
    # hundred pre-aggregated rows (SCALING.md §global-windows;
    # tests/test_plans.py pins the inputs tiny), and WindowExec warns on
    # each. Only quiet sessions mute it: a large-input one added later
    # should warn everywhere but in the bench.
    if not quiet:
        return spark
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 logging backend: keep default verbosity
    return spark
