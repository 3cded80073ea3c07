"""SparkSession factory tuned for this engine.

Local testing runs a single JVM (local[N]); production posture is a
multi-executor cluster at ~100 TB — the configs below are chosen so the
same code scales: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized to cores locally (on a
cluster this is overridden to ~2-3× total cores), Arrow enabled for the
few Pandas-UDF operators, UTC session timezone so timestamp semantics
are engine-independent. Python workers fork from the stock
`pyspark.daemon`, and building a session changes no process
environment.

Generated-code cache: `spark.sql.codegen.cache.maxEntries` is 8192
(Spark's default is 100). One pass over a query set generates this
many distinct classes at sf0.01 (4 cores, stage ids in class names):
perfbench `relational` 40, perfbench `pipeline` 121, `bench.HEADLINE`
1,098, the whole registry 4,468. Under a 100-entry LRU every set but
`relational` evicts each class before its next use, so every pass
compiled all of them again (Janino, then the JIT). The cache key is
the generated source, so `spark.sql.codegen.useIdInClassName` is off:
AQE numbers codegen stages in the order it creates query stages, and
that order varies from run to run. With both, a query the session has
already run compiles nothing (`metrics.codegen_compiles`;
`tests/test_metrics.py` pins 0 for a second `pipeline` pass). The
residue is a few queries whose generated source still differs from
run to run: a second whole-registry pass compiled 28 and 22 classes
over 8 queries in two runs. q_agg_theta_sketch, q_graph_triangles,
q_llm_dataset_card, q_llm_cosine_dedup and q_scan_merge_schema were
in both.
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
        # Compiled-class cache (static conf). Distinct classes per pass at
        # sf0.01: relational 40, pipeline 121, HEADLINE 1,098, registry
        # 4,468; 8192 is the next power of two above the registry.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # No AQE-assigned stage id in the cache key (module docstring):
        # with it, q_llm_jaccard_dedup recompiled 4 classes in 5 of 16
        # warm runs at sf0.001; without it, in 0 of 16.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    # Log hygiene — opt-in: several registered queries END in a
    # deliberate global-window / single-partition step (final ranking
    # over a few hundred pre-aggregated rows — SCALING.md
    # §global-windows), and WindowExec warns on every one, flooding
    # bench output with hundreds of identical lines. The plan pins in
    # tests/test_plans.py assert the windowed inputs ARE tiny. Default
    # sessions keep the warning: a genuinely unsafe large-input global
    # window added later should warn loudly everywhere except the
    # noise-sensitive bench runs.
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
