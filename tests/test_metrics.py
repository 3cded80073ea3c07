"""Metrics surface: QueryExecutionListener, plan SQLMetrics, observe.

The reference's stats hook (`h-stats.sh:1`) is an empty stub even
upstream; these tests pin the engine's real equivalent — passive
per-action records via a py4j QueryExecutionListener, active per-plan
SQLMetric extraction, and in-pass Observation counters.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from fact_hive_custom_spark import metrics
from fact_hive_custom_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


class TestExecutionMetrics:
    def test_scan_and_shuffle_measured(self, spark):
        """A groupBy over lineitem must report the true scanned row
        count and a nonzero (but small — partial-agg'd) shuffle."""
        li = load_table(spark, SF_DIR, "lineitem")
        expected = li.count()
        df = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
        out = metrics.execution_metrics(df)
        s = out["summary"]
        assert s["rows_scanned"] == expected, s
        assert s["shuffle_records_written"] > 0, s
        # map-side combine: the exchange carries per-partition partials
        # (≤ partitions × 3 flags), never the 6k scanned rows
        assert s["shuffle_records_written"] < expected / 10, s
        assert out["wall_sec"] > 0
        assert any("Scan" in n["node"] for n in out["nodes"])

    def test_broadcast_join_no_fact_shuffle(self, spark):
        """A dim-broadcast join must move zero fact rows through a
        hash exchange — the metric proves what the plan string only
        promises."""
        li = load_table(spark, SF_DIR, "lineitem")
        p = load_table(spark, SF_DIR, "part")
        df = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
            "l_orderkey", "p_name"
        )
        s = metrics.execution_metrics(df)["summary"]
        assert s["rows_scanned"] > 0
        assert s["shuffle_records_written"] == 0, s


class TestObservation:
    def test_counters_ride_the_action(self, spark):
        li = load_table(spark, SF_DIR, "lineitem")
        df, obs = metrics.observed(
            li,
            "audit",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "rev_e2"
            ),
        )
        n_action = df.count()
        got = obs.get
        assert got["n_rows"] == n_action
        assert got["rev_e2"] > 0


class TestQueryExecutionListener:
    def test_listener_records_actions(self, spark):
        listener = metrics.install_listener(spark)
        try:
            df = (
                load_table(spark, SF_DIR, "orders")
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            df.collect()
            deadline = time.time() + 30
            while not listener.records and time.time() < deadline:
                time.sleep(0.2)
            assert listener.records, "listener never fired"
            rec = listener.records[-1]
            assert rec.error is None
            assert rec.duration_ms > 0
            assert rec.func_name  # collect / command name per Spark version
            assert rec.summary.get("rows_scanned", 0) > 0, rec
        finally:
            metrics.uninstall_listener(spark, listener)

    def test_listener_records_failures_and_uninstalls(self, spark):
        """A failing action must surface as a QueryRecord with its
        error; after uninstall the listener must stop recording."""
        from pyspark.sql import functions as F

        listener = metrics.install_listener(spark)
        try:
            bad = spark.range(4).select(
                F.raise_error(F.lit("boom")).alias("x")
            )
            try:
                bad.collect()
            except Exception:
                pass
            deadline = time.time() + 30
            while (
                not any(r.error for r in listener.records)
                and time.time() < deadline
            ):
                time.sleep(0.2)
            assert any(
                r.error and "boom" in r.error for r in listener.records
            ), listener.records
        finally:
            metrics.uninstall_listener(spark, listener)
        n = len(listener.records)
        spark.range(3).collect()
        time.sleep(2)
        assert len(listener.records) == n, "listener fired after uninstall"


class TestRound11MeasuredInvariants:
    """Measured SQLMetric invariants for the round-11b headline
    queries — numbers, not plan strings."""

    def test_permutation_expansion_never_shuffles_the_corpus(self, spark):
        """The 64-replicate expansion must stay map-side: the shuffle
        carries only per-replicate partial quadruples (K × partitions
        rows), never the 64× exploded corpus."""
        from fact_hive_custom_spark.queries import QUERIES

        df = QUERIES["q_stat_permutation_test"](spark, SF_DIR)
        s = metrics.execution_metrics(df)["summary"]
        assert s["rows_scanned"] > 0
        # partials: <= K * shuffle partitions * few aggregates; the
        # exploded corpus would be scanned_rows * 64 >> this bound
        assert s["shuffle_records_written"] < 10_000, s

    def test_theta_sketch_shuffles_distinct_keys_not_rows(self, spark):
        """The only corpus-width exchange is the distinct
        (segment, custkey) collapse — bounded by distinct keys, never
        the raw order rows scanned."""
        from fact_hive_custom_spark.queries import QUERIES

        df = QUERIES["q_agg_theta_sketch"](spark, SF_DIR)
        s = metrics.execution_metrics(df)["summary"]
        assert s["rows_scanned"] > 0
        assert s["shuffle_records_written"] < s["rows_scanned"], s


class TestCodegenCache:
    # perfbench's `pipeline` workload: dedup, eager materialize() rounds,
    # a stream into memory and parquet sinks, a table write, pandas UDFs.
    PIPELINE = [
        "q_llm_jaccard_dedup",
        "q_graph_pagerank",
        "q_stream_sink_modes",
        "q_sink_table",
        "q_udf_pandas",
    ]

    def test_warm_pass_compiles_nothing(self, spark):
        """A query the session already ran finds every generated class in
        the codegen cache. Under Spark's default 100-entry cache one
        pipeline pass evicts its own classes, and every pass recompiled
        114 of them at sf0.001. With the codegen stage id in the class
        name, an AQE run that creates its query stages in another order
        recompiles too (q_llm_jaccard_dedup, about one warm run in three)."""
        from fact_hive_custom_spark.queries import QUERIES

        # Static conf: a session built before get_session set it keeps
        # the default, and this fails. 4,468 classes is one pass over
        # the whole registry at sf0.01.
        assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4468
        assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
        compiled = []
        for _pass in range(2):
            c0 = metrics.codegen_compiles(spark)
            for name in self.PIPELINE:
                QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            compiled.append(metrics.codegen_compiles(spark) - c0)
        assert compiled[1] == 0, compiled

    def test_jit_compile_ms_never_falls(self, spark):
        """metrics.jit_compile_ms is the JVM's running JIT total: a
        non-negative int that a query can only add to."""
        from fact_hive_custom_spark.queries import QUERIES

        j0 = metrics.jit_compile_ms(spark)
        QUERIES["q_graph_pagerank"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        j1 = metrics.jit_compile_ms(spark)
        assert isinstance(j0, int) and isinstance(j1, int)
        assert 0 <= j0 <= j1, (j0, j1)


class TestCheckpointFileManager:
    def test_session_checkpoints_through_filesystem_api(self, spark):
        """get_session routes streaming checkpoint files through the
        FileSystem API, whose rename forks no `readlink` per file
        (session.py)."""
        assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        )
