"""Physical-plan assertions (SURVEY.md §5.4): the plan, not just the
answer, is the deliverable — these pin the properties that matter at
100 TB (pushdown, pruning, broadcast, partial aggregation, top-N
without global sort) so a regression in plan shape fails CI even
while results stay correct."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from fact_hive_custom_spark.plans import inspect as plans
from fact_hive_custom_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    return plans.executed_plan(QUERIES[name](spark, SF_DIR))


def hash_keys(plan: str) -> list[tuple[str, ...]]:
    """Key columns of every non-reused hash exchange, sorted."""
    return sorted(
        tuple(re.findall(r"(\w+)#", line.split("hashpartitioning(")[1].rsplit(", ", 1)[0]))
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "Reused" not in line
    )


class TestScanEfficiency:
    def test_filter_reaches_parquet_reader(self, spark):
        pf = plans.pushed_filters(QUERIES["q_scan_filter_pushdown"](spark, SF_DIR))
        assert "IsNotNull(l_shipdate)" in pf
        assert any(f.startswith("GreaterThanOrEqual(l_shipdate") for f in pf)

    def test_column_pruning(self, spark):
        read = plans.read_schema(QUERIES["q_scan_pruned"](spark, SF_DIR))
        # exactly the one referenced column, none of the other 10
        assert read == ["l_returnflag"]

    def test_partition_pruning_on_partitioned_sink(self, spark):
        plan = plan_of(spark, "q_sink_partitioned")
        pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
        assert "o_orderstatus" in pf.split("PartitionFilters")[1].split("]")[0]

    def test_dynamic_partition_pruning(self, spark):
        """The dim-side week filter must prune fact partitions at RUNTIME
        (dynamicpruningexpression in the fact scan's PartitionFilters) —
        static pruning can't see through the join."""
        # FileScan metadata is truncated to spark.sql.maxMetadataStringLength
        # (default 100) — widen it so the full PartitionFilters list prints
        old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
        spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
        try:
            plan = plan_of(spark, "q_scan_dpp")
        finally:
            spark.conf.set("spark.sql.maxMetadataStringLength", old)
        fact_scans = [
            l
            for l in plan.splitlines()
            if "FileScan" in l and "events_by_date" in l
        ]
        assert fact_scans, "fact scan missing from plan"
        assert any("dynamicpruningexpression" in l for l in fact_scans), (
            "DPP subquery not injected into the fact scan:\n" + "\n".join(fact_scans)
        )


class TestJoinStrategies:
    def test_broadcast_hint_respected(self, spark):
        assert "BroadcastHashJoin" in plan_of(spark, "q_join_broadcast")

    def test_shuffle_hash_hint_respected(self, spark):
        assert "ShuffledHashJoin" in plan_of(spark, "q_join_shuffle_hash")

    def test_semi_anti_stay_semi_anti(self, spark):
        # EXISTS/IN must plan as semi/anti joins, not join+distinct
        assert "LeftSemi" in plan_of(spark, "q_join_semi")
        assert "LeftAnti" in plan_of(spark, "q_join_anti")
        assert "LeftSemi" in plan_of(spark, "q_subquery_exists")

    def test_theta_join_keeps_equi_key(self, spark):
        # the p_brand equality must be the join key (hash-partitionable),
        # NOT a nested-loop over the full cross product
        plan = plan_of(spark, "q_join_theta")
        assert "BroadcastNestedLoopJoin" not in plan or "p_brand" in plan.split("Join")[1]

    def test_bucketed_join_no_exchange(self, spark):
        """Two tables bucketed on the join key must sort-merge join AND
        aggregate with ZERO exchanges — the pre-shuffled layout that
        removes the recurring fact⋈fact shuffle at 100 TB."""
        plan = plan_of(spark, "q_join_bucketed")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan

    def test_asof_join_has_no_cartesian(self, spark):
        plan = plan_of(spark, "q_join_asof")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan  # union-window composition, not a join explosion


class TestCostBasedOptimizer:
    def test_stats_informed_join_reorder(self, spark):
        """q_cbo_join_reorder writes the star in the worst order
        (customer ⋈ nation first, filtered region last). With ANALYZE'd
        stats + CBO joinReorder the optimized top join must flip to
        c_nationkey — customer joins the pre-collapsed dim cluster."""
        from fact_hive_custom_spark.queries import QUERIES

        # the query restores CBO flags after planning; .stats() re-reads
        # the conf at CALL time, so assert with CBO on
        old = spark.conf.get("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            df = QUERIES["q_cbo_join_reorder"](spark, SF_DIR)
            opt = df._jdf.queryExecution().optimizedPlan()
            assert opt.stats().rowCount().isDefined(), "CBO stats not propagated"
            top_join = next(
                l for l in opt.toString().splitlines() if "Join Inner" in l
            )
            assert "c_nationkey" in top_join, (
                f"join not reordered (top join should bind customer last): {top_join}"
            )
        finally:
            spark.conf.set("spark.sql.cbo.enabled", old)


class TestRound3PlanShapes:
    def test_lateral_join_decorrelates(self, spark):
        """LATERAL with ORDER BY/LIMIT must plan as a ranked-window join,
        never a per-row nested loop or cartesian product."""
        plan = plan_of(spark, "q_join_lateral")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan  # rank-based rewrite of the LIMIT 2

    def test_corpus_pipeline_shuffles_only_hashes(self, spark):
        """The corpus pipeline's only exchanges are its two aggregations,
        and the text column is projected away before either (only hashes
        and counters move)."""
        plan = plan_of(spark, "q_llm_corpus_pipeline")
        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(exchanges) == 2, f"expected 2 exchanges: {exchanges}"
        assert all("text" not in e for e in exchanges)

    def test_python_ds_scan_parallelism(self, spark):
        from fact_hive_custom_spark.queries import QUERIES

        assert QUERIES["q_source_python_ds"](spark, SF_DIR).rdd.getNumPartitions() == 8
    def test_flagship_partial_aggregation(self, spark):
        # two-phase hash aggregation: partial_ functions before the shuffle
        plan = plan_of(spark, "q_agg_flagship")
        assert "partial_sum" in plan and "HashAggregate" in plan

    def test_limit_avoids_global_sort(self, spark):
        assert "TakeOrderedAndProject" in plan_of(spark, "q_limit")


class TestRuntimeFilters:
    def test_bloom_filter_injected_on_probe_side(self, spark):
        """With the creation side non-broadcastable, the selective
        order-priority filter must become a bloom filter probed on the
        lineitem side before its shuffle (bloom_filter_agg builds it,
        might_contain applies it)."""
        plan = plan_of(spark, "q_join_bloom")
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan


class TestPipelineOpPlanShapes:
    def test_centroids_partial_aggregation_no_python(self, spark):
        """Centroid avg must plan as partial+final hash aggregation (the
        shuffle carries one (sum,count) per label×dim, not vectors) with
        no Python evaluation anywhere."""
        plan = plan_of(spark, "q_llm_centroids")
        assert "partial_avg" in plan or "partial_average" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_repetition_text_never_shuffles(self, spark):
        """Both repetition aggregations shuffle on doc-keyed hashes of
        exploded tokens/bigrams — the raw text column must be projected
        away before every exchange."""
        plan = plan_of(spark, "q_llm_repetition")
        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert exchanges, "expected hash exchanges in repetition plan"
        assert all("text#" not in e for e in exchanges)

    def test_stratified_sample_single_stratum_shuffle(self, spark):
        """One window shuffle on the stratum key and nothing else; the
        rank filter must not add a second exchange or a global sort."""
        plan = plan_of(spark, "q_llm_stratified_sample")
        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(exchanges) == 1, f"expected 1 exchange: {exchanges}"
        assert "source" in exchanges[0]
        assert "Exchange rangepartitioning" not in plan

    def test_struct_accesses_flatten_to_pruned_scan(self, spark):
        """Struct construction + nested access must collapse back to a
        plain column-pruned scan of exactly the four referenced fields."""
        read = plans.read_schema(QUERIES["q_fn_struct"](spark, SF_DIR))
        assert set(read) == {
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
        }

    def test_sessionize_single_partitioning(self, spark):
        """lag, running-sum, and the session rollup all key on user_id —
        the plan must reuse ONE hash exchange (plus AQE reads), not
        re-shuffle per window."""
        plan = plan_of(spark, "q_win_sessionize")
        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(exchanges) == 1, f"expected 1 exchange: {exchanges}"
        assert "user_id" in exchanges[0]

    def test_chunking_and_quantization_are_map_only(self, spark):
        """Chunking and int8 quantization are per-row array work — the
        plan must contain NO exchange and no Python evaluation; output
        co-location is what lets a downstream embed stage start without
        a shuffle."""
        for name in ("q_llm_chunk_docs", "q_llm_embed_quantize"):
            plan = plan_of(spark, name)
            assert "Exchange" not in plan, f"{name} should not shuffle"
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_ngram_topk_avoids_global_sort(self, spark):
        """Top-100 bigrams must plan as TakeOrderedAndProject (per-
        partition top-k + O(k) driver merge) over ONE count exchange —
        never a global range-sort of all bigram counts."""
        plan = plan_of(spark, "q_llm_ngram_counts")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan
        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(exchanges) == 1, f"expected 1 exchange: {exchanges}"

    def test_ohlc_single_partitioning(self, spark):
        """Both row_number windows and the OHLC aggregate key on
        (user_id, bucket) — the plan must reuse ONE hash exchange."""
        plan = plan_of(spark, "q_ts_resample_ohlc")
        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(exchanges) == 1, f"expected 1 exchange: {exchanges}"
        assert "user_id" in exchanges[0] and "bucket" in exchanges[0]

    def test_inverted_index_no_text_in_exchanges(self, spark):
        """The postings build shuffles (term, doc_id) pairs only — raw
        document text must be projected away before every exchange."""
        plan = plan_of(spark, "q_llm_inverted_index")
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert exchanges and all("text#" not in e for e in exchanges)

    def test_dedup_clusters_no_text_in_exchanges(self, spark):
        """The clusters query joins the corpus on doc_id against the
        (tiny, checkpointed) component map — document text must never
        appear in any exchange."""
        plan = plan_of(spark, "q_llm_dedup_clusters")
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert all("text#" not in e for e in exchanges)

    def test_funnel_all_shuffles_key_on_user(self, spark):
        """Every funnel stage (per-user min-aggs, stage joins) keys on
        user_id; the only other exchanges are the SinglePartition scalar
        counts and broadcasts of the shrinking stage outputs. A foreign
        hash key would mean a stage re-shuffling events on something
        other than the funnel subject — the 100 TB regression to catch.
        The identical event-scan subplans in stages 2/3 are also
        exchange-reusable (same child ⇒ ReusedExchange at SMJ scale)."""
        plan = plan_of(spark, "q_funnel_steps")
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert hash_ex, "expected per-user hash exchanges"
        assert all("user_id" in e for e in hash_ex), hash_ex
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_retention_first_seen_broadcasts(self, spark):
        """The first-seen (cohort) side must reach the events join as a
        broadcast: the fact table never shuffles for the join itself —
        its only hash exchanges are the distinct-user and cohort-cell
        aggregations (all keyed on cohort_day/day_offset/user_id)."""
        plan = plan_of(spark, "q_retention_cohort")
        assert "BroadcastExchange" in plan
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert hash_ex
        for e in hash_ex:
            assert "user_id" in e or ("cohort_day" in e and "day_offset" in e), e
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    @pytest.mark.parametrize(
        "name,key",
        [
            ("q_scd2_history", "user_id"),
            ("q_win_ntile", "c_mktsegment"),
            ("q_ts_anomaly", "user_id"),
        ],
    )
    def test_single_exchange_window_pipelines(self, spark, name, key):
        """SCD2, the rank bundle, and rolling anomaly detection each
        chain windows (and, for SCD2, a rollup) that all key on the
        same column — the plan must reuse ONE hash exchange."""
        plan = plan_of(spark, name)
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(hash_ex) == 1, f"{name}: expected 1 exchange: {hash_ex}"
        assert key in hash_ex[0]
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_bm25_single_corpus_pass(self, spark):
        """BM25 must tokenize the corpus ONCE: the per-doc conditional
        aggregate feeds both the stats scalar and the scoring unpivot,
        and the executed plan scans the corpus once — the second
        consumer reuses the per-doc doc_id exchange."""
        plan = final_plan_of(spark, "q_llm_bm25_topk")
        assert plan.count("Scan parquet") == 1, "per-doc agg recomputed from the corpus"
        assert "ReusedExchange" in plan, plan

    def test_transitions_two_exchanges(self, spark):
        """First-order transition counts: ONE per-user exchange feeds the
        lag window, ONE (from_type, to_type) exchange the pair count —
        nothing else. Output is |types|² regardless of input scale."""
        plan = plan_of(spark, "q_event_transitions")
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(hash_ex) == 2, f"expected 2 exchanges: {hash_ex}"
        assert any("user_id" in e for e in hash_ex)
        assert any("from_type" in e and "to_type" in e for e in hash_ex)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCodegenPurity:
    @pytest.mark.parametrize(
        "name",
        [
            "q_agg_flagship",
            "q_fn_array",
            "q_llm_cosine_topk",
            "q_llm_minhash_lsh",
            "q_fn_string",
            "q_llm_repetition",
            "q_llm_centroids",
            "q_llm_stratified_sample",
        ],
    )
    def test_no_python_in_jvm_only_pipelines(self, spark, name):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_flagship_whole_stage_codegen(self, spark):
        """scan→filter→project→partial-agg must fuse into WSCG subtrees."""
        assert plans.has_whole_stage_codegen(QUERIES["q_agg_flagship"](spark, SF_DIR))


class TestRound5Plans:
    """Plan pins for the round-5 additions (layout / stats / corpus /
    graph): single-exchange aggregation shapes, map-only redaction,
    broadcast iteration, and text-free shuffles."""

    @pytest.mark.parametrize(
        "name,key",
        [
            ("q_zorder_key", "z_key"),
            ("q_dataset_shard", "shard"),
            ("q_agg_linreg", "lineno"),
        ],
    )
    def test_single_exchange_aggregations(self, spark, name, key):
        """Each is one partial-aggregated groupBy: exactly one hash
        exchange, keyed as expected, nothing Python, no global sort."""
        plan = plan_of(spark, name)
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(hash_ex) == 1, f"{name}: expected 1 exchange: {hash_ex}"
        assert key in hash_ex[0]
        assert "Exchange rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_pii_redact_is_map_only(self, spark):
        """Regex scrub must be a pure scan→project pipeline: zero
        exchanges, zero Python — one codegen stage over the scan."""
        plan = plan_of(spark, "q_llm_pii_redact")
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_weighted_median_no_global_sort(self, spark):
        """All shuffles key on the group (or group,value) columns; the
        ordering runs inside window partitions — never a global
        rangepartitioning sort."""
        plan = plan_of(spark, "q_agg_weighted_median")
        assert "Exchange rangepartitioning" not in plan
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert hash_ex
        for e in hash_ex:
            assert "flag" in e, e
        assert "BatchEvalPython" not in plan

    def test_survivor_text_never_shuffles(self, spark):
        """Survivorship shuffles only (hash, id, length) — the text
        column must be projected away before the window exchange."""
        plan = plan_of(spark, "q_llm_dedup_survivor")
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert hash_ex
        for e in hash_ex:
            assert "text_hash" in e, e
            # the raw text column would print as text#N — reject any
            # occurrence that is not the text_hash alias
            import re

            assert not re.search(r"\btext#", e), e

    def test_pagerank_iterates_by_broadcast(self, spark):
        """The |types|² edge matrix must reach every iteration join as
        a broadcast — the raw events shuffle once for the lead()
        window and the per-iteration joins add no hash exchange over
        the big side."""
        plan = plan_of(spark, "q_graph_pagerank")
        assert "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_snapshot_diff_prunes_and_joins(self, spark):
        """The diff reads only (key, price) from the scan and stays an
        equi-join — never a nested-loop product."""
        df = QUERIES["q_snapshot_diff"](spark, SF_DIR)
        read = plans.read_schema(df)
        assert set(read) == {"o_orderkey", "o_totalprice"}, read
        plan = plan_of(spark, "q_snapshot_diff")
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestRound5bPlans:
    def test_star_join_broadcasts_dims_and_pushes_dates(self, spark):
        """Q5 shape: dims reach the fact chain as broadcasts, the
        year predicate reaches the orders parquet reader, and nothing
        degenerates to a nested-loop product."""
        df = QUERIES["q_star_join_region"](spark, SF_DIR)
        pf = plans.pushed_filters(df)
        assert any("o_orderdate" in f for f in pf), pf
        plan = plans.executed_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan

    def test_mixture_sample_quota_is_broadcast(self, spark):
        """The per-source quota table must join as a broadcast; the
        only hash exchanges key on source (window + counts)."""
        plan = plan_of(spark, "q_llm_mixture_sample")
        assert "BroadcastHashJoin" in plan
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        for e in hash_ex:
            assert "source" in e, e
        assert "BatchEvalPython" not in plan

    def test_vocab_coverage_topk_and_broadcast(self, spark):
        """Vocab selection must be TakeOrderedAndProject (top-K, never
        a global sort) and the 50-row vocab must broadcast to the
        token stream."""
        plan = plan_of(spark, "q_llm_vocab_coverage")
        assert "TakeOrderedAndProject" in plan, plan
        assert "BroadcastHashJoin" in plan
        assert "Exchange rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan

    def test_tpch_q3_broadcast_and_pushdown(self, spark):
        """Q3 shape: the segment-filtered customer broadcasts, both
        date predicates reach their parquet readers, and the top-10 is
        TakeOrderedAndProject — never a global sort."""
        df = QUERIES["q_tpch_q3"](spark, SF_DIR)
        pf = plans.pushed_filters(df)
        assert any("o_orderdate" in f for f in pf), pf
        assert any("l_shipdate" in f for f in pf), pf
        plan = plans.executed_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan

    def test_spatial_grid_is_equi_join(self, spark):
        """The radius join must plan as an equi-join on the cell id
        (hash or broadcast), NEVER a nested-loop/cartesian distance
        join, and stay fully JVM-side."""
        plan = plan_of(spark, "q_join_spatial_grid")
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) \
            or ("ShuffledHashJoin" in plan), plan
        assert "BatchEvalPython" not in plan

    def test_triangles_no_cartesian(self, spark):
        """Degree-oriented intersection counting: every data-bearing
        join (bucket-cap, pair-gen, orientation, adjacency attach) is
        an equi-join; the wedge stream must NOT materialize as rows —
        the count comes from array_intersect over bounded out-neighbor
        arrays — and the only permitted products are the
        BroadcastNestedLoopJoins stapling the single-row summary
        aggregates together (1×1 by construction)."""
        plan = plan_of(spark, "q_graph_triangles")
        assert "CartesianProduct" not in plan
        assert "array_intersect" in plan, plan
        # no explode of wedge pairs anywhere — the Σ outdeg² stream
        # stays inside the executor as array intersection
        assert "Generate explode" not in plan, plan
        assert (
            plan.count("SortMergeJoin")
            + plan.count("ShuffledHashJoin")
            + plan.count("BroadcastHashJoin")
            >= 4
        ), plan
        assert "BatchEvalPython" not in plan

    def test_chisq_single_event_shuffle(self, spark):
        """The contingency count is ONE map-side-combined groupBy over
        events; the marginal windows run over the tiny cell table, so
        no exchange may key on anything wider."""
        plan = plan_of(spark, "q_stat_chisq")
        assert "partial_count" in plan or "HashAggregate" in plan
        assert "BatchEvalPython" not in plan

    def test_attribution_one_window_no_self_join(self, spark):
        """Last-touch attribution must be the single-pass window form:
        exactly one hashpartitioning exchange (user_id), zero joins."""
        plan = plan_of(spark, "q_event_attribution")
        assert "Join" not in plan, plan
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(hash_ex) == 1 and "user_id" in hash_ex[0], hash_ex


class TestRound5cPlans:
    def test_sort_merge_hint_respected(self, spark):
        """The merge hint must pin SMJ (the large⋈large strategy whose
        memory is O(sort buffer), not O(build side))."""
        plan = plan_of(spark, "q_join_sort_merge")
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan, plan

    def test_tpch_q10_broadcasts_dims_and_heap_topk(self, spark):
        plan = plan_of(spark, "q_tpch_q10")
        # customer and nation ride broadcasts; the only wide shuffle
        # is the fact chain + final agg
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan

    def test_tpch_q18_semi_filters_before_wide_join(self, spark):
        plan = plan_of(spark, "q_tpch_q18")
        assert "LeftSemi" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_event_path_bounded_state_no_join(self, spark):
        """Per-user state is bounded BEFORE collection: a rank-5
        window (running over the same user_id exchange the groupBy
        needs — exactly one user_id exchange total) trims each user
        to five events, so collect_list never gathers an unbounded
        history. No joins anywhere."""
        plan = plan_of(spark, "q_event_path_topk")
        assert "Join" not in plan, plan
        assert "Window" in plan, plan
        user_ex = [
            l
            for l in plan.splitlines()
            if "Exchange hashpartitioning(user_id" in l
        ]
        assert len(user_ex) == 1, plan
        assert "BatchEvalPython" not in plan

    def test_tpch_q21_decorrelates_to_shared_semi_anti(self, spark):
        """The correlated EXISTS / NOT EXISTS pair must decorrelate to
        a LEFT SEMI and a LEFT ANTI join, both keyed on l_orderkey
        with the <> correlation as a non-equi residual, stacked on the
        SAME sorted fact leg — at most three l_orderkey exchanges (one
        per lf leg), never a re-shuffle between the two rewrites. The
        orderstatus filter reaches the orders scan and the top-100 is
        a heap, not a global sort."""
        plan = plan_of(spark, "q_tpch_q21")
        assert "LeftSemi" in plan, plan
        assert "LeftAnti" in plan, plan
        ok_ex = [
            l
            for l in plan.splitlines()
            if "Exchange hashpartitioning(l_orderkey" in l
        ]
        assert len(ok_ex) <= 3, plan
        assert "EqualTo(o_orderstatus,F)" in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

    def test_bigram_lm_window_reuses_group_exchange(self, spark):
        """The P(w2|w1) denominator window partitions on a prefix of
        the (w1, w2) grouping key: Spark may need one re-partition on
        w1, but text must never appear in an exchange and no python."""
        plan = plan_of(spark, "q_llm_bigram_lm")
        assert "BatchEvalPython" not in plan
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text" not in line, line


class TestRound5dPlans:
    def test_overlap_matrix_no_self_join(self, spark):
        """Pair expansion must be map-side from per-user sets — the
        users⋈users self-join form skews on hot users at scale. The
        only joins allowed are the broadcast denominator crossJoin."""
        plan = plan_of(spark, "q_event_overlap_matrix")
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
        assert "BatchEvalPython" not in plan

    def test_seasonality_single_narrow_shuffle(self, spark):
        plan = plan_of(spark, "q_ts_seasonality")
        assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "")  # only the broadcast total
        assert "BatchEvalPython" not in plan

    def test_profile_single_scan(self, spark):
        """The profile must be ONE pass: render + stack + a
        partial-counted (column_name, value) pre-aggregate, never
        |columns| scans of orders and never the multi-distinct Expand
        (round 14: the Expand's planner-internal exchange was
        AQE-coalesced to ~one read, 37.9 s vs 4.6 s at sf1.0; round
        15 ADVICE: the pre-agg restores map-side reduction so shuffle
        bytes are O(distinct pairs), not O(|cols|*rows))."""
        plan = plan_of(spark, "q_profile_table")
        assert plan.count("orders.parquet") <= 2, plan
        assert "Expand" not in plan, plan
        # map-side combine must survive: a partial aggregate feeds the
        # (column_name, value) exchange.
        assert "partial" in plan.lower(), plan
        assert "BatchEvalPython" not in plan

    def test_safety_filter_codegen_cascade(self, spark):
        plan = plan_of(spark, "q_llm_safety_filter")
        assert "BatchEvalPython" not in plan
        assert "Join" not in plan, plan

    def test_hybrid_rrf_takeordered_candidates(self, spark):
        """Both candidate lists must come from TakeOrderedAndProject
        heaps; the only sort a window sees is over the ≤50 survivors."""
        plan = plan_of(spark, "q_llm_hybrid_rrf")
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan


class TestRound6Plans:
    """Plan pins for the round-5d tail (round-6 VERDICT task 8): the
    single-exchange / no-Python shapes these queries were designed
    around, frozen so a regression fails CI while results stay green."""

    def test_repeat_rate_two_narrow_shuffles_no_join(self, spark):
        """Cohort month and lifetime count come from ONE per-customer
        aggregation — no cohort⋈counts join; exactly two hash
        exchanges (o_custkey, then cohort_month)."""
        plan = plan_of(spark, "q_orders_repeat_rate")
        assert "Join" not in plan, plan
        hash_ex = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "Reused" not in l
        ]
        assert len(hash_ex) == 2, plan
        assert "BatchEvalPython" not in plan

    def test_profile_supplier_single_scan(self, spark):
        """Stack-first + partial-counted pair pre-aggregate over
        supplier — never |columns| scans, no joins, no Expand, no
        global single-partition reduce (round-15 ADVICE shape: map-
        side combine dedupes (col, value) pairs before the exchange)."""
        plan = plan_of(spark, "q_profile_supplier")
        assert plan.count("supplier.parquet") <= 2, plan
        assert "Join" not in plan, plan
        assert "Expand" not in plan, plan
        assert "partial" in plan.lower(), plan
        assert "BatchEvalPython" not in plan

    def test_histogram2d_one_mapcombined_agg(self, spark):
        """Band keys are computed IN the grouping expression: one
        partial+final hash aggregate straight off the scan, zero
        joins, one hash exchange."""
        plan = plan_of(spark, "q_agg_histogram2d")
        assert "Join" not in plan, plan
        hash_ex = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "Reused" not in l
        ]
        assert len(hash_ex) == 1, plan
        assert "partial_count" in plan or "partial" in plan.lower(), plan
        assert "BatchEvalPython" not in plan

    def test_mix_trend_window_over_tiny_frame(self, spark):
        """The share window partitions by month over the already-
        aggregated |months|×|priorities| frame — no joins, two hash
        exchanges (group key, then month), exactly one Window."""
        plan = plan_of(spark, "q_orders_mix_trend")
        assert "Join" not in plan, plan
        hash_ex = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "Reused" not in l
        ]
        assert len(hash_ex) == 2, plan
        assert plan.count("Window") >= 1, plan
        assert "BatchEvalPython" not in plan

    def test_ts_impute_user_keyed_exchanges_only(self, spark):
        """Gap-filling runs per user: every hash exchange keys on
        user_id (never ts or value), the only join is the broadcast
        mode attach, and all sequencing is window-side."""
        plan = plan_of(spark, "q_ts_impute")
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                assert "user_id" in line, line
        assert "BatchEvalPython" not in plan

    def test_typicality_broadcast_model_no_wide_join(self, spark):
        """The n-gram model attaches by BROADCAST onto the per-doc
        term stream — a shuffled join on term would carry the corpus;
        the corpus-size scalar is one SinglePartition reduce."""
        plan = plan_of(spark, "q_llm_typicality")
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert plan.count("Exchange SinglePartition") >= 1, plan
        assert "BatchEvalPython" not in plan


class TestRound8Plans:
    def test_q17_scalar_agg_decorrelated(self, spark):
        """Both correlated scalar aggregates must be REWRITTEN into
        per-partkey HashAggregates joined back on l_partkey — never
        per-outer-row re-execution (no remaining ScalarSubquery on
        lineitem) and never a cartesian. The part filter reaches the
        scan; all lineitem exchanges carry l_partkey partials."""
        plan = plan_of(spark, "q_tpch_q17")
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
        assert "Subquery" not in plan, plan  # fully decorrelated
        # per-partkey aggregate legs exist and key their exchanges
        part_ex = [
            l
            for l in plan.splitlines()
            if "Exchange hashpartitioning(l_partkey" in l
        ]
        assert 1 <= len(part_ex) <= 2, plan
        assert "EqualTo(p_brand,Brand#4)" in plan, plan
        assert "LessThan(p_size,15)" in plan, plan

    def test_q20_two_key_decorrelation_colocated(self, spark):
        """The two-key correlated SUM must decorrelate into a
        groupBy(l_partkey, l_suppkey) aggregate joined on the SAME
        two keys as the outer aggregate (one key layout, co-located
        at scale); the part-name IN and the supplier IN must both be
        LeftSemi; the 1997 range must reach the lineitem scan."""
        plan = plan_of(spark, "q_tpch_q20")
        assert plan.count("LeftSemi") >= 3, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
        assert "Subquery" not in plan, plan
        two_key_ex = [
            l
            for l in plan.splitlines()
            if "Exchange hashpartitioning" in l
            and "l_partkey" in l
            and "l_suppkey" in l
        ]
        assert len(two_key_ex) == 2, plan
        assert "GreaterThanOrEqual(l_shipdate" in plan, plan
        assert "StartsWith(p_name,small)" in plan, plan


def final_plan_of(spark, name: str) -> str:
    """The EXECUTED, AQE-finalized plan (runtime reuse/demotions
    visible) — runs the query once JVM-side, no driver transfer."""
    df = QUERIES[name](spark, SF_DIR)
    jqe = df._jdf.queryExecution()
    jqe.executedPlan().execute().count()
    return jqe.executedPlan().toString().split("== Initial Plan ==")[0]


class TestRound8TpchPlans:
    def test_q4_exists_semi_with_date_pushdown(self, spark):
        """The correlated EXISTS must become a LeftSemi; the quarter
        range must reach the orders scan so the probe side shrinks
        before any exchange."""
        plan = plan_of(spark, "q_tpch_q4")
        assert "LeftSemi" in plan, plan
        assert "Subquery" not in plan, plan
        assert "GreaterThanOrEqual(o_orderdate" in plan, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

    def test_q5_only_orderkey_exchanges(self, spark):
        """Six-table chain: every dimension (customer, supplier,
        nation, region) broadcasts — the only wide exchanges carry
        the orderkey fact join. The nation-equality condition rides
        the supplier broadcast join, never a shuffle."""
        plan = plan_of(spark, "q_tpch_q5")
        assert plan.count("BroadcastHashJoin") >= 4, plan
        # permitted exchange keys: the fact orderkey join (wide at
        # cluster scale; AQE broadcasts it at fixture scale) and the
        # final n_name aggregate — never custkey/suppkey/nationkey
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                assert "orderkey" in line or "n_name" in line, line
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

    def test_q7_shipdate_pushed_nations_broadcast(self, spark):
        plan = plan_of(spark, "q_tpch_q7")
        assert "GreaterThanOrEqual(l_shipdate" in plan, plan
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

    def test_q8_market_single_pass_share(self, spark):
        """p_type prunes at the part scan; the share is CASE-summed in
        ONE aggregate — no numerator⋈denominator join, so at most the
        two fact exchanges appear."""
        plan = plan_of(spark, "q_tpch_q8")
        assert "EqualTo(p_type,PROMO)" in plan, plan
        wide = [
            l
            for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "Reused" not in l
        ]
        assert len(wide) <= 2, plan
        assert plan.count("BroadcastHashJoin") >= 6, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

    def test_q13_left_join_survives_zero_bucket(self, spark):
        """The exclusion filter must stay ON the join (LeftOuter
        preserved) — a post-join WHERE would drop the zero-order
        customers the histogram exists to count."""
        plan = plan_of(spark, "q_tpch_q13")
        assert "LeftOuter" in plan, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan

    def test_q15_revenue_view_computed_once(self, spark):
        """The revenue view feeds both the scalar MAX and the final
        join; the EXECUTED plan must serve both from one exchange
        (AQE ReusedExchange) — computing a 100 TB aggregate twice is
        the classic view-inlining regression."""
        plan = final_plan_of(spark, "q_tpch_q15")
        assert "ReusedExchange" in plan, plan
        assert "BatchEvalPython" not in plan

    def test_q19_disjunction_reaches_scan(self, spark):
        """Catalyst must derive the quantity-only OR from the three
        brand/size/quantity arms and push it into the lineitem scan —
        no arm alone spans the filter, but their union constrains
        l_quantity to [1,30] bandwise."""
        plan = plan_of(spark, "q_tpch_q19")
        li_scans = [
            l
            for l in plan.splitlines()
            if "Scan parquet" in l or "FileScan parquet" in l
        ]
        assert any(
            "l_quantity" in l and ("Or(" in l or " OR " in l) for l in li_scans
        ), plan
        assert "BroadcastHashJoin" in plan, plan
        assert "BatchEvalPython" not in plan

    def test_q22_anti_join_and_inlist_pushdown(self, spark):
        """NOT EXISTS on recent orders → LeftAnti keyed on custkey;
        the 6-nation IN-list must prune the customer scan; the two
        exact-average scalars stay as one-row uncorrelated
        subqueries (executed once, broadcast)."""
        plan = plan_of(spark, "q_tpch_q22")
        assert "LeftAnti" in plan, plan
        assert "In(c_nationkey" in plan, plan
        assert "GreaterThanOrEqual(o_orderdate" in plan, plan
        assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


class TestSemDedupPlan:
    def test_semdedup_assignment_is_map_side(self, spark, monkeypatch):
        """Cluster assignment is functions/vectors.py nearest: every
        (vector, pivot) cosine and the partial min_by run map-side, in
        codegen, so the one vec_id exchange moves one combined row per
        vector and task; the 32-row pivot cross join is one of at
        most two nested-loop joins (the other attaches the embedding
        contract's modal-dim scalar, tables.py). The assignment is
        materialized, so the pair stage
        reads it once and never reshuffles the corpus on vec_id. No
        nested HOF, no cartesian, no Python anywhere."""
        from fact_hive_custom_spark.materialize import materialize
        from fact_hive_custom_spark.queries import llm_ops

        seen = []  # (plan, nested HOFs) of the assignment, before it runs

        def record(df):
            seen.append((plans.executed_plan(df), plans.nested_hof_count(df)))
            return materialize(df)

        monkeypatch.setattr(llm_ops, "materialize", record)
        df = QUERIES["q_llm_semdedup"](spark, SF_DIR)
        ((aplan, a_nested),) = seen
        assert hash_keys(aplan) == [("dim",), ("dim",), ("vec_id",)], aplan
        assert "partial_min_by" in aplan, aplan
        assert aplan.count("BroadcastNestedLoopJoin") <= 2, aplan
        plan = plans.executed_plan(df)
        assert "Scan ExistingRDD" in plan, plan
        assert hash_keys(plan) == [
            ("cluster", "bkt"), ("cluster", "bkt"), ("dropped",)
        ], plan
        assert a_nested == 0 and plans.nested_hof_count(df) == 0
        for text in (aplan, plan):
            assert "CartesianProduct" not in text
            assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


class TestRound8bPlans:
    def test_ttest_one_moment_shuffle_then_tiny_matrix(self, spark):
        """Welch t-test: the only wide work is ONE map-side-combined
        moment aggregation per leg keyed on event_type; the pairwise
        test matrix is a broadcast nested-loop over the ≤|types| moment
        rows (non-equi type_a < type_b), never a cartesian of events;
        all the DECIMAL(38,0) arithmetic stays in codegen."""
        plan = plan_of(spark, "q_stat_ttest_welch")
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                assert "event_type" in line, line
        assert "partial_sum" in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") == 1, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_bpe_pair_count_runs_over_vocab_not_corpus(self, spark):
        """BPE merge induction: the corpus collapses to its word-
        frequency table FIRST (exchange on word), and the adjacent-pair
        explode+aggregate runs over |vocab| (exchange on pair) — the
        two hash exchanges are the whole wide plan; the ranking window
        sees only the ≤|charset|² aggregated pair relation."""
        plan = plan_of(spark, "q_llm_bpe_pairs")
        keys = [
            line.split("hashpartitioning(")[1].split("#")[0]
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "Reused" not in line
        ]
        assert sorted(keys) == ["pair", "word"], keys
        # the window's child must be the pair aggregate, not raw tokens
        win = plan.split("Window ")[1]
        assert "HashAggregate(keys=[pair" in win, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_url_canonicalization_is_map_only_until_dedup(self, spark):
        """Canonical-URL dedup: the regex/array normalization chain is
        fused into the scan stage (no exchange before the groupBy) and
        every exchange carries the canonical key — the count(distinct
        url) adds only the standard two-round distinct expansion keyed
        on (canonical_url, url), never a join or a second scan."""
        plan = plan_of(spark, "q_llm_url_canonical")
        ex = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "Reused" not in line
        ]
        assert ex and all("canonical_url" in line for line in ex), plan
        assert "Join" not in plan, plan
        scans = [
            line
            for line in plan.splitlines()
            if "Scan parquet" in line or "FileScan" in line
        ]
        assert len(scans) == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_dedup_eval_confusion_matrix_stays_distributed(self, spark):
        """Dedup evaluation: truth (exact Jaccard) and prediction
        (LSH-verified) legs full-outer-join on the pair key and reduce
        to ONE confusion row — no cartesian, no Python eval, no
        driver-side set comparison."""
        plan = plan_of(spark, "q_llm_dedup_eval")
        assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_bpe_train_iterates_on_vocab_without_driver_loop(self, spark):
        """Iterative BPE: every exchange is keyed on word or the pair
        grouping — the '~~'-encoded symbol strings never key a shuffle;
        each data-dependent merge winner attaches as a 1-row broadcast
        nested loop inside its round's materialize (no CartesianProduct,
        no collect-and-rebuild), the argmax is a TakeOrdered heap (no
        global sort window), and the per-round vocab tables are
        materialized, so each branch of the
        3-branch union reads its round's vocab (Scan ExistingRDD) and
        none re-explodes the corpus."""
        plan = plan_of(spark, "q_llm_bpe_train")
        keys = {
            line.split("hashpartitioning(")[1].split("#")[0]
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "Reused" not in line
        }
        assert keys <= {"word", "_groupingexpression"}, keys
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 4, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert plan.count("Scan ExistingRDD") == 3, plan
        assert "Scan parquet" not in plan, plan
        assert "Exchange SinglePartition" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_pq_codebook_broadcasts_corpus_never_reshuffles_wide(self, spark):
        """Product quantization: the 128-row codebook (16 centroids × 8
        subspaces) joins as a BroadcastHashJoin — the corpus-side
        subvector stream is never exchanged to meet it; hash exchanges
        carry only vec_id (argmin + code pivot) and the embedding
        contract's dim key; the only nested loops are the two bounded
        1×n scalar attaches (global scale, modal dim); all distance
        arithmetic is integer codegen, no Python."""
        plan = plan_of(spark, "q_llm_pq_codes")
        keys = {
            line.split("hashpartitioning(")[1].split("#")[0]
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "Reused" not in line
        }
        assert keys <= {"vec_id", "dim"}, keys
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 2, plan

    def test_ivfpq_topk_is_two_stage_no_per_probe_full_sort(self, spark):
        """IVFPQ/ADC serving (round-9 fix for the r8 scale-killer):
        with few probes, a single row_number window PARTITION BY
        probe_id sorts the entire corpus candidate set in one task per
        probe. Pin the two-stage shape: a salted partial-top-5 window
        partitioned by (probe_id, pmod(neighbor_id, 32)) bounds every
        sort to |corpus|/32, and the final probe_id-only window runs
        over ≤ 160 salted survivors. Both window partition specs must
        be present; no single-partition exchange, no cartesian, no
        Python eval."""
        plan = plan_of(spark, "q_llm_ivfpq_topk")
        win_parts = [
            line.split("Window ", 1)[1]
            for line in plan.splitlines()
            if "+- Window [" in line
        ]
        assert len(win_parts) == 2, plan
        assert any("salt" in w for w in win_parts), (
            "salted partial top-k window missing:\n" + plan
        )
        # WindowGroupLimit Partial/Final = rank-limit pushdown: each
        # task keeps only its per-group top-5 BEFORE the exchange.
        assert "row_number(), 5, Partial" in plan, plan
        assert "row_number(), 5, Final" in plan, plan
        # the only SinglePartition exchanges allowed are the 1-row
        # scalar attaches (global scale) feeding BroadcastExchange —
        # never on the candidate top-k path
        for i, line in enumerate(plan.splitlines()):
            if "Exchange SinglePartition" in line:
                above = plan.splitlines()[max(0, i - 3) : i]
                assert any("BroadcastExchange" in a for a in above), plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestMediaDedupPlan:
    def test_media_dedup_banded_equi_join_not_all_pairs(self, spark):
        """Perceptual-hash media dedup: candidates must come from an
        EQUI-join keyed on (band_index, band_value) — the pigeonhole-
        exact rewrite of the all-pairs Hamming join. An all-pairs
        shape would surface as a nested-loop join carrying media_id;
        the only nested loops allowed are the bounded 1×n scalar
        attaches (global scale, contract dim). The Hamming verify
        rides inside the candidate join (no join-back re-scan), so no
        join on keep_id/drop_id should exist either."""
        import re

        plan = plan_of(spark, "q_llm_media_dedup")
        assert re.search(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
            r" \[j#\d+, v#\d+L?\]",
            plan,
        ), plan
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "media_id" not in line, line
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert not re.search(r"Join \[keep_id#\d+L?\]", plan), (
            "join-back to the bands relation reappeared:\n" + plan
        )

    def test_ivfpq_pruned_co_partitioned_and_salted(self, spark):
        """Full IVFPQ (cluster pruning + ADC): every hash exchange is
        keyed on vec_id (codes/assignment co-partition on the same
        key — no new shuffle shape for best ⋈ assign), probe_id (the
        16-row-bounded centroid ranking + the two salted top-k
        stages), or the embedding contract's dim. Exactly three
        windows (centroid rank, salted partial, final), all
        rank-limit pushed (WindowGroupLimit); pivots/codebook/probe
        tables attach as bounded broadcasts — no cartesian, no
        Python."""
        plan = plan_of(spark, "q_llm_ivfpq_pruned")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"vec_id", "probe_id", "dim"}, keys
        assert sum("+- Window [" in l for l in plan.splitlines()) == 3, plan
        assert "WindowGroupLimit" in plan, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestKMeansPlan:
    def test_kmeans_assignment_is_one_vec_id_exchange(self, spark):
        """Lloyd k-means (clustering.py): the corpus reaches its
        cluster through functions/vectors.py nearest — a broadcast
        join of the K centroid rows and a min_by per vec_id combined
        map-side, so each assignment's one hash exchange is on vec_id.
        The T Lloyd rounds sit in the final plan: each adds one
        assignment, one partially aggregated (cid, dim) update and one
        pack of the K centroid rows (cid, except the seed's); the last
        assignment and the cluster summary (cluster) close it. The
        codes relation is checkpointed (T+1 assignments share one
        quantize pass); no nested HOF, no cartesian of data against
        data, no Python."""
        from fact_hive_custom_spark.queries.clustering import _KM_T

        df = QUERIES["q_llm_kmeans"](spark, SF_DIR)
        plan = plans.executed_plan(df)
        want = [("cid",)] * _KM_T + [("cid", "_groupingexpression")] * _KM_T
        want += [("cluster",)] + [("vec_id",)] * (_KM_T + 1)
        assert hash_keys(plan) == sorted(want), plan
        assert "partial_min_by" in plan, plan
        assert plans.nested_hof_count(df) == 0, plan
        # the quantized corpus is eagerly checkpointed (clustering.py
        # _quantized), so every Lloyd round reads a checkpointed RDD
        # instead of replaying the contract+quantize subtree
        assert "Scan ExistingRDD" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_kmeans_round_update_partially_aggregated(self, spark):
        """One Lloyd ROUND in isolation (the unit the final plan
        repeats per round): the assignment is one map-side-combined
        min_by exchange on vec_id, and the K×D update shuffle is
        partially aggregated map-side."""
        import os

        from fact_hive_custom_spark.queries import clustering as cl

        sf_dir = os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")
        q = cl._quantized(spark, sf_dir)
        cent0 = (
            q.orderBy("vec_id")
            .limit(cl._KM_K)
            .select(
                F.col("vec_id").alias("cid"),
                F.posexplode("us").alias("pos", "u"),
            )
            .select(
                "cid",
                (F.col("pos") + 1).cast("bigint").alias("dim"),
                (F.lit(cl._KM_SCALE) * F.col("u")).cast("bigint").alias("c"),
            )
        )
        one_round = cl._update(cl._assign(q, cl._centroids(cent0)))
        plan = one_round._jdf.queryExecution().executedPlan().toString()
        assert hash_keys(plan) == [("cid", "_groupingexpression"), ("vec_id",)], plan
        assert "partial_min_by" in plan, plan
        assert "partial_sum(u" in plan
        assert plans.nested_hof_count(one_round) == 0, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPQTrainPlan:
    def test_pq_train_shuffles_stay_on_code_keys(self, spark):
        """PQ codebook training (q_llm_pq_train): each round's
        assignment is functions/vectors.py nearest — the codebook
        broadcast-joins on the subspace m, and a min_by per
        (vec_id, m) cell is combined map-side before its one exchange;
        the codebook update exchanges the bounded (m, code) cells. The
        training rounds are checkpointed, so the final plan holds the
        last assignment and update. Never a wide-vector reshuffle on
        vec_id alone, no nested HOF, no cartesian of data against
        data, no Python."""
        df = QUERIES["q_llm_pq_train"](spark, SF_DIR)
        plan = plans.executed_plan(df)
        assert hash_keys(plan) == [("m", "code"), ("vec_id", "m")], plan
        assert "BroadcastExchange" in plan
        assert "partial_min_by" in plan, plan
        assert plans.nested_hof_count(df) == 0, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPcaPowerPlan:
    def test_pca_scatter_cached_outer_product_map_side(self, spark):
        """PCA power iteration (q_llm_pca_power): the D²-row scatter
        matrix is computed from ONE corpus pass (a single posexplode
        whose row computes its product vector in one transform(),
        accumulated as D columnar SUMs and stack()-unpivoted — never a
        second posexplode over n·D² rows, never a self-join of the
        long form on vec_id) and MATERIALIZED; the three matrix–vector
        rounds read the materialized matrix (Scan ExistingRDD, never
        the corpus), attach vectors by broadcast, and no join anywhere
        degrades to SortMergeJoin. No cartesian of data against data,
        no Python."""
        plan = plan_of(spark, "q_llm_pca_power")
        assert "Scan ExistingRDD" in plan
        assert "Scan parquet" not in plan
        assert "SortMergeJoin" not in plan, [
            l for l in plan.splitlines() if "SortMergeJoin" in l
        ]
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # the iterate side never hashes the corpus: every top-level
        # hash exchange keys on matrix/vector coordinates
        for line in plan.splitlines():
            if "Exchange hashpartitioning(vec_id" in line:
                raise AssertionError(line)


class TestPrefixJaccardPlan:
    def test_prefix_join_no_cartesian_keys_bounded(self, spark):
        """Prefix-filter Jaccard (q_llm_prefix_jaccard): the candidate
        join keys on prefix SHINGLES (hash-partitionable equi-join,
        never a cartesian), verification joins key on doc ids +
        shingle, the df/size/rank windows share the shingle and
        doc_id exchanges, and no Python anywhere."""
        plan = plan_of(spark, "q_llm_prefix_jaccard")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"shingle", "doc_id", "doc_a", "doc_b"}, keys
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Window" in plan  # df + size + prefix-rank windows


class TestBigramPplPlan:
    def test_bigram_ppl_text_never_shuffles(self, spark):
        """Perplexity scoring (q_llm_bigram_ppl): every hash exchange
        carries words/counts ((w1, w2), w1) or the per-doc integer
        partial sums (doc_id) — the raw text column never enters an
        exchange; the vocab size attaches as a 1-row broadcast; the
        final top-20 is TakeOrderedAndProject, not a global sort; no
        cartesian of data against data, no Python."""
        plan = plan_of(spark, "q_llm_bigram_ppl")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                key = line.split("hashpartitioning(")[1]
                keys.add(key.split("#")[0])
                assert "text#" not in line, line
        assert keys <= {"w1", "w2", "doc_id", "tok"}, keys
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestContainmentPlan:
    def test_containment_one_sided_prefix_equi_join(self, spark):
        """Containment join (q_llm_containment): candidate generation
        is an equi-join on prefix shingles (hash-partitionable —
        never cartesian), all other exchanges carry doc ids; the
        contained side alone is prefix-pruned, no Python anywhere."""
        plan = plan_of(spark, "q_llm_containment")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"shingle", "doc_id", "doc_a", "doc_b"}, keys
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestKruskalPlan:
    def test_kruskal_corpus_contributes_two_count_shuffles(self, spark):
        """Kruskal–Wallis (q_stat_kruskal): the raw events stream is
        reduced by map-combined counts before its only exchanges
        (per-x and per-(event_type, x)); the unpartitioned rank
        window runs over the DISTINCT-VALUE distribution, never raw
        rows; everything after is 1-to-5-row aggregates. No Python,
        no data×data cartesian."""
        plan = plan_of(spark, "q_stat_kruskal")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"x", "event_type"}, keys
        # partial aggregation precedes every corpus-sized exchange
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestChangepointPlan:
    def test_changepoint_corpus_one_count_shuffle_topk_heap(self, spark):
        """Changepoint (q_ts_changepoint): the corpus collapses to its
        hourly buckets in one map-combined count before the only
        corpus-sized exchange (keyed h); the prefix-sum window and
        argmax run over the bounded bucket series; top-1 is
        TakeOrderedAndProject, never a global sort of raw rows."""
        plan = plan_of(spark, "q_ts_changepoint")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        # the bucket key appears as the groupBy expression alias
        assert keys <= {"h", "_groupingexpression"}, keys
        assert "partial_count" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestRankTestPlans:
    def test_mannwhitney_exchanges_stay_on_grid_keys(self, spark):
        """Mann-Whitney (q_stat_mannwhitney): the raw events stream is
        map-combined into per-(type, x) counts before its only
        corpus-sized exchange; the densified grid, per-type running
        sums, and the k²/2 pair join all key on the bounded value
        domain — no exchange keys on anything row-scaled, no Python,
        no data×data cartesian (the grid cross join broadcasts the
        k-row type list)."""
        plan = plan_of(spark, "q_stat_mannwhitney")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"ty", "x", "xa", "xb", "type_a", "type_b"}, keys
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_ks2_exchanges_stay_on_grid_keys(self, spark):
        """Two-sample KS (q_stat_ks2): same skeleton as mannwhitney —
        one map-combined count per (type, x), grid windows on the
        bounded domain, per-type totals broadcast onto the pair join
        (never shuffled), MAX aggregate on pair keys."""
        plan = plan_of(spark, "q_stat_ks2")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"ty", "x", "xa", "xb", "type_a", "type_b"}, keys
        assert "partial_count" in plan
        assert "BroadcastHashJoin" in plan  # per-type totals attach
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_theil_sen_pairs_on_cached_day_series(self, spark):
        """Theil-Sen (q_ts_theil_sen): the corpus collapses to the
        materialized (type, day) sum — exchanges key only on event_type
        (+day); the O(days²) pair join builds on the calendar-bounded
        materialized series (Scan ExistingRDD), never re-scanning the
        corpus, and broadcasts one side. No Python, no cartesian."""
        plan = plan_of(spark, "q_ts_theil_sen")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        # all three consumers read the materialized series, not the corpus
        assert plan.count("Scan ExistingRDD") >= 3, plan.count("Scan ExistingRDD")
        assert "Scan parquet" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_mann_kendall_pairs_on_cached_day_series(self, spark):
        """Mann-Kendall (q_ts_mann_kendall): same skeleton as
        theil_sen — the materialized (type, day) sum feeds the pair
        join, tie counts, and day counts (three-plus reads of it, no
        corpus re-scan); exchanges key only on event_type (+day/y).
        No Python, no cartesian."""
        plan = plan_of(spark, "q_ts_mann_kendall")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type", "ta"}, keys
        assert plan.count("Scan ExistingRDD") >= 3, plan.count("Scan ExistingRDD")
        assert "Scan parquet" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_spearman_windows_share_type_exchange(self, spark):
        """Spearman (q_stat_spearman): one map-combined (type, day)
        aggregate is the only corpus-sized exchange; the four
        rank/count windows all partition by event_type (re-sorts, not
        re-exchanges) and the moment aggregate reuses the same
        partitioning. No Python, no cartesian, no join anywhere."""
        plan = plan_of(spark, "q_stat_spearman")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "partial_sum" in plan or "partial_count" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_benford_single_digit_count_exchange(self, spark):
        """Benford (q_stat_benford): the scan collapses to nine
        (digit, count) pairs in one map-combined aggregation; the
        constant digit relation, total attach, and global window all
        live on ≤ 9 rows. No Python, no cartesian."""
        plan = plan_of(spark, "q_stat_benford")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"d"}, keys
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestNgramNoveltyPlan:
    def test_novelty_exchanges_on_hash_and_doc_only(self, spark):
        """n-gram novelty (q_llm_ngram_novelty): shingles are md5'd
        map-side so no exchange ever carries shingle text — every
        hash exchange keys on h or doc_id; the df join back is
        hash-keyed (broadcast at fixture scale, co-partitioned SMJ at
        scale), never all-pairs. No Python."""
        plan = plan_of(spark, "q_llm_ngram_novelty")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"h", "doc_id"}, keys
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestZipfFitPlan:
    def test_zipf_wordcount_heap_then_bounded_window(self, spark):
        """Zipf fit (q_llm_zipf_fit): the only corpus-sized exchange
        is the wordcount groupBy on t (map-combined); the top-1000 is
        a TakeOrderedAndProject heap, never a global sort; the
        single-partition exchange feeds the row_number window over the
        ≤1000-row relation (bounded global window); the vocab-stats
        attach is a broadcast. No Python."""
        plan = plan_of(spark, "q_llm_zipf_fit")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"t"}, keys
        assert "TakeOrderedAndProject" in plan
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestLevenePlan:
    def test_levene_kruskal_skeleton_one_count_exchange(self, spark):
        """Brown-Forsythe (q_stat_levene): one map-combined count per
        (type, value) is the only corpus-sized exchange; the median
        windows and both moment aggregates run on the bounded
        distinct-value relation, the median attaches by broadcast.
        No SMJ, no cartesian, no Python."""
        plan = plan_of(spark, "q_stat_levene")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"g"}, keys
        assert "partial_count" in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestDrawdownPlan:
    def test_drawdown_single_type_partitioning_for_windows(self, spark):
        """Max drawdown (q_ts_drawdown): one map-combined (type, day)
        sum is the only corpus-sized exchange; both prefix windows and
        the final aggregate share the event_type partitioning. No
        join, no cartesian, no Python."""
        plan = plan_of(spark, "q_ts_drawdown")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "partial_sum" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestAbcClassPlan:
    def test_abc_global_cumsum_decomposed_over_bins(self, spark):
        """ABC classification (q_orders_abc_class): the global
        cumulative sum is decomposed — the parts-level prefix window
        partitions by the revenue bin (hashpartitioning on bin), so
        no part-dimension relation ever moves to a single partition;
        the only SinglePartition exchanges feed the bounded bins
        prefix and the final tiny aggregate. Bin offsets and the
        total attach by broadcast. No cartesian, no Python."""
        plan = plan_of(spark, "q_orders_abc_class")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert "bin" in keys, keys
        assert keys <= {"partkey", "bin", "abc_class"}, keys
        assert plan.count("Exchange SinglePartition") <= 2
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBollingerPlan:
    def test_bollinger_rolling_windows_share_type_exchange(self, spark):
        """Bollinger (q_ts_bollinger): one (type, day) sum exchange;
        the three rolling windows and the final aggregate share the
        event_type partitioning; the 2σ test is a squared-integer
        inequality — no sqrt, no Python, no join."""
        plan = plan_of(spark, "q_ts_bollinger")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "partial_sum" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestRunsTestPlan:
    def test_runs_cached_day_series_median_broadcast(self, spark):
        """Runs test (q_stat_runs): the (type, day) sum is read by the
        median path and the sign path; the median attaches by
        broadcast; every exchange keys on event_type. No cartesian, no
        Python."""
        plan = plan_of(spark, "q_stat_runs")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestForecastNaivePlan:
    def test_forecast_lag_windows_on_day_series(self, spark):
        """Seasonal-naive backtest (q_ts_forecast_naive): one
        (type, day) sum exchange; the two lag windows and the scoring
        aggregate share the event_type partitioning. No join, no
        cartesian, no Python."""
        plan = plan_of(spark, "q_ts_forecast_naive")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "partial_sum" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBacklogPlan:
    def test_backlog_difference_array_no_day_expansion(self, spark):
        """Backlog (q_orders_backlog): the difference-array pattern —
        fact-sized steps are the per-order ship aggregate and the
        orderkey join only; every hash exchange keys on orderkey or
        the day id; the prefix window runs on the bounded day domain
        (one SinglePartition exchange). No day×order explode of
        intervals, no Python, no cartesian."""
        plan = plan_of(spark, "q_orders_backlog")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"orderkey", "o_orderkey", "d", "l_orderkey"}, keys
        assert plan.count("Exchange SinglePartition") <= 1
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestKmeansPurityPlan:
    def test_purity_label_attach_on_vec_id_no_wide_reshuffle(self, spark):
        """Purity (q_llm_kmeans_purity): inherits the kmeans
        assignment (the pinned kmeans shape); the label attach joins
        on vec_id, the
        (cluster, label) count is map-combined, the majority pick is
        a window over the bounded label matrix. No cartesian of data
        against data, no Python."""
        plan = plan_of(spark, "q_llm_kmeans_purity")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # the assignment's min_by is combined per vector, not
        # shuffled per centroid: no exchange may key on its dist
        for line in plan.splitlines():
            if "Exchange hashpartitioning(dist" in line:
                raise AssertionError(line)


class TestCohensDPlan:
    def test_cohens_d_one_moment_exchange_tiny_pair_join(self, spark):
        """Cohen's d (q_stat_cohens_d): the ttest skeleton — one
        map-combined moment aggregate per type is the only
        corpus-sized exchange; the K²/2 pair join runs on the K-row
        moment relation (broadcast). No cartesian of data against
        data, no Python."""
        plan = plan_of(spark, "q_stat_cohens_d")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestHapaxTtrPlan:
    def test_hapax_two_shrinking_count_exchanges(self, spark):
        """Hapax/TTR (q_llm_hapax_ttr): one (doc, token) count
        exchange then a per-doc aggregate — no window, no join, no
        Python anywhere."""
        plan = plan_of(spark, "q_llm_hapax_ttr")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"doc_id"}, keys
        assert "partial_count" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestAnovaJarqueBeraPlans:
    def test_anova_single_moment_exchange(self, spark):
        """ANOVA F (q_stat_anova_f): one map-combined moment
        aggregate keyed on event_type is the only hash exchange;
        everything after is single-row algebra. No Python, no
        cartesian of data against data."""
        plan = plan_of(spark, "q_stat_anova_f")
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_jarque_bera_two_pass_broadcast_mean(self, spark):
        """Jarque–Bera (q_stat_jarque_bera): the group-mean relation
        joins back BROADCAST (never a shuffled join of the corpus
        against k rows), and every hash exchange keys on
        event_type — the two map-combined passes."""
        plan = plan_of(spark, "q_stat_jarque_bera")
        assert "BroadcastHashJoin" in plan
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"event_type"}, keys
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBootstrapPlan:
    def test_bootstrap_expansion_never_shuffles_rows(self, spark):
        """Poisson bootstrap (q_stat_bootstrap_ci): the 48× replicate
        expansion must be a map-side projection (Generate fused above
        the scan); the only hash exchange carries the per-replicate
        partial aggregates keyed on b — B×parts rows, not B corpus
        copies. The 48-row rank window may single-partition."""
        plan = plan_of(spark, "q_stat_bootstrap_ci")
        assert "Generate explode" in plan
        keys = set()
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "Reused" not in line:
                keys.add(line.split("hashpartitioning(")[1].split("#")[0])
        assert keys <= {"b"}, keys
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestGraphIterationPlans:
    def test_kcore_events_scanned_once(self, spark):
        """k-core (q_graph_kcore): the raw events feed the edge build
        exactly once — every peel round must root at the
        materialized edge RDD (Scan ExistingRDD), never replay
        the corpus window. The final plan therefore contains NO
        parquet scan of events at all."""
        plan = plan_of(spark, "q_graph_kcore")
        assert "Scan ExistingRDD" in plan
        assert "events" not in plan.lower().replace("preventserialization", "")

    def test_bfs_events_scanned_once(self, spark):
        """BFS (q_graph_bfs): hop joins root at the materialized
        co-occurrence edges and per-round frontiers, so the events
        parquet never appears in the final composed plan."""
        plan = plan_of(spark, "q_graph_bfs")
        assert "Scan ExistingRDD" in plan
        assert "events" not in plan.lower().replace("preventserialization", "")


class TestRound10Plans:
    def test_label_prop_events_scanned_once(self, spark):
        """Label propagation (q_graph_label_prop): every round roots at
        the materialized co-occurrence edges — the raw events never
        appear in the final composed plan."""
        plan = plan_of(spark, "q_graph_label_prop")
        assert "Scan ExistingRDD" in plan
        assert "events" not in plan.lower().replace("preventserialization", "")

    def test_markov_events_scanned_once(self, spark):
        """Markov stationary (q_event_markov_stationary): power rounds
        root at the materialized transition matrix; the executed plan
        scans events once, for the start vector's states."""
        plan = plan_of(spark, "q_event_markov_stationary")
        assert "Scan ExistingRDD" in plan
        assert final_plan_of(spark, "q_event_markov_stationary").count("Scan parquet") == 1

    def test_cms_sketch_exchange_is_cell_sized(self, spark):
        """CMS (q_agg_cms_estimate): the sketch side partially
        aggregates map-side (the exchange carries (j, bucket) cells,
        not raw tokens) and the probe join broadcasts the 256-cell
        sketch; no cartesian of data against data, no Python."""
        plan = plan_of(spark, "q_agg_cms_estimate")
        assert "partial_count" in plan
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_keyword_topk_window_partitioned_by_doc(self, spark):
        """Keyword top-k (q_llm_keyword_topk): the rank window is
        partitioned by doc_id (embarrassingly parallel), never a
        global (unpartitioned) window over the scored relation."""
        plan = plan_of(spark, "q_llm_keyword_topk")
        assert "row_number" in plan
        # every Window node in the plan carries a doc_id partition spec
        for line in plan.splitlines():
            if "Window" in line and "row_number" in line:
                assert "doc_id" in line, line

    def test_auc_collapses_before_rank_window(self, spark):
        """AUC (q_stat_auc_roc): the corpus collapses to |distinct
        scores| via a map-combined groupBy (partial_count/partial_sum
        present) BEFORE the single-partition rank window runs."""
        plan = plan_of(spark, "q_stat_auc_roc")
        assert "partial_count" in plan or "partial_sum" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBoundedGlobalWindows:
    """Round-10 verdict item 5: the docstring claims that every
    PARTITIONLESS window ranks a collapsed relation (distinct scores,
    calendar days, per-customer aggregates…) — never the raw corpus —
    become executable here. plans.global_window_uncollapsed_paths
    walks the physical plan: any path from a partitionless Window
    down to a file scan without an intervening aggregate/limit/top-k
    node is a violation. (q_llm_length_percentiles, named alongside
    these in the verdict, windows per-source rather than globally, so
    it is outside the partitionless class this pin covers.)"""

    # every registered query that builds a Window.orderBy with no
    # partitioning (grep-derived; extend when adding one)
    GLOBAL_WINDOW_QUERIES = [
        "q_agg_gini",
        "q_agg_quantile_sketch",
        "q_event_new_users",
        "q_llm_bpe_pairs",
        "q_llm_curriculum",
        "q_llm_hybrid_rrf",
        "q_llm_typicality",
        "q_llm_zipf_fit",
        "q_orders_abc_class",
        "q_orders_backlog",
        "q_orders_rfm",
        "q_orders_size_dist",
        "q_pareto_deciles",
        "q_stat_auc_roc",
        "q_stat_bh_fdr",
        "q_stat_bootstrap_ci",
        "q_stat_fisher_exact",
        "q_stat_kruskal",
        "q_stat_survival_km",
        "q_stat_wilcoxon_signed_rank",
        "q_ts_changepoint",
        "q_ts_error_rate",
        "q_ts_rolling_median",
    ]

    @pytest.mark.parametrize("name", GLOBAL_WINDOW_QUERIES)
    def test_global_window_input_is_collapsed(self, spark, name):
        df = QUERIES[name](spark, SF_DIR)
        bad = plans.global_window_uncollapsed_paths(df)
        assert not bad, f"{name}: uncollapsed global-window paths: {bad}"

    def test_detector_catches_a_raw_corpus_window(self, spark):
        """The pin must be falsifiable: windowing the raw lineitem
        scan globally IS a violation."""
        from pyspark.sql import Window

        from fact_hive_custom_spark.tables import load_table

        li = load_table(spark, SF_DIR, "lineitem")
        bad_df = li.withColumn(
            "rn",
            F.row_number().over(Window.orderBy("l_orderkey", "l_linenumber")),
        )
        assert plans.global_window_uncollapsed_paths(bad_df)


class TestRound11Plans:
    """Plan pins for the round-11 additions: the tuned ANN serving
    path, the mergeable quantile sketch, and the IR grading tail —
    each must keep its 100 TB shape (JVM-only expressions, top-k
    heaps instead of global sorts, broadcast staples only)."""

    def test_ann_tuned_shape(self, spark):
        """Trained-PQ serving at K=64/T=2/R=100: codebook and distance
        tables broadcast, the candidate cut a heap/window cascade, no
        Python, no data×data cartesian (the only BNLJ staples are the
        1-row global-scale broadcast of _pq_parts)."""
        plan = plan_of(spark, "q_llm_ann_tuned")
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_quantile_sketch_merge_is_heap(self, spark):
        """The sketch merge must be a TakeOrderedAndProject heap over
        the bounded |shards|·k relation — never a global sort of the
        corpus — and the corpus-wide stages stay JVM-side."""
        plan = plan_of(spark, "q_agg_quantile_sketch")
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    @pytest.mark.parametrize(
        "name", ["q_ir_mrr", "q_ir_ndcg", "q_ir_map", "q_ir_prec_recall"]
    )
    def test_ir_grading_tail_is_bounded(self, spark, name):
        """The retrieval run is the cosine_topk pinned shape (probes
        broadcast, salted two-stage top-k); the grading tail adds only
        broadcast joins of ≤10-row label counts — no Python, no
        data×data cartesian, and the embeddings file is scanned a
        bounded number of times (run + probe/label sides), never per
        probe."""
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        emb_scans = [
            l
            for l in plan.splitlines()
            if "Scan parquet" in l and "embeddings" in l
        ]
        assert len(emb_scans) <= 8, len(emb_scans)


class TestRound11Pins:
    """Plan-shape pins for the round-11b operators: each locks the
    scale property its docstring claims."""

    def test_permutation_expansion_is_not_shuffled(self, spark):
        """The 64-fold replicate expansion must be a PROJECTION fused
        before the aggregation (one scan-side Generate/explode), with
        the only exchange carrying the per-replicate partial
        quadruples — never 64 shuffled corpus copies. Pin: exactly the
        Generate node on the scan side, exchanges stay at the two
        aggregations (replicates + observed), and no exchange sits
        between the Generate and its partial aggregate."""
        plan = plan_of(spark, "q_stat_permutation_test")
        lines = plan.splitlines()
        gens = [i for i, l in enumerate(lines) if "Generate explode" in l]
        assert len(gens) == 1, "expected exactly one explode"
        # walk UP (lower index = closer to root) from the Generate: the
        # first agg boundary must appear before any Exchange, proving
        # the partial aggregation consumes the expansion map-side
        above = lines[: gens[0]]
        last_agg = max(
            (i for i, l in enumerate(above) if "HashAggregate" in l),
            default=None,
        )
        assert last_agg is not None, "no aggregate above the explode"
        between = above[last_agg + 1 :]
        assert not any("Exchange" in l for l in between), (
            "exchange between explode and its partial aggregate:\n"
            + "\n".join(between)
        )

    def test_theta_sketch_bottom_k_is_window_group_limited(self, spark):
        """The per-(segment, shard) and per-segment bottom-k heaps must
        plan as WindowGroupLimit (rank-filter pushed into the window),
        so no task ever sorts more than shard-local rows + the merge
        never exceeds shards×K. Since r15 the query checkpoints the
        ≤2K-row sketch, so the chain's shape is asserted on the
        _theta_seg_sketch helper (the exact lineage the checkpoint
        materializes) and the bounded union-sketch heap on the final
        plan."""
        from fact_hive_custom_spark.queries.aggregates import (
            _theta_seg_sketch,
            _theta_segs,
        )

        chain = _theta_seg_sketch(_theta_segs(spark, SF_DIR))
        cplan = chain._jdf.queryExecution().executedPlan().toString()
        assert cplan.count("WindowGroupLimit") >= 2, cplan[:2000]
        plan = plan_of(spark, "q_agg_theta_sketch")
        # the union-sketch top-K is a bounded heap, not a global sort
        assert "TakeOrderedAndProject" in plan

    def test_clustering_coeff_reuses_edge_exchange(self, spark):
        """The canonical-edge dedup exchange must be computed once and
        reused across the degree / orientation / triple consumers
        (the q_graph_triangles ReuseExchange discipline). Reuse is an
        AQE runtime decision, so finalize the adaptive plan by
        executing (as tools/plan_snapshot.py does for its `final`
        counts) before asserting."""
        df = QUERIES["q_graph_clustering_coeff"](spark, SF_DIR)
        jqe = df._jdf.queryExecution()
        jqe.executedPlan().execute().count()
        plan = jqe.executedPlan().toString()
        assert "ReusedExchange" in plan, plan[:1500]

    def test_dp_histogram_single_exchange(self, spark):
        """The DP release costs one map-combined groupBy(source): one
        hash exchange, zero single-partition exchanges, no Python."""
        df = QUERIES["q_llm_dp_histogram"](spark, SF_DIR)
        plan = plans.executed_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan.replace(
            "rangepartitioning", ""
        ) or "Exchange SinglePartition" not in plan
        assert not plans.uses_python(df)

    def test_exact_tests_collapse_before_combinatorics(self, spark):
        """sign test / BH / Fisher / paired t: the corpus-side
        aggregation (orders->nation-month revenue, customer->nation
        balances) must be partial (map-side combined) — the
        combinatorial tail then runs on the collapsed relation."""
        for name in (
            "q_stat_sign_test",
            "q_stat_bh_fdr",
            "q_stat_fisher_exact",
            "q_stat_paired_ttest",
        ):
            plan = plan_of(spark, name)
            assert "HashAggregate" in plan, name
            assert not plans.uses_python(QUERIES[name](spark, SF_DIR)), name


class TestRound12Plans:
    def test_hive_layout_is_hash_exchange_plus_local_sort(self, spark):
        """DISTRIBUTE BY must lower to a REPARTITION_BY_COL hash
        exchange and SORT BY to a partition-LOCAL sort (`false, 0`) on
        the full sort-key list — never a global sort; CLUSTER BY must
        produce the same pair on its single key (the q_join_sort_merge
        pinning discipline)."""
        plan = plan_of(spark, "q_sql_hive_layout")
        lines = plan.splitlines()
        # DISTRIBUTE BY suppkey and CLUSTER BY nk: user-requested
        # repartitions, not optimizer-inserted ones.
        rep = [l for l in lines if "REPARTITION_BY_COL" in l]
        assert len(rep) == 2, plan
        assert any("suppkey" in l for l in rep), rep
        assert any("nk" in l for l in rep), rep
        # SORT BY suppkey, orderkey, linenumber: local (global=false).
        local_sorts = [l for l in lines if "Sort [" in l and ", false, 0" in l]
        assert any(
            "suppkey" in l and "orderkey" in l and "linenumber" in l
            for l in local_sorts
        ), local_sorts
        # CLUSTER BY nk's local sort.
        assert any("nk#" in l for l in local_sorts), local_sorts
        # The ONLY global sort is the final deterministic ORDER BY.
        global_sorts = [l for l in lines if "Sort [" in l and ", true, 0" in l]
        assert len(global_sorts) == 1, global_sorts
        assert not plans.uses_python(QUERIES["q_sql_hive_layout"](spark, SF_DIR))


class TestRound12bPins:
    """Plan-shape pins for the round-12 widening batch: each locks
    the scale property its docstring claims."""

    def test_qualify_is_window_group_limited(self, spark):
        """The ranked-subquery QUALIFY translation must plan as a
        Partial WindowGroupLimit BELOW the hash exchange and a Final
        one above it — each map task ships at most 2 rows per
        customer, never the full order log — and the rank window then
        sees only the survivors."""
        plan = plan_of(spark, "q_sql_qualify")
        lines = plan.splitlines()
        partial = [i for i, l in enumerate(lines)
                   if "WindowGroupLimit" in l and "Partial" in l]
        final = [i for i, l in enumerate(lines)
                 if "WindowGroupLimit" in l and "Final" in l]
        assert partial and final, plan[:2000]
        # Final sits above (lower index than) the exchange; Partial below.
        exch = [i for i, l in enumerate(lines)
                if "Exchange hashpartitioning" in l]
        assert exch and final[0] < exch[0] < partial[0], (
            final, exch, partial)
        assert not plans.uses_python(QUERIES["q_sql_qualify"](spark, SF_DIR))

    def test_lateral_view_is_shuffle_free_generate(self, spark):
        """LATERAL VIEW OUTER posexplode must lower to a single outer
        Generate with ZERO hash exchanges (the only exchange is the
        presentation ORDER BY's range partitioning) and the doc_id
        filter pushed to the parquet scan."""
        plan = plan_of(spark, "q_sql_lateral_view")
        assert "Generate posexplode" in plan, plan[:1500]
        assert "Exchange hashpartitioning" not in plan
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)" in plan.replace(
            " ", ""
        ) or "LessThan(doc_id,50)" in plan.replace(" ", ""), plan[:2500]
        assert not plans.uses_python(
            QUERIES["q_sql_lateral_view"](spark, SF_DIR)
        )

    def test_theil_has_no_window(self, spark):
        """Theil is two map-combined aggregations and a broadcast of
        the |segments|-row totals — no window, no sort before the
        presentation ORDER BY, no Python."""
        plan = plan_of(spark, "q_stat_theil")
        # pin the Window exec node specifically ("Window [..." — plain
        # substring would be satisfied vacuously via WindowGroupLimit)
        assert "Window [" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert not plans.uses_python(QUERIES["q_stat_theil"](spark, SF_DIR))

    def test_hhi_dim_joins_broadcast(self, spark):
        """The lineitem→supplier and →nation dim joins must broadcast
        (never sort-merge the fact table against a dim), leaving the
        revenue groupBy as the only fact-sized exchange."""
        plan = plan_of(spark, "q_stat_hhi")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert not plans.uses_python(QUERIES["q_stat_hhi"](spark, SF_DIR))

    def test_gtest_collapses_like_chisq(self, spark):
        """The G-test shares q_stat_chisq's shape: one map-combined
        groupBy to |variants|×|outcomes| cells; the marginal windows
        run over that tiny frame, all JVM-side."""
        plan = plan_of(spark, "q_stat_gtest")
        assert "HashAggregate" in plan
        assert not plans.uses_python(QUERIES["q_stat_gtest"](spark, SF_DIR))

    def test_friedman_collapses_to_cell_table(self, spark):
        """Friedman's order-log aggregation must be map-combined; the
        rank windows and statistic run on the b×k = 60-row cell
        frame, all JVM-side."""
        plan = plan_of(spark, "q_stat_friedman")
        assert "HashAggregate" in plan
        assert not plans.uses_python(QUERIES["q_stat_friedman"](spark, SF_DIR))

    def test_adamic_adar_is_bounded_wedge_expansion(self, spark):
        """AA wedges expand from per-node sorted neighbor sets (one
        Generate), never an unbounded adjacency⋈adjacency shuffle; the
        top-50 is a bounded TakeOrdered heap; no Python."""
        plan = plan_of(spark, "q_graph_adamic_adar")
        assert "Generate explode" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert not plans.uses_python(
            QUERIES["q_graph_adamic_adar"](spark, SF_DIR)
        )

    def test_theta_join_inputs_are_collapsed_histograms(self, spark):
        """q_join_theta's theta join must consume the per-(brand, size)
        count cells, never raw part rows — the pair set is O(Σ n_k²)
        on raw rows (~8e10 pairs at sf1.0, measured 154 s) vs the
        1 250-cell weighted join (6.4 s). Pin: a join carrying the
        size band condition with an aggregate BELOW it on each side,
        and the scan pruned to the two join scalars."""
        plan = plan_of(spark, "q_join_theta")
        lines = plan.splitlines()
        join_idx = [i for i, l in enumerate(lines)
                    if ("HashJoin" in l or "SortMergeJoin" in l)]
        assert join_idx, plan[:1500]
        below = "\n".join(lines[join_idx[0]:])
        assert below.count("HashAggregate") >= 2, below[:1500]
        assert "ReadSchema: struct<p_brand:string,p_size:int>" in plan
        assert not plans.uses_python(QUERIES["q_join_theta"](spark, SF_DIR))

    def test_wilson_and_ljung_collapse_first(self, spark):
        """Wilson CI and Ljung-Box both collapse the fact table
        map-combined before any scalar algebra (giant-input/tiny-state);
        Ljung-Box's windows run on the ~2,400-day frame, all
        JVM-side."""
        for name in ("q_stat_wilson_ci", "q_ts_ljung_box"):
            plan = plan_of(spark, name)
            assert "HashAggregate" in plan, name
            assert "CartesianProduct" not in plan, name
            assert not plans.uses_python(QUERIES[name](spark, SF_DIR)), name


class TestRound13Pins:
    def test_cuped_collapses_to_per_user_then_staples(self, spark):
        """CUPED's only data-sized exchange is the per-(variant, user)
        groupBy; the pooled moments are ONE single-partition staple
        broadcast back (bounded 1-row BNLJ), and nothing runs in
        Python — CUPED must cost nothing beyond the metric query."""
        plan = plan_of(spark, "q_stat_cuped")
        assert plan.count("Exchange SinglePartition") == 1, plan[:2000]
        assert "BroadcastNestedLoopJoin" in plan  # 1-row staple only
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan
        assert not plans.uses_python(QUERIES["q_stat_cuped"](spark, SF_DIR))

    def test_dsir_scores_via_broadcast_term_table(self, spark):
        """DSIR pass 2 must score the token stream through a
        BroadcastHashJoin against the 1024-row term table (never
        shuffle the corpus on bucket id), and the top-50 must be a
        TakeOrderedAndProject heap, not a global sort."""
        plan = plan_of(spark, "q_llm_dsir")
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan  # staples are 1-row BNLJ
        assert not plans.uses_python(QUERIES["q_llm_dsir"](spark, SF_DIR))

    def test_power_mde_collapses_once(self, spark):
        """Power analysis: one map-combined per-type count + a 1-row
        control-total staple; everything downstream is scalar algebra
        on |event types| rows — no Python, no second data pass."""
        plan = plan_of(spark, "q_stat_power_mde")
        assert plan.count("Exchange SinglePartition") == 1
        assert "CartesianProduct" not in plan
        assert not plans.uses_python(QUERIES["q_stat_power_mde"](spark, SF_DIR))

    def test_rbo_rankers_share_one_fused_pass(self, spark):
        """RBO's two rankers must share ONE corpus-sized scored join
        (dot is a subexpression of cosine — round-14 fusion, VERDICT
        r13 item 3): exactly one probe≠neighbor BNLJ feeds both local
        heaps, and both rankings prune locally (lrn_c/lrn_d) before
        any per-probe window — never a second corpus pass, never a
        global window over the raw score matrix."""
        plan = plan_of(spark, "q_ir_rbo")
        # ONE scored pass: the only Inner BNLJ is the probe×corpus join
        # (the depth expansion is a LeftOuter BNLJ on 10 rows)
        assert plan.count("BroadcastNestedLoopJoin BuildRight, Inner") == 1, (
            plan[:1500]
        )
        # fused local prune: both rankers' heaps in the same chain
        assert "lrn_c" in plan and "lrn_d" in plan, plan[:1500]
        assert "CartesianProduct" not in plan  # probe joins are bounded BNLJ
        assert not plans.uses_python(QUERIES["q_ir_rbo"](spark, SF_DIR))

    def test_err_reuses_single_retrieval_pass(self, spark):
        """ERR's cascade tail must ride the same single corpus pass as
        MRR/nDCG (one probe×corpus BNLJ through the salted heap); the
        attenuation powers are literal CASEs — no Python, and the only
        Inner BNLJ is the scored join."""
        plan = plan_of(spark, "q_ir_err")
        assert plan.count("BroadcastNestedLoopJoin BuildRight, Inner") == 1, (
            plan[:1500]
        )
        assert "CartesianProduct" not in plan
        assert not plans.uses_python(QUERIES["q_ir_err"](spark, SF_DIR))

    def test_sprt_is_one_map_combined_scan(self, spark):
        """Wald SPRT: one map-combined groupBy(variant) over the event
        log, LLR algebra on 2 rows — no joins, no Python, no second
        data pass (partial_count in the aggregate marks the map-side
        combine)."""
        plan = plan_of(spark, "q_stat_sprt")
        assert "Join" not in plan, plan[:1500]
        assert "partial_count" in plan or "partial_sum" in plan, plan[:1500]
        assert not plans.uses_python(QUERIES["q_stat_sprt"](spark, SF_DIR))

    def test_holt_winters_folds_like_holt_linear(self, spark):
        """The seasonal recurrence must stay a per-series JVM fold:
        one map-combined groupBy to day cells, one collect_list per
        series, zero Python, no cartesian."""
        plan = plan_of(spark, "q_ts_holt_winters")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert not plans.uses_python(QUERIES["q_ts_holt_winters"](spark, SF_DIR))


class TestRound15Pins:
    """Round-15 additions: the unaligned substring detector."""

    def test_substring_dedup_single_agg_no_text_shuffle(self, spark):
        """Anchor hashing + the 1/8 content-defined filter happen in
        ONE generator projection off the scan (text never shuffles —
        only 32-hex fingerprints); then the standard two-level
        distinct aggregate (map-side-deduped (hash, doc) pairs, then
        per-hash counts — exactly two narrow exchanges) and a
        TakeOrdered top-50. No joins, no Python, no global sort."""
        plan = plan_of(spark, "q_llm_substring_dedup")
        assert "Join" not in plan, plan[:1500]
        assert "TakeOrderedAndProject" in plan, plan[:1500]
        hash_ex = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "Reused" not in l
        ]
        assert len(hash_ex) == 2, plan[:1500]
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert all("text#" not in e for e in exchanges), exchanges
        assert not plans.uses_python(
            QUERIES["q_llm_substring_dedup"](spark, SF_DIR)
        )

    def test_join_range_is_banded_hash_join_not_bnlj(self, spark):
        """The bounded-interval range join must stay the band-key
        decomposition: a broadcast HASH join on the hour band with the
        genuine range predicate as a residual — never the O(n·m)
        nested loop (round 15: the BNLJ went 33 → 276 s at sf1.0 the
        moment the fixture's time span grew 10×; banded, 1.9 s)."""
        plan = plan_of(spark, "q_join_range")
        assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
        assert "BroadcastHashJoin" in plan, plan[:1500]
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
