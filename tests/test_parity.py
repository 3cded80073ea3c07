"""Oracle-differential test over every registered query (SURVEY.md §5.1).

Mirrors the driver's t2 gate: Spark result vs DuckDB oracle at
$SPARK_GRAFT_PARITY_DIR (default sf0.01) — row count, schema, and
order-insensitive value multiset must all match.

Two tiers (r16, VERDICT r15 item 2 — the full 383-query sweep alone
ran ~25 min and pushed the suite past the driver's verify window):
the queries the driver itself benches (bench.HEADLINE), plus one
consumer of each shared relation builder and each query that lost a
materialize() call, run in the default tier on
every `pytest tests/`; the remaining registry runs
under FHC_SLOW_TESTS=1 (the exhaustive tier the builder runs at round
close — tools/self_correctness.py additionally covers the FULL
registry in the driver's own format)."""

from __future__ import annotations

import pytest

import bench
from fact_hive_custom_spark.queries import QUERIES
from tests.parity import DEFAULT_SF_DIR, compare

# One cheap consumer of each shared relation builder that no headline
# query runs, so a drift in a shared builder fails the default tier;
# and each non-headline query whose materialize() calls were deleted.
_FAST = set(bench.HEADLINE) | {
    "q_event_transitions",
    "q_stat_chisq",
    "q_stat_ks2",
    "q_stat_prop_ztest",
    "q_agg_gini",
    "q_stat_kruskal",  # the chi-square critical table
    "q_graph_bfs",  # the visited set is no longer materialized
    "q_event_markov_stationary",  # nor are the power rounds
    "q_stat_runs",  # nor the day series
    "q_llm_bm25_topk",  # nor the per-doc term counts
    "q_graph_pagerank",  # nor the out-weights and the node set
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in _FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_query_matches_oracle(spark, name):
    ok, detail = compare(spark, name, DEFAULT_SF_DIR)
    assert ok, f"{name}: {detail}"
