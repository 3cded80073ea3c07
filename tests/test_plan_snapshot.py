"""Registry-wide plan-shape drift net (VERDICT r12 item 5).

tests/test_plans.py pins ~150 hand-chosen shapes; this suite covers
the rest mechanically: every registered query's pre-AQE physical plan
is fingerprinted (exchange / broadcast / python / cartesian counts,
plans.inspect.plan_counts) and compared against the committed
PLAN_SNAPSHOT.json ledger (tools/plan_snapshot.py). A query whose
shuffle count GROWS, which newly acquires a Python-eval node or a
cartesian, whose count of nested higher-order functions grows, or
whose construction runs more Spark jobs (bench.phase_jobs), fails —
silent plan regressions in never-pinned queries are the class this
catches. The ledger's AQE-final counts, volumes and warm compiles are
not gated: the AQE-final plan of a few queries varies from run to run.

Improvements (fewer exchanges, dropped Python) pass but leave the
snapshot stale — regenerate with `python tools/plan_snapshot.py` so
the next regression is measured from the better plan.

Deliberate re-plans: regenerate the snapshot in the same commit and
explain the grown count in the commit message (the JSON diff is the
review surface). ALLOW_GROWTH below is for queries whose count is
legitimately nondeterministic, not a bypass for regressions.
"""

from __future__ import annotations

import json
import os

import pytest

import bench
from fact_hive_custom_spark.materialize import materialize
from fact_hive_custom_spark.plans import inspect as plans
from fact_hive_custom_spark.queries import QUERIES
from tools.plan_snapshot import ledger_row

SF_DIR = "/root/testdata/sf0.01"
SNAP_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "PLAN_SNAPSHOT.json")

with open(SNAP_PATH) as _f:
    _SNAP = json.load(_f)

# name → extra exchanges and construction jobs tolerated (legitimately
# nondeterministic plans only; a regression goes here never).
ALLOW_GROWTH: dict[str, int] = {
    # construction runs 31 or 32 jobs (fresh-process builds at sf0.01):
    # in connected_components' second round AQE broadcasts either the
    # edge side (BuildLeft) or the per-node minimum (BuildRight) of the
    # large-star and small-star joins, whichever shuffle stage is small
    # first, and BuildRight runs one more broadcast job; both sides grow
    # with the graph, so the choice stays adaptive (operators/graph.py)
    "q_llm_dedup_clusters": 1,
}

# The AQE width-collapse net (round-15 verdict item 2, generalizing the
# round-14 manual audit): plans.width_collapse_risks flags any Python-
# exec or Generate node whose nearest downstream exchange is
# AQE-coalescible (not REPARTITION_BY_NUM, not broadcast) — the static
# shape shared by all four round-14 collapses (SCALING.md §Round-14).
# A query may carry the shape ONLY with a measured/structural
# disposition below; anything new fails until width-pinned or measured
# coalesce-neutral at sf1.0 and recorded here (SCALING.md §Round-15
# has the A/B table).
WIDTH_RISK_ALLOWED: dict[str, list[str]] = {
    # pandas UDAF over 3 whole-table groups: parallelism is capped at
    # |groups|=3 structurally; coalescing cannot make it worse
    # (priced in its docstring; SCALING.md §Round-14 audit).
    "q_udaf_pandas": ["FlatMapGroupsInPandas <- Exchange[ENSURE_REQUIREMENTS]"],
    # Bounded post-aggregate Generates: each explodes a small
    # aggregated array (per-group model params, per-key posting lists
    # bounded by HAVING/top-k, set-op tallies) where the exchange
    # output is thousands of rows and the inflation factor is a small
    # constant — measured coalesce on/off at sf1.0 (round-15 A/B,
    # SCALING.md §Round-15): 18 of 20 within ±13% noise; the worst,
    # q_basket_lift / q_graph_adamic_adar / q_graph_degree_dist,
    # re-measured median-of-3 interleaved at 1.09× / 1.16× / 1.14× —
    # mild, nowhere near the 3–8× collapse class this net exists for.
    "q_agg_cms_estimate": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_basket_lift": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_event_overlap_matrix": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_except_all": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_graph_adamic_adar": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_graph_clustering_coeff": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_graph_degree_dist": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_graph_link_predict": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_intersect_all": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_llm_bloom_vocab": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_llm_bpe_pairs": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_llm_dedup_eval": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_llm_minhash_lsh": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_llm_simhash_pairs": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_orders_backlog": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_stat_fisher_exact": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_ts_holt_linear": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_ts_holt_winters": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_ts_ljung_box": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_ts_xcorr": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    # stack() unpivots each per-doc aggregate row into one row per query
    # term (×4). This lazy plan ran 0.99/1.07/0.98 s at sf1.0 against
    # 1.09/1.09/1.14 s with the per-doc frame materialized (median of 3
    # passes, paired fresh-JVM runs, 4 cores): no collapse.
    "q_llm_bm25_topk": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    # Each Lloyd update posexplodes the assigned vectors (×D) straight
    # off the vec_id assignment exchange. This lazy plan ran
    # 5.11/4.28/4.27 s (kmeans) and 4.89/4.24/4.01 s (kmeans_purity) at
    # sf1.0 against 3.87/4.66/4.99 and 3.65/4.47/5.01 s with each
    # round's centroids materialized (median of 3 passes, paired
    # fresh-JVM runs, 4 cores): no collapse.
    "q_llm_kmeans": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
    "q_llm_kmeans_purity": ["Generate <- Exchange[ENSURE_REQUIREMENTS]"],
}


def test_snapshot_covers_registry():
    """Adding a query without re-running tools/plan_snapshot.py fails
    here — the net only works if it covers everything."""
    snap_names = set(_SNAP["queries"]) | {
        s.split(":")[0] for s in _SNAP["skipped"]
    }
    assert snap_names == set(QUERIES), (
        f"snapshot drift: missing={sorted(set(QUERIES) - snap_names)[:5]} "
        f"stale={sorted(snap_names - set(QUERIES))[:5]} — "
        "regenerate with `python tools/plan_snapshot.py`"
    )


def _built(spark, name: str):
    """(DataFrame, construction jobs) of registered query `name`."""
    tag = bench.new_tag()
    bench.set_phase(spark, tag, "build")
    df = QUERIES[name](spark, SF_DIR)
    return df, bench.phase_jobs(spark, tag)["build"][0]


def _assert_no_job_growth(name: str, jobs: int) -> None:
    snap = _SNAP["queries"][name]["jobs"]["build"][0]
    assert jobs <= snap + ALLOW_GROWTH.get(name, 0), (
        f"{name}: construction jobs grew {snap} → {jobs} — a new eager "
        "job while building; justify and re-snapshot or fix"
    )


@pytest.mark.parametrize("name", sorted(_SNAP["queries"]))
def test_plan_shape_has_not_regressed(spark, name):
    if name not in QUERIES:
        pytest.skip("query removed; snapshot stale (covered above)")
    snap = _SNAP["queries"][name]
    df, jobs = _built(spark, name)
    _assert_no_job_growth(name, jobs)
    got = plans.plan_counts(df)
    slack = ALLOW_GROWTH.get(name, 0)
    for k in ("hash_ex", "single_ex", "range_ex"):
        assert got[k] <= snap[k] + slack, (
            f"{name}: {k} grew {snap[k]} → {got[k]} — a new shuffle in a "
            "previously-unpinned query; justify and re-snapshot or fix"
        )
    assert not (got["python"] and not snap["python"]), (
        f"{name}: plan newly contains Python evaluation"
    )
    assert not (got["cartesian"] and not snap["cartesian"]), (
        f"{name}: plan newly contains a cartesian/nested-loop join"
    )
    assert got["nested_hof"] <= snap["nested_hof"], (
        f"{name}: nested higher-order functions grew {snap['nested_hof']} → "
        f"{got['nested_hof']} — a HOF inside another HOF's lambda runs "
        "interpreted, outside whole-stage codegen"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unvetted_width_collapse_risk(spark, name):
    """The standing AQE width-collapse net: a Python-exec or Generate
    stage fed by a coalescible exchange serializes when AQE's byte
    heuristic undersizes it (four measured collapses in round 14, up
    to 8× — SCALING.md §Round-14). Any query acquiring that shape must
    either pin the width (user-specified repartition below the stage)
    or be measured coalesce-neutral at sf1.0 and dispositioned in
    WIDTH_RISK_ALLOWED."""
    risks = plans.width_collapse_risks(QUERIES[name](spark, SF_DIR))
    allowed = WIDTH_RISK_ALLOWED.get(name, [])
    unvetted = [r for r in risks if r not in allowed]
    assert not unvetted, (
        f"{name}: width-collapse risk(s) {unvetted} — a per-row/per-call "
        "stage is fed by an AQE-coalescible exchange. Pin the width with "
        "repartition(spark.sql.shuffle.partitions, keys...) below the "
        "stage, or measure coalesce on/off at sf1.0 and allowlist with "
        "the evidence (SCALING.md §Round-15)."
    )


def test_width_net_fires_on_unpinned_cogroup(spark):
    """Negative control: a cogroup like q_udf_cogroup's WITHOUT its
    user-specified repartition must be flagged, proving the net would
    have caught the worst round-14 collapse (AQE merged the pandas
    stage to one task) before it was measured. The production query
    pins its bucket exchange at shuffle.partitions; this control keys
    on the raw customer id, which is enough to show the shape."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fact_hive_custom_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").select("o_custkey", "o_orderkey")
    e = load_table(spark, SF_DIR, "events").select("user_id", "event_id")

    def fn(key, a, b):
        return pd.DataFrame([{"k": int(key[0]), "n": len(a) + len(b)}])

    unpinned = (
        o.groupBy("o_custkey")
        .cogroup(e.groupBy("user_id"))
        .applyInPandas(fn, "k bigint, n bigint")
    )
    assert plans.width_collapse_risks(unpinned) == [
        "FlatMapCoGroupsInPandas <- Exchange[ENSURE_REQUIREMENTS]"
    ]
    # and the pin erases the risk, exactly as the production query does
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pinned = (
        o.repartition(nparts, "o_custkey")
        .groupBy("o_custkey")
        .cogroup(e.repartition(nparts, "user_id").groupBy("user_id"))
        .applyInPandas(fn, "k bigint, n bigint")
    )
    assert plans.width_collapse_risks(pinned) == []


def test_job_net_fires_on_extra_materialize(spark, monkeypatch):
    """Negative control: a builder that calls one extra materialize()
    (a local checkpoint: the shared session has no checkpoint dir)
    runs exactly one more construction job, and the growth check
    fails on it."""
    assert not spark.sparkContext._jsc.getCheckpointDir().isPresent()
    name = "q_filter_cmp"  # exchange-free: its materialize is one job
    _, base = _built(spark, name)
    real = QUERIES[name]
    monkeypatch.setitem(QUERIES, name, lambda s, d: materialize(real(s, d)))
    _, grown = _built(spark, name)
    assert grown == base + 1
    with pytest.raises(AssertionError, match="construction jobs grew"):
        _assert_no_job_growth(name, grown)


def test_ledger_rows_build(spark):
    """The ledger generator does not rot: a plain scan row and a row
    that materializes yield every field, their pre-AQE counts equal a
    fresh build's, and the materializing row runs construction jobs."""
    sf = "/root/testdata/sf0.001"
    rows = {n: ledger_row(spark, n, sf) for n in ("q_filter_cmp", "q_llm_jaccard_dedup")}
    for name, row in rows.items():
        snap = _SNAP["queries"][name]
        assert set(row) == set(snap), name
        for field in ("jobs", "final", "volume"):
            assert set(row[field]) == set(snap[field]), (name, field)
        pre = plans.plan_counts(QUERIES[name](spark, sf))
        assert {k: row[k] for k in pre} == pre, name
    assert rows["q_llm_jaccard_dedup"]["jobs"]["build"][0] >= 1
