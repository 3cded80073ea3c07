#!/usr/bin/env python
"""Hot-key degradation sweep (VERDICT r12 item 1): run the skew-prone
query classes on the uniform sf1.0 fixture and on the hot-key variant
(tools/make_skew_fixture.py) and report the wall ratio — the measured
answer to "would this query survive one user with 20% of the events /
one SKU with 20% of the order lines".

Each cell is bench.run_query (build plus noop-sink action: full
pipeline, zero driver materialization), best of 2 runs, AQE on with
session defaults — exactly what the engine ships. A ratio near 1.0
means the plan's shuffles are either key-free, salted, or collapse
before the hot key concentrates; a superlinear ratio marks a query
whose docstring owes the salting treatment.

Usage:
    python tools/make_skew_fixture.py
    python tools/skew_sweep.py > SKEW_r13.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UNIFORM = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/root/repo/.scale/sf1.0")
SKEWED = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/root/repo/.scale/sf1.0-skew")

# The skew-prone roster: the two salted classes, the heaviest
# user_id-window/groupBy consumers, the pandas-cogroup per-user path,
# and the brand/supplier join families the hot lineitem keys hit.
ROSTER = [
    "q_skew_salted_join",
    "q_skew_salted_agg",
    "q_ts_gapfill",
    "q_ts_ewma",
    "q_ts_autocorr",
    "q_ts_impute",
    "q_win_sessionize",
    "q_win_moving",
    "q_win_islands",
    "q_funnel_steps",
    "q_retention_cohort",
    "q_event_transitions",
    "q_event_path_topk",
    "q_udf_cogroup",
    "q_join_theta",
    "q_join_asof",
    # round 14 (VERDICT r13 item 6): the dedup/ANN family against the
    # hot-SHINGLE axis — the skew fixture prepends a 25-token
    # boilerplate header to 20% of documents (make_skew_fixture.py),
    # which stresses shingle-keyed plans through doc-frequency, not
    # row counts: minhash band buckets, prefix filters, span hashes.
    "q_llm_minhash_lsh",
    "q_llm_prefix_jaccard",
    "q_llm_span_dedup",
    "q_llm_jaccard_dedup",
    "q_llm_exact_dedup",
    "q_llm_dedup_clusters",
]


def main() -> None:
    from bench import run_query
    from fact_hive_custom_spark.queries import QUERIES
    from fact_hive_custom_spark.session import get_session

    spark = get_session("skew-sweep", quiet=True)

    def wall(name: str, sf_dir: str) -> float:
        return min(sum(run_query(spark, name, sf_dir)[:2]) for _ in range(2))

    tag = os.environ.get("SPARK_GRAFT_SKEW_TAG", "r14")
    print(f"# SKEW_{tag} — hot-key degradation sweep")
    print()
    print(f"Uniform fixture: `{UNIFORM}`; skewed: `{SKEWED}` (one user_id")
    print("= 20% of events, one supplier+part = 20% of lineitem, one")
    print("25-token boilerplate header in 20% of documents; built by")
    print("`tools/make_skew_fixture.py`). Walls are Spark-only noop-sink")
    print("executions, best of 2, AQE at session defaults, local[32].")
    print()
    print("| query | uniform s | skewed s | ratio |")
    print("|---|---|---|---|")
    rows = []
    for name in ROSTER:
        if name not in QUERIES:
            continue
        u = wall(name, UNIFORM)
        s = wall(name, SKEWED)
        rows.append((name, u, s))
        print(f"| {name} | {u:.2f} | {s:.2f} | {s / u:.2f}× |", flush=True)
    print()
    worst = max(rows, key=lambda r: r[2] / r[1])
    print(f"Worst ratio: {worst[0]} at {worst[2] / worst[1]:.2f}×.")


if __name__ == "__main__":
    main()
