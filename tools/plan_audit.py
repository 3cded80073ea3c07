#!/usr/bin/env python
"""Plan-hygiene audit over the ENTIRE query inventory.

For every registered batch query, inspects the physical plan (no
execution — streaming queries that must run to materialize are
skipped with a note) and reports the scale-relevant plan facts:

- hash/single-partition exchange count (shuffle pressure),
- broadcast count (small sides actually broadcast),
- Python evaluation nodes (hot path must stay JVM-side),
- cartesian products (must be bounded by construction),
- pushed filters / read-schema width on the first scan.

Usage:
    python tools/plan_audit.py [sf_dir] > PLANS.md

The output is a markdown table — regenerate after adding operators so
plan regressions are reviewable in diffs, not just caught by the
narrower assertions in tests/test_plans.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from fact_hive_custom_spark.metrics import execution_metrics
    from fact_hive_custom_spark.plans import inspect as plans
    from fact_hive_custom_spark.queries import ORACLE, QUERIES
    from fact_hive_custom_spark.session import get_session

    spark = get_session("plan-audit", quiet=True)

    print("# PLANS — physical-plan audit of the full inventory")
    print()
    print(f"Fixture: `{sf_dir}`. Generated by `tools/plan_audit.py`.")
    print("Counts are from the EXECUTED, AQE-FINALIZED plan (each query")
    print("runs once; the Final Plan section is measured, so runtime")
    print("broadcast demotions, coalescing, and exchange reuse are all")
    print("reflected — `reuse` counts Reused* nodes, i.e. exchanges that")
    print("exist in the tree but are built once). `cartesian` marks")
    print("CartesianProduct or BroadcastNestedLoopJoin; every flagged row")
    print("is bounded by construction (1×1 scalar staples or df-capped")
    print("pair generators) and pinned as such in tests/test_plans.py.")
    print()
    print("| query | oracle | hash-ex | single-ex | bcast | reuse | python | cartesian |")
    print("|---|---|---|---|---|---|---|---|")

    skipped: list[str] = []
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            execution_metrics(df)  # finalize AQE, JVM-side
            c = plans.plan_counts(df)
            # adaptive plans print Final + Initial sections; audit the final
            final = plans.executed_plan(df).split("== Initial Plan ==")[0]
        except Exception as e:  # streaming-only shapes need execution
            skipped.append(f"{name}: {type(e).__name__}")
            continue
        oracle = "Y" if name in ORACLE else "rows-only"
        print(
            f"| {name} | {oracle} | {c['hash_ex']} | {c['single_ex']} "
            f"| {c['bcast']} | {final.count('Reused')} "
            f"| {'PY' if c['python'] else '-'} | {'X' if c['cartesian'] else '-'} |"
        )

    if skipped:
        print()
        print("Skipped (plan requires execution — covered by their own tests):")
        for s in skipped:
            print(f"- {s}")


if __name__ == "__main__":
    main()
