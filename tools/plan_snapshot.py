#!/usr/bin/env python
"""Registry-wide plan-shape snapshot (VERDICT r12 item 5).

tests/test_plans.py pins ~150 hand-chosen plan shapes; this tool
fingerprints EVERY registered query's physical plan (exchange /
broadcast / python-eval / cartesian / nested-HOF counts from
plans.inspect.plan_counts) into PLAN_SNAPSHOT.json, and
tests/test_plan_snapshot.py fails any query whose shuffle or
nested-HOF count grows or which newly acquires a Python node or
cartesian — the queries nobody pinned get a regression net too.

Regenerate after any deliberate re-plan:

    python tools/plan_snapshot.py        # rewrites PLAN_SNAPSHOT.json

and review the JSON diff in the commit — a grown exchange count should
be explainable in the message.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "PLAN_SNAPSHOT.json")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from fact_hive_custom_spark.plans import inspect as plans
    from fact_hive_custom_spark.queries import QUERIES
    from fact_hive_custom_spark.session import get_session

    spark = get_session("plan-snapshot", quiet=True)
    snap: dict[str, dict] = {}
    skipped: list[str] = []
    for name in sorted(QUERIES):
        try:
            snap[name] = plans.plan_counts(QUERIES[name](spark, sf_dir))
        except Exception as e:  # shapes that need execution to plan
            skipped.append(f"{name}: {type(e).__name__}")
    doc = {"sf_dir": sf_dir, "queries": snap, "skipped": sorted(skipped)}
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(snap)} fingerprinted, {len(skipped)} skipped → {OUT}")


if __name__ == "__main__":
    main()
