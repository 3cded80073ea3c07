#!/usr/bin/env python
"""The per-query plan ledger: PLAN_SNAPSHOT.json.

Runs every registered query at sf0.01 in one session and records, per
query:

- the pre-AQE shape counts of plans.inspect.plan_counts, taken before
  execution (hash_ex, single_ex, range_ex, bcast, python, cartesian,
  nested_hof);
- `jobs`: {"build": [jobs, stages], "action": [jobs, stages]}, the
  construction phase (the registry builder, eager materialize() jobs
  included) and the executed action, counted by bench.phase_jobs;
- `final`: hash_ex / single_ex / bcast of the AQE-final plan after that
  execution, plus `reused`, the Reused* nodes (exchanges present in the
  tree but built once);
- `volume`: the SQLMetrics of that same execution
  (metrics.execution_metrics): rows scanned, shuffle records and
  bytes written, spill bytes;
- `warm_compiles`: classes compiled by a second build and execution of
  the query in the same session (metrics.codegen_compiles).

tests/test_plan_snapshot.py gates the counts that repeat: the pre-AQE
counts and growth in construction jobs. The AQE-final counts, volumes
and warm compiles are recorded without a gate; the AQE-final plan of a
few queries still varies from run to run.

Regenerate after any deliberate re-plan:

    python tools/plan_snapshot.py [sf_dir]   # rewrites PLAN_SNAPSHOT.json

and review the JSON diff in the commit — a grown exchange or job count
should be explainable in the message.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "PLAN_SNAPSHOT.json")


def ledger_row(spark, name: str, sf_dir: str) -> dict:
    """The ledger entry of registered query `name` at `sf_dir`."""
    from bench import new_tag, phase_jobs, set_phase
    from fact_hive_custom_spark.metrics import codegen_compiles, execution_metrics
    from fact_hive_custom_spark.plans import inspect as plans
    from fact_hive_custom_spark.queries import QUERIES

    tag = new_tag()
    set_phase(spark, tag, "build")
    df = QUERIES[name](spark, sf_dir)
    set_phase(spark, tag, "action")
    row = plans.plan_counts(df)
    s = execution_metrics(df)["summary"]
    row["jobs"] = phase_jobs(spark, tag)
    final = plans.plan_counts(df)
    row["final"] = {k: final[k] for k in ("hash_ex", "single_ex", "bcast")}
    row["final"]["reused"] = (
        plans.executed_plan(df).split("== Initial Plan ==")[0].count("Reused")
    )
    row["volume"] = {
        "rows_scanned": s["rows_scanned"],
        "shuffle_records": s["shuffle_records_written"],
        "shuffle_bytes": s["shuffle_bytes_written"],
        "spill_bytes": s["spill_bytes"],
    }
    c0 = codegen_compiles(spark)
    execution_metrics(QUERIES[name](spark, sf_dir))
    row["warm_compiles"] = codegen_compiles(spark) - c0
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from fact_hive_custom_spark.queries import QUERIES
    from fact_hive_custom_spark.session import get_session

    spark = get_session("plan-snapshot", quiet=True)
    snap: dict[str, dict] = {}
    skipped: list[str] = []
    for name in sorted(QUERIES):
        try:
            snap[name] = ledger_row(spark, name, sf_dir)
        except Exception as e:  # shapes that need execution to plan
            skipped.append(f"{name}: {type(e).__name__}")
    doc = {"sf_dir": sf_dir, "queries": snap, "skipped": sorted(skipped)}
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(snap)} recorded, {len(skipped)} skipped → {OUT}")


if __name__ == "__main__":
    main()
