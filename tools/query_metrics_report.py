#!/usr/bin/env python
"""Measured per-query execution metrics over the bench HEADLINE set.

`PLANS.md` proves plan SHAPE (what shuffles, what broadcasts);
this report proves plan VOLUME: rows actually scanned, bytes and
records actually shuffled, spill, per headline query — the numbers a
capacity planner extrapolates before a 100× scale-up, extracted from
the executed plan's SQLMetrics (fact_hive_custom_spark/metrics.py),
not guessed from the plan string.

Usage:
    python tools/query_metrics_report.py [sf_dir] > METRICS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bench import HEADLINE, build_query
    from fact_hive_custom_spark.metrics import execution_metrics
    from fact_hive_custom_spark.session import get_session

    spark = get_session("query-metrics", quiet=True)

    print("# METRICS — measured execution volumes (bench HEADLINE set)")
    print()
    print(f"Fixture: `{sf_dir}`. Generated by `tools/query_metrics_report.py`")
    print("from the executed plans' SQLMetrics (each query runs once,")
    print("executed JVM-side with zero driver transfer). `shuffle` sums")
    print("exchange write metrics — the bytes that cross the network on")
    print("a cluster. The shuffle-rows-to-scanned-rows ratio is the")
    print("reduction the plan achieves before its first exchange")
    print("(map-side combine + pushdown + broadcast): the single most")
    print("scale-relevant number per query.")
    print()
    print("| query | rows scanned | shuffle rows | shuffle MB | spill MB | wall s |")
    print("|---|---|---|---|---|---|")

    for name in HEADLINE:
        try:
            df = build_query(spark, name, sf_dir)
            if df is None:
                # a layout build: its table writes are the whole row and
                # have no query plan to instrument (bench.py times it)
                print(f"| {name} | (layout write) | | | | |")
                continue
            out = execution_metrics(df)
        except Exception as e:
            print(f"| {name} | error: {type(e).__name__} | | | | |")
            continue
        s = out["summary"]
        print(
            f"| {name} | {s['rows_scanned']:,} | "
            f"{s['shuffle_records_written']:,} | "
            f"{s['shuffle_bytes_written'] / 1e6:.1f} | "
            f"{s['spill_bytes'] / 1e6:.1f} | {out['wall_sec']:.2f} |"
        )

    print()
    print("Reading the table: rows whose shuffle count approaches their")
    print("scan count are moving raw data through an exchange — every such")
    print("case in this engine is either a deliberate repartition sink or")
    print("a pre-bucketed layout build; report-shaped queries shuffle")
    print("orders of magnitude less than they scan, which is what lets")
    print("the same plans run at 100 TB.")


if __name__ == "__main__":
    main()
