#!/usr/bin/env python
"""Time queries the way bench.py does: fresh JVM (this process),
the same untimed q_agg_flagship warm-up bench.py runs, then
N timed passes of each named query through bench.run_query; prints one
JSON line per query:

    query, sf_dir    the bench row and its fixture dir
    passes, median   per-pass total seconds and their median
    build_median     median of the construction part (build_query,
                     including eager jobs)
    action_median    median of the final noop-sink action
    compiles         classes compiled in each pass (metrics.
                     codegen_compiles): the codegen layer of an A/B

Any bench.py row works, the q_join_bucketed build/probe split included.

Usage:
    python tools/ab_fresh.py [--passes N] <query> [query ...]

$SPARK_GRAFT_SF_DIR picks the fixture dir (default: bench.py's sf0.1),
so the same command serves a heavy-row sweep:

    SPARK_GRAFT_SF_DIR=.scale/sf10 python tools/ab_fresh.py --passes 2 \\
        q_llm_ann_tuned q_llm_cosine_dedup

To A/B a change, check out the two versions as separate worktrees and
alternate runs from each, e.g.:

    for i in 1 2 3 4; do
      (cd ../old && python tools/ab_fresh.py q_llm_jaccard_dedup)
      (cd ../new && python tools/ab_fresh.py q_llm_jaccard_dedup)
    done

Alternation inside the SAME quiet window is the point — host drift is
±30% across sessions (BASELINE.md), so unpaired numbers are noise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import run_query
    from fact_hive_custom_spark.metrics import codegen_compiles
    from fact_hive_custom_spark.session import get_session

    spark = get_session("ab-fresh", quiet=True)
    run_query(spark, "q_agg_flagship", sf_dir)  # warmup, untimed (bench.py parity)

    def median(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    for name in args.queries:
        splits, compiles = [], []
        for _ in range(args.passes):
            c0 = codegen_compiles(spark)
            splits.append(run_query(spark, name, sf_dir))
            compiles.append(codegen_compiles(spark) - c0)
        times = [round(b + a, 3) for b, a in splits]
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "passes": times,
                    "median": median(times),
                    "build_median": median([b for b, _ in splits]),
                    "action_median": median([a for _, a in splits]),
                    "compiles": compiles,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
