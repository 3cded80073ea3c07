#!/usr/bin/env python
"""Time queries the way bench.py does: fresh JVM (this process),
the same untimed q_agg_flagship warm-up bench.py runs, then
N timed passes of each named query via the noop sink; prints one JSON
line per query with the per-pass times and the median.

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
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from fact_hive_custom_spark.queries import QUERIES
    from fact_hive_custom_spark.session import get_session

    spark = get_session("ab-fresh", quiet=True)

    def run(q: str) -> float:
        t0 = time.perf_counter()
        QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    run("q_agg_flagship")  # JVM/codegen warmup, untimed (bench.py parity)

    for name in args.queries:
        times = [run(name) for _ in range(args.passes)]
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "passes": times,
                    "median": sorted(times)[len(times) // 2],
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
