#!/usr/bin/env python
"""Time queries the way bench.py does: fresh JVM (this process),
the same untimed q_agg_flagship warm-up bench.py runs, then
N timed passes of each named query through bench.run_query; prints one
JSON line per query:

    query, sf_dir    the bench row and its fixture dir
    passes, median   per-pass total seconds and their median
    cpu_median       median per-pass process CPU seconds: this process,
                     the JVM and its descendants (bench.process_cpu_s)
    build_median     median of the construction part (build_query,
                     including eager jobs)
    action_median    median of the final noop-sink action
    compiles         classes compiled in each pass (metrics.
                     codegen_compiles): the codegen layer of an A/B
    jit_ms           milliseconds the JIT compiled in each pass
                     (metrics.jit_compile_ms): the JIT layer
    jobs             each pass's {"build": [jobs, stages],
                     "action": [jobs, stages]} (bench.phase_jobs)
    load1            the host's 1-minute load average sampled before
                     each pass (os.getloadavg, as bench.py does): the
                     host-contention layer of an A/B

median, cpu_median, build_median and action_median are each taken separately
(statistics.median: the mean of the middle two for an even pass
count), so the parts can come from different passes and need not add
up to the total.

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
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import new_tag, phase_jobs, run_query
    from fact_hive_custom_spark.metrics import codegen_compiles, jit_compile_ms
    from fact_hive_custom_spark.session import get_session

    spark = get_session("ab-fresh", quiet=True)
    run_query(spark, "q_agg_flagship", sf_dir)  # warmup, untimed (bench.py parity)

    for name in args.queries:
        splits, compiles, jit_ms, jobs, load1 = [], [], [], [], []
        for _ in range(args.passes):
            load1.append(round(os.getloadavg()[0], 2))
            c0, j0, tag = codegen_compiles(spark), jit_compile_ms(spark), new_tag()
            splits.append(run_query(spark, name, sf_dir, tag))
            compiles.append(codegen_compiles(spark) - c0)
            jit_ms.append(jit_compile_ms(spark) - j0)
            jobs.append(phase_jobs(spark, tag))
        times = [round(b + a, 3) for b, a, _ in splits]
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "passes": times,
                    "median": statistics.median(times),
                    "cpu_median": round(statistics.median([c for _, _, c in splits]), 3),
                    "build_median": statistics.median([b for b, _, _ in splits]),
                    "action_median": statistics.median([a for _, a, _ in splits]),
                    "compiles": compiles,
                    "jit_ms": jit_ms,
                    "jobs": jobs,
                    "load1": load1,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
