"""Count the Spark jobs a query launches (regime-immune structural
evidence for job-boundary claims: eager-vs-lazy checkpoints, pinned
relations — VERDICT r13 item 5).

Usage: python scripts/count_jobs.py [--sf DIR] [--reps N] query [query ...]

For each query: run fn(spark, sf) + noop materialize inside a dedicated
job group and report how many job IDs the status tracker saw in that
group, plus the wall seconds. Job counts are scheduling structure, not
timing — they do not move with ambient steal, which is the point.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from bench import clear_caches, get_spark, materialize
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )

    spark = get_spark("phsqis-count-jobs")
    spark.range(1000).count()
    sc = spark.sparkContext
    reg = registry.queries()
    for name in args.queries:
        fn = reg[name]
        for rep in range(args.reps):
            clear_caches(spark)
            group = f"cj-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            materialize(fn(spark, args.sf))
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            print(
                f"JOBS {name} rep={rep} n_jobs={len(jobs)} wall={dt:.3f}s",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
