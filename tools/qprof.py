"""Per-query profiler for the optimization rounds: isolates driver-side
build time (plan construction + any driver actions the query body runs)
from executed noop-sink time, and counts the Spark jobs each side
triggers — the per-query shape the bench's build/exec split summarizes.

Usage: python tools/qprof.py <sf_dir> <query> [query ...] [--runs N]
Writes nothing; prints one line per query per run.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    argv = sys.argv[1:]
    args: list[str] = []
    runs = 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--runs"):
            # accept both --runs=N and --runs N (the space form must
            # not leak N into the query names)
            if "=" in a:
                runs = int(a.split("=", 1)[1])
            else:
                i += 1
                runs = int(argv[i])
        else:
            args.append(a)
        i += 1
    sf_dir, names = args[0], args[1:]

    from finmlkit_spark import cache, suite
    from finmlkit_spark.session import get_spark

    spark = get_spark("qprof")
    tracker = spark.sparkContext.statusTracker()

    for name in names:
        fn = suite.QUERIES[name]
        for r in range(runs):
            # mirror the bench's timing: every run re-materializes the
            # tracked keep-persists (bench.py releases between timed
            # runs)
            cache.release_all()
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            j1 = len(tracker.getJobIdsForGroup(None) or [])
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            j2 = len(tracker.getJobIdsForGroup(None) or [])
            print(
                f"{name:28s} run{r}  build {t1 - t0:6.3f}s ({j1 - j0:3d} jobs)"
                f"  exec {t2 - t1:6.3f}s ({j2 - j1:3d} jobs)  total {t2 - t0:6.3f}s",
                flush=True,
            )
        cache.release_all()


if __name__ == "__main__":
    main()
