"""Time a subset of headline queries with the bench methodology (noop
sink, release_persisted between repetitions, cache-cold reps) plus the
bench's tenancy canary — for within-round interleaved comparisons
without paying for the full 42-query run.

Usage: python scripts/time_queries.py [sf_dir] [reps] q1,q2,...
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod

from perfbench.canary import canary_seconds
from radohydro_spark import get_spark
from radohydro_spark.plans.pipeline import release_persisted

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5
QUERIES = sys.argv[3].split(",")


def main() -> None:
    spark = get_spark("time_queries")
    qs = entrymod.queries()

    can = [canary_seconds(spark) for _ in range(3)]
    print(f"canary: {min(can):.3f}  runs={[round(c, 3) for c in can]}", flush=True)

    for name in QUERIES:
        fn = qs[name]
        runs = []
        for rep in range(REPS):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            release_persisted()
            spark.sparkContext.setJobDescription(None)
            print(f"  {name} rep{rep}: {runs[-1]:.3f}s", flush=True)
        steady = runs[1:] or runs
        print(
            f"{name:30s} min={min(runs):.3f} cold={runs[0]:.3f} "
            f"steady_min={min(steady):.3f}",
            flush=True,
        )

    can2 = [canary_seconds(spark) for _ in range(2)]
    print(f"canary(end): {min(can2):.3f}", flush=True)


if __name__ == "__main__":
    main()
