"""Time a subset of declared queries with the bench methodology (noop
sink, ``release_persisted`` between repetitions, cache-cold reps) plus
the bench's tenancy canary, for interleaved comparisons without paying
for the full bench run.

    python scripts/time_queries.py [sf_dir] [reps] q1,q2,...
"""

from __future__ import annotations

import sys

from soak import SF_DIR, measure, noop, session

from perfbench.canary import canary_seconds


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    names = sys.argv[3].split(",")
    import __spark_entry__ as entry

    spark, tr = session("time_queries")
    qs = entry.queries()
    print(f"canary: {min(canary_seconds(spark) for _ in range(3)):.3f}", flush=True)
    for name in names:
        runs = [measure(tr, f"{name} rep{rep}", lambda: noop(qs[name](spark, sf_dir)))[1]["s"]
                for rep in range(reps)]
        steady = runs[1:] or runs
        print(f"{name:30s} min={min(runs):.3f} cold={runs[0]:.3f} steady_min={min(steady):.3f}",
              flush=True)
    print(f"canary(end): {min(canary_seconds(spark) for _ in range(2)):.3f}", flush=True)


if __name__ == "__main__":
    main()
