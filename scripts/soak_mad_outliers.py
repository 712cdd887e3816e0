"""A/B harness that DECIDED the r16 mad_outliers persist question: the
shipped form scans the base relation three times (median, MAD, fence
count); a candidate optimization persisted the (group, absdev) relation
to hit the two-pass floor of a median-then-deviation law.  Interleaved
in one session at 20M rows the persist LOST — range-backed steady state
1.56s (3-pass) vs 2.14s (persist), and parquet-backed with pad columns
1.30s vs 1.51s — because the columnar scan prunes to the two needed
columns anyway, so the replayed pass is a cheap pruned scan + broadcast
join while the cache pays row serialization of every input row.  The
persist was reverted; this script pins the evidence (outputs asserted
row-identical between the forms).

Note: after the revert, `mad_outliers_persist_candidate` below IS the
rejected variant and `radohydro_spark...mad_outliers` is the 3-pass
shipped form — the A/B still runs both.

Usage: python scripts/soak_mad_outliers.py [n_rows] [n_groups]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, session

from radohydro_spark.operators.profile import mad_outliers
from radohydro_spark.session import pin


def mad_outliers_persist_candidate(df, group_col, value_col, k=3.0):
    """The REJECTED candidate: persist the projected (group, absdev)
    relation so the base is scanned twice, not three times."""
    from pyspark import StorageLevel

    med = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("med"),
        F.count("*").alias("n_rows"),
    )
    dev = pin(
        df.join(F.broadcast(med.select(group_col, "med")), group_col)
        .withColumn("_absdev", F.abs(F.col(value_col) - F.col("med")))
        .select(group_col, "_absdev")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mad = dev.groupBy(group_col).agg(F.percentile("_absdev", F.lit(0.5)).alias("mad"))
    counted = (
        dev.join(F.broadcast(mad), group_col)
        .withColumn("_is_out", (F.col("_absdev") > F.lit(float(k)) * F.col("mad")).cast("int"))
        .groupBy(group_col)
        .agg(F.sum("_is_out").cast("long").alias("n_outliers"))
    )
    return (
        med.join(F.broadcast(mad), group_col)
        .join(counted, group_col)
        .select(group_col, "n_rows", "med", "mad", "n_outliers")
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    spark, tr = session("soak_mad")
    base = spark.range(n_rows).select(
        (F.col("id") % n_groups).alias("g"),
        # heavy-tailed integer values: mostly small, occasional 1e6 spikes
        F.when(F.col("id") % 997 == 0, F.col("id") % 1_000_000)
        .otherwise(F.col("id") % 1_000)
        .cast("long")
        .alias("v"),
    )
    # interleaved A/B, 3 reps each; the outputs must be row-identical
    walls = {"3pass": [], "persist": []}
    ref = None
    for rep in range(3):
        for tag, fn in (("3pass", mad_outliers), ("persist", mad_outliers_persist_candidate)):
            run = lambda fn=fn: sorted(tuple(r) for r in fn(base, "g", "v").collect())  # noqa: E731
            rows, m = measure(tr, f"{tag} rep{rep}", run, lambda rows: {"rows": len(rows)})
            walls[tag].append(m["s"])
            ref = rows if ref is None else ref
            assert rows == ref, f"{tag} rep{rep}: output diverged"
    print(f"n_rows={n_rows} n_groups={n_groups} 3pass_min={min(walls['3pass']):.2f}s "
          f"persist_min={min(walls['persist']):.2f}s")


if __name__ == "__main__":
    main()
