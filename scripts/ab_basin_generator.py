"""Interleaved A/B of the synthetic-obs generator's partitioning through
the full ``precip_timeseries`` pipeline (the precip_basin_timeseries
query).  A generator split across many range partitions can make a
~1M-row query per-task-overhead-bound on a many-core host; this A/B
interleaves generator partition counts {1, 8, all cores, row-gated} in
one session and asserts identical results across them.

    python scripts/ab_basin_generator.py [reps]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, noop, session


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from radohydro_spark.plans.pipeline import precip_timeseries
    from radohydro_spark.sources.synthetic import GRID as g
    from radohydro_spark.sources.synthetic import (
        NULL_COND,
        VALUE_EXPR,
        synthetic_basins,
        synthetic_cells,
    )

    spark, tr = session("ab_basin_generator")

    def result(par: int):
        cells = spark.range(0, g.n_rows * g.n_cols, 1, par).select(
            (F.col("id") % g.n_rows).cast("int").alias("cell_row"),
            (F.col("id") / g.n_rows).cast("int").alias("cell_col"),
        )
        hours = spark.range(0, g.n_ts, 1, 1).select(F.col("id").cast("int").alias("h"))
        obs = cells.crossJoin(hours).select(
            (F.to_timestamp(F.lit(g.t0)) + F.make_interval(hours=F.col("h"))).alias("ts"),
            "cell_row",
            "cell_col",
            F.when(F.expr(NULL_COND), F.lit(None).cast("double"))
            .otherwise(F.expr(VALUE_EXPR))
            .alias("value"),
        )
        return precip_timeseries(obs, synthetic_cells(spark), synthetic_basins(spark)).select(
            "basin_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"), "rainfall_mm"
        )

    dp = spark.sparkContext.defaultParallelism
    # the row-gated candidate: one partition per 64k generated obs rows
    # (cells x hours), capped at the session parallelism
    gated = max(1, min(dp, (g.n_rows * g.n_cols * g.n_ts + 65535) // 65536))
    variants = {"p1": 1, "p8": 8, f"p{dp}": dp, f"gated{gated}": gated}
    walls = {t: [] for t in variants}
    for rep in range(reps + 1):  # rep0 is the codegen warm-up
        for tag, par in variants.items():
            _, m = measure(tr, f"basin_ts gen={tag} rep{rep}", lambda par=par: noop(result(par)))
            if rep:
                walls[tag].append(m["s"])
    for tag, runs in walls.items():
        print(f"{tag:8s}: min {min(runs):.3f}s  runs {[round(r, 3) for r in runs]}")
    rows = {tag: sorted(map(tuple, result(par).collect())) for tag, par in variants.items()}
    assert all(r == rows["p1"] for r in rows.values()), "a generator variant diverged"
    print(f"equivalence: all variants identical over {len(rows['p1'])} rows")


if __name__ == "__main__":
    main()
