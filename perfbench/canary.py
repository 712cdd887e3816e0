"""Host canary: a fixed CPU-only calibration job.

The same job as ``bench.py``'s tenancy canary: 10M rows of integer
mod/mul arithmetic and one 1000-key groupBy, with no I/O and no Python
workers, so its wall time moves only with host load and JIT state.  It
is defined here once so other timing scripts can import it.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ROWS = 10_000_000


def canary_seconds(spark: SparkSession) -> float:
    """Run the calibration job once and return its wall time."""
    parts = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    row = (
        spark.range(0, ROWS, 1, parts)
        .select(
            (F.col("id") % 1000).alias("k"),
            ((F.col("id") * 2654435761) % 104729).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .agg(F.sum("s").alias("t"), F.sum("n").alias("m"))
        .collect()[0]
    )
    elapsed = time.perf_counter() - t0
    if row["m"] != ROWS:
        raise RuntimeError(f"canary counted {row['m']} rows, expected {ROWS}")
    return elapsed
