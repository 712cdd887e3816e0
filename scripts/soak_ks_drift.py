"""ks_drift scale soak: the cumulation on a NEAR-DISTINCT continuous
column (every row its own domain point), at and past the old
single-partition window's 10M-row cap.  The cumulation runs on
driver-fixed value ranges (``plans.contracts.ranged_cumsum``), and the
soak verifies

* the closed form: uniform[0,N) vs uniform[S,S+N) ⇒ d_num = S·N, and
  the piecewise ppm law (n1·n2 = N² > 9e12 at these sizes → divide
  branch);
* the plan shape: each row's range bucket ``_b`` is placed by
  ``direct_shuffle_partition_id(_b`` and no constant-key
  (single-partition) window exists;
* shuffle bytes scale LINEARLY with the input (the per-value count
  aggregates + the bucket exchange), never pair-shaped.

    python scripts/soak_ks_drift.py [n_rows ...]   # default 10M 20M
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import grow, session


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [10_000_000, 20_000_000]
    from radohydro_spark.operators.profile import ks_drift

    spark, tr = session("soak_ks_drift")

    def build(n):  # the new side is shifted by S = N/10
        old = spark.range(n).select(F.col("id").alias("x"))
        res = ks_drift(old, old.select((F.col("x") + n // 10).alias("x")), "x")
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "direct_shuffle_partition_id(_b" in plan, plan
        assert "partitionbyexpression=[0]" not in plan.lower().replace(" ", ""), plan
        return res

    def check(rows, n):
        (row,), shift = rows, n // 10
        assert row.d_num == shift * n, row
        assert row.ks_ppm == (shift * n) // ((n * n) // 1_000_000), row
        return {"n_rows_per_side": n, "distinct_values": n + shift,
                "d_num": row.d_num, "ks_ppm": row.ks_ppm}

    grow(tr, "ks_drift {} rows/side", build, check, sizes)


if __name__ == "__main__":
    main()
