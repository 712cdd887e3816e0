"""ks_drift scale soak (r14): the round-13 verdict's one `weak` — the
old implementation cumulated both CDFs on a SINGLE-PARTITION global
window over the merged value domain, which on a continuous column
(value domain ≈ row count) sorts the whole relation on one core and
hard-fails past the 10M-row contract cap.  The r14 rework runs the
cumulation on value ranges (per-range local windows + offsets; since
then ``plans.contracts.ranged_cumsum``, with driver-fixed boundaries).

This soak drives the exact regime the verdict named: NEAR-DISTINCT
BIGINT values (every row its own domain point), at and past the old
cap, and verifies

  * the result is correct in closed form (uniform[0,N) vs
    uniform[S,S+N) ⇒ d_num = S·N, ks_ppm = 10⁶·S/N floored piecewise),
  * no single-partition sort exists (plan carries rangepartitioning,
    never a constant-key window), and
  * shuffle bytes scale LINEARLY with the input (the two per-value
    count aggregates + the range exchange), never pair-shaped.

    python scripts/soak_ks_drift.py [n_rows ...]   # default 10M 20M
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def _stage_totals(spark) -> dict:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    tot = {"shuffle_mb": 0.0, "spill_mem_mb": 0.0, "spill_disk_mb": 0.0}
    for s in stages:
        tot["shuffle_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        tot["spill_mem_mb"] += s.get("memoryBytesSpilled", 0) / 1e6
        tot["spill_disk_mb"] += s.get("diskBytesSpilled", 0) / 1e6
    return tot


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [10_000_000, 20_000_000]
    from radohydro_spark import get_spark
    from radohydro_spark.operators.profile import ks_drift
    from radohydro_spark.plans.pipeline import release_persisted

    spark = get_spark(
        "soak_ks_drift",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "5000",
        },
    )
    shift_frac = 10  # new side shifted by N/10 -> D = N/10 rows apart
    prev_shuffle = None
    for n_rows in sizes:
        shift = n_rows // shift_frac
        old = spark.range(n_rows).select(F.col("id").alias("x"))
        new = spark.range(n_rows).select((F.col("id") + shift).alias("x"))
        before = _stage_totals(spark)
        t0 = time.time()
        res = ks_drift(old, new, "x")
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning(x" in plan or "rangepartitioning(v" in plan
        assert "partitionbyexpression=[0]" not in plan.lower().replace(" ", "")
        row = res.collect()[0]
        wall = time.time() - t0
        after = _stage_totals(spark)
        shuffle = after["shuffle_mb"] - before["shuffle_mb"]
        # closed form: both uniform on N integer points, offset by S:
        # sup |F1 - F2| = S/N, d_num = S*N (cross-multiplied), and the
        # piecewise ppm law (n1*n2 = N^2 > 9e12 here -> divide branch)
        assert row.d_num == shift * n_rows, row
        expect_ppm = (shift * n_rows) // ((n_rows * n_rows) // 1_000_000)
        assert row.ks_ppm == expect_ppm, (row.ks_ppm, expect_ppm)
        out = {
            "n_rows_per_side": n_rows,
            "distinct_values": n_rows + shift,
            "wall_s": round(wall, 2),
            "shuffle_mb": round(shuffle, 1),
            "spill_disk_mb": round(
                after["spill_disk_mb"] - before["spill_disk_mb"], 1
            ),
            "d_num": row.d_num,
            "ks_ppm": row.ks_ppm,
        }
        if prev_shuffle:
            out["shuffle_ratio_vs_prev"] = round(shuffle / prev_shuffle, 2)
        prev_shuffle = shuffle
        print(json.dumps(out))
        release_persisted()


if __name__ == "__main__":
    main()
