"""Soak: the W1 / Gini / CUSUM ranged-cumulation consumers at scale
(`plans.contracts.ranged_cumsum`; r15, VERDICT r14 #6).

The shared range-partition cumulation was soaked at 10M/20M distinct
values under ks_drift (r14); W1's partition-boundary ``lead(v)``
stitch and CUSUM's broadcast-max second pass are consumer-specific and
were only exercised at sf0.1.  This drives each consumer at its
integer contract's true scale:

* CUSUM — the order domain is the cumulation domain and values can
  repeat, so 10M/20M DISTINCT boundaries are in-contract: a step
  series has the closed form cusum_num = N²/4 at boundary N/2−1.
* W1 — the VALUE domain is the cumulation domain and the exact law
  needs n1·n2·range < 2^63, so a dense distinct domain caps at ~2M per
  side BY CONSTRUCTION: soaked AT that ceiling (shift law: W1 = S
  exactly), plus a 10M-distinct boundary-stitch leg with an unequal
  coarse side (block closed form), plus the named raise past the
  ceiling (the honest limit, pinned).
* Gini — T ≥ n²/2 for n distinct nonnegative values, so 2nT < 2^63
  caps a dense domain at ~2M: soaked at the ceiling with the
  closed form gini_num = n(n−1)(n+1)/6 for values 0..n−1, plus the
  named raise past it.

Each leg records wall / shuffle delta / spill; consecutive sizes pin
linear shuffle growth.

    python scripts/soak_drift_family.py
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
    tot = {"shuffle_mb": 0.0, "spill_disk_mb": 0.0}
    for s in stages:
        tot["shuffle_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        tot["spill_disk_mb"] += s.get("diskBytesSpilled", 0) / 1e6
    return tot


def _leg(spark, name, res_fn, expect_fn, prev_shuffle=None):
    from radohydro_spark.plans.pipeline import release_persisted

    before = _stage_totals(spark)
    t0 = time.time()
    row = res_fn().collect()[0]
    wall = time.time() - t0
    after = _stage_totals(spark)
    shuffle = after["shuffle_mb"] - before["shuffle_mb"]
    expect_fn(row)
    out = {
        "leg": name,
        "wall_s": round(wall, 2),
        "shuffle_mb": round(shuffle, 1),
        "spill_disk_mb": round(
            after["spill_disk_mb"] - before["spill_disk_mb"], 1
        ),
    }
    if prev_shuffle:
        out["shuffle_ratio_vs_prev"] = round(shuffle / prev_shuffle, 2)
    print(json.dumps(out))
    release_persisted()
    return shuffle


def main() -> None:
    from radohydro_spark import get_spark
    from radohydro_spark.operators.profile import (
        cusum_changepoint,
        gini_coefficient,
        wasserstein_drift,
    )

    spark = get_spark(
        "soak_drift_family",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "5000",
        },
    )

    # ---- CUSUM: step series, 10M and 20M distinct order boundaries
    prev = None
    for n in (10_000_000, 20_000_000):
        half = n // 2
        df = spark.range(n).select(
            F.col("id").alias("t"),
            F.when(F.col("id") >= half, F.lit(1))
            .otherwise(F.lit(0))
            .alias("x"),
        )

        def check_cusum(row, n=n, half=half):
            assert row.n_rows == n and row.total == half, row
            assert row.cusum_num == n * n // 4, row
            assert row.at_value == half - 1, row
            den = n * half
            want = (
                (1_000_000 * row.cusum_num) // den
                if row.cusum_num <= 9_000_000_000_000
                else row.cusum_num // (den // 1_000_000)
            )
            assert row.cusum_micro == want, row

        prev = _leg(
            spark,
            f"cusum_step_{n}",
            lambda df=df: cusum_changepoint(df, "t", "x"),
            check_cusum,
            prev,
        )

    # ---- W1: dense shift law at the contract ceiling (1M then 2M)
    prev = None
    for n in (1_000_000, 2_000_000):
        s = n // 10
        old = spark.range(n).select(F.col("id").alias("v"))
        new = spark.range(n).select((F.col("id") + s).alias("v"))

        def check_w1(row, n=n, s=s):
            assert row.emd_num == s * n * n, row
            assert row.emd_micro == 1_000_000 * s, row

        prev = _leg(
            spark,
            f"w1_dense_shift_{n}",
            lambda o=old, nn=new: wasserstein_drift(o, nn, "v"),
            check_w1,
            prev,
        )

    # ---- W1: 10M-distinct boundary-stitch leg (unequal coarse side):
    # old = 0..1e7-1 dense, new = {200j : j < 5e4}; per 200-block the
    # cross-mult term is 5e4*(199-r), so emd_num = 5e4 * 19900 * 5e4
    n1, n2, blk = 10_000_000, 50_000, 200
    old = spark.range(n1).select(F.col("id").alias("v"))
    new = spark.range(n2).select((F.col("id") * blk).alias("v"))

    def check_w1_stitch(row):
        want = 50_000 * (blk - 1) * blk // 2 * 50_000
        assert row.emd_num == want, (row, want)
        assert row.emd_micro == (1_000_000 * want) // (n1 * n2), row

    _leg(
        spark,
        "w1_stitch_10M_distinct",
        lambda: wasserstein_drift(old, new, "v"),
        check_w1_stitch,
    )

    # ---- W1: the dense 10M ceiling raises the NAMED contract
    big = spark.range(10_000_000).select(F.col("id").alias("v"))
    try:
        wasserstein_drift(big, big, "v").collect()
        raise AssertionError("w1 ceiling did not raise")
    except ValueError as e:
        assert "wasserstein_drift" in str(e)
        print(json.dumps({"leg": "w1_dense_10M_raises_named", "ok": True}))

    # ---- Gini: dense distinct domain at the ceiling (1M then 2M)
    prev = None
    for n in (1_000_000, 2_000_000):
        df = spark.range(n).select(F.col("id").alias("v"))

        def check_gini(row, n=n):
            t = n * (n - 1) // 2
            want_num = n * (n - 1) * (n + 1) // 6
            assert row.n_rows == n and row.total == t, row
            assert row.gini_num == want_num, row
            nt = n * t
            want_ppm = (
                (1_000_000 * want_num) // nt
                if nt <= 9_000_000_000_000
                else want_num // (nt // 1_000_000)
            )
            assert row.gini_ppm == want_ppm, row

        prev = _leg(
            spark,
            f"gini_dense_{n}",
            lambda df=df: gini_coefficient(df, "v"),
            check_gini,
            prev,
        )

    # ---- Gini: past the ceiling raises the NAMED contract
    big = spark.range(3_000_000).select(F.col("id").alias("v"))
    try:
        gini_coefficient(big, "v").collect()
        raise AssertionError("gini ceiling did not raise")
    except ValueError as e:
        assert "gini_coefficient" in str(e)
        print(json.dumps({"leg": "gini_dense_3M_raises_named", "ok": True}))


if __name__ == "__main__":
    main()
