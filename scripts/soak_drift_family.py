"""Soak: the global drift forms at their contracts' scale.

The ranged-cumulation consumers (``plans.contracts.ranged_cumsum``),
each driven at its integer contract's true scale with a closed form:

* CUSUM: the order domain is the cumulation domain and values may
  repeat, so 10M/20M DISTINCT boundaries are in-contract: a step series
  has cusum_num = N²/4 at boundary N/2−1.
* W1: the VALUE domain is the cumulation domain and the exact law needs
  n1·n2·range < 2^63, so a dense distinct domain caps at ~2M per side BY
  CONSTRUCTION: soaked AT that ceiling (shift law: W1 = S exactly), plus
  a 10M-distinct boundary-stitch leg with an unequal coarse side (block
  closed form), plus the named raise past the ceiling.
* Gini: T ≥ n²/2 for n distinct nonnegative values, so 2nT < 2^63 caps
  a dense domain at ~2M: soaked at the ceiling with gini_num =
  n(n−1)(n+1)/6 for values 0..n−1, plus the named raise past it.

And the domain-counter forms on identical snapshots over a LARGE
distinct value domain, whose one shuffle is the domain counters (linear
in |domain|):

* psi_quantile_bins: every psi_contrib == 0.0 and each decile bucket
  holds at most 2× the uniform share (its edges are a 1-row broadcast);
* qq_table: diff == 0 and q_old == q_new (non-NULL) at all nine
  percents.

    python scripts/soak_drift_family.py
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from soak import grow, measure, session

_EXACT = 9_000_000_000_000


def _ppm(num: int, den: int, big: int) -> int:
    """The operators' piecewise ppm law: exact while ``big`` (the
    numerator for cusum, the denominator for gini) is at most 9e12."""
    return (1_000_000 * num) // den if big <= _EXACT else num // (den // 1_000_000)


def main() -> None:
    from radohydro_spark.operators.profile import (
        cusum_changepoint,
        gini_coefficient,
        psi_quantile_bins,
        qq_table,
        wasserstein_drift,
    )

    spark, tr = session("soak_drift_family")
    ids = lambda n, shift=0: spark.range(n).select((F.col("id") + shift).alias("v"))  # noqa: E731

    def check_cusum(rows, n):
        (row,), half = rows, n // 2
        assert row.n_rows == n and row.total == half, row
        assert row.cusum_num == n * n // 4 and row.at_value == half - 1, row
        assert row.cusum_micro == _ppm(row.cusum_num, n * half, row.cusum_num), row

    def cusum(n):
        x = (F.col("id") >= n // 2).cast("int").alias("x")
        return cusum_changepoint(spark.range(n).select(F.col("id").alias("t"), x), "t", "x")

    grow(tr, "cusum_step_{}", cusum, check_cusum, (10_000_000, 20_000_000))

    def check_w1(rows, n):
        (row,), s = rows, n // 10
        assert row.emd_num == s * n * n and row.emd_micro == 1_000_000 * s, row

    w1 = lambda n: wasserstein_drift(ids(n), ids(n, n // 10), "v")  # noqa: E731
    grow(tr, "w1_dense_shift_{}", w1, check_w1, (1_000_000, 2_000_000))

    # old = 0..1e7-1 dense, new = {200j : j < 5e4}: per 200-block the
    # cross-mult term is 5e4*(199-r), so emd_num = 5e4 * 19900 * 5e4
    n1, n2, blk = 10_000_000, 50_000, 200
    coarse = spark.range(n2).select((F.col("id") * blk).alias("v"))
    stitch = lambda: wasserstein_drift(ids(n1), coarse, "v").collect()  # noqa: E731
    (row,), _ = measure(tr, "w1_stitch_10M_distinct", stitch)
    want = n2 * (blk - 1) * blk // 2 * n2
    assert row.emd_num == want and row.emd_micro == (1_000_000 * want) // (n1 * n2), (row, want)

    def check_gini(rows, n):
        (row,), t = rows, n * (n - 1) // 2
        want_num = n * (n - 1) * (n + 1) // 6
        assert row.n_rows == n and row.total == t and row.gini_num == want_num, row
        assert row.gini_ppm == _ppm(want_num, n * t, n * t), row

    gini = lambda n: gini_coefficient(ids(n), "v")  # noqa: E731
    grow(tr, "gini_dense_{}", gini, check_gini, (1_000_000, 2_000_000))

    # past the ceilings the NAMED contracts raise
    big = ids(10_000_000)
    for name, fn in (("wasserstein_drift", lambda: wasserstein_drift(big, big, "v")),
                     ("gini_coefficient", lambda: gini(3_000_000))):
        try:
            fn().collect()
            raise AssertionError(f"{name} ceiling did not raise")
        except ValueError as e:
            assert name in str(e)
            print(json.dumps({"leg": f"{name}_past_ceiling_raises_named", "ok": True}), flush=True)

    domain = lambda n: spark.range(n).select((F.col("id") % (n // 4)).alias("v"))  # noqa: E731

    def check_psi(rows, _):
        tot = sum(r.n_old for r in rows)
        for r in rows:
            assert r.psi_contrib + 0.0 == 0.0 and r.n_old == r.n_new, r
            assert r.n_old <= 2 * tot // 10 + 4  # each decile within 2x the uniform share
        return {"rows_out": len(rows)}

    def check_qq(rows, _):
        assert len(rows) == 9
        assert all(r.diff == 0 and r.q_old == r.q_new and r.q_old is not None for r in rows), rows
        return {"rows_out": len(rows)}

    psi = lambda n: psi_quantile_bins(domain(n), domain(n), "v", n_bins=10)  # noqa: E731
    grow(tr, "psi_qbins {} rows", psi, check_psi, (10_000_000, 20_000_000))
    qq = lambda n: qq_table(domain(n), domain(n), "v")  # noqa: E731
    grow(tr, "qq_table {} rows", qq, check_qq, (10_000_000, 20_000_000))


if __name__ == "__main__":
    main()
