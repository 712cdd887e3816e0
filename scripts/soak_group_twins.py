"""Per-group (``_by``) operator family at many-groups scale.

The per-group forms run group-partitioned windows or counter aggregates
under a documented contract: one group's domain must fit one task's
sort, and the shuffle carries Σ_g |group g's domain| counter rows (or a
fixed number of counters per group).  Every leg builds G identical
groups, so the statistic must be IDENTICAL across groups and equal to
a hand formula, asserted on sampled groups or on every row:

* ks_drift_by: uniform D values × K copies vs a shift by S (law replayed
  in python); tvd_drift_by: a planted category skew;
* chi2_drift_by / jsd_drift_by: a planted boost doubles category 0 and
  erases category 10, which must top the movers (chi2 law replayed per
  row);
* heavy_hitters_by: a planted 3× hot value ranks 1 in every group;
* kmv_by: exactly k rows per group over a large per-group key domain
  (the Arrow prune keeps the exchange at partitions·G·k rows, so
  doubling rows at fixed G leaves the shuffle ~flat);
* corr_by: y = 2x exactly, corr and slope 1.0 / 2.0 (±1e-9);
* ttest_by: the new side planted exactly +5.00 above the old, six
  counters per group (shuffle ~flat as rows double at fixed G);
* mutual_info_by: product-form (x, y) cells, lift 1.0 and mi 0.0;
* entropy_by: a uniform 20-category mix, h_contrib == (1/20)·ln 20;
* rare_categories: one planted singleton category per group among 20
  common ones, at the hand-computed ppm.

The shuffle ratio between the two sizes of a leg pins its growth:
linear in the group count for the diagram operators, flat in rows for
the sketch/moment ones.

    python scripts/soak_group_twins.py
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from soak import grow, session


def _ks_law(d, k, s):
    """(d_num, at_value, ppm) of uniform [0, d) × k copies vs the same
    shifted by s: the max CDF gap and where it is first attained."""
    c1, c2 = Counter({v: k for v in range(d)}), Counter({v + s: k for v in range(d)})
    n = k * d
    f1 = f2 = 0
    best = (-1, None)
    for v in sorted(set(c1) | set(c2)):
        f1, f2 = f1 + c1[v], f2 + c2[v]
        if abs(f1 - f2) * n > best[0]:
            best = (abs(f1 - f2) * n, v)
    return best[0], best[1], (1_000_000 * best[0]) // (n * n)


def main() -> None:
    from radohydro_spark.operators import profile as P
    from radohydro_spark.operators.sketch import heavy_hitters_by, kmv_by

    spark, tr = session("soak_group_twins")
    GROUPS = (5_000, 10_000)

    def grouped(g, n, *cols):
        """g × n rows: ``grp`` = id mod g, and ``j`` = id div g runs over
        0..n-1 in every group, so all groups see the same j-sequence."""
        j = (F.col("id") / g).cast("long")
        return spark.range(g * n).select((F.col("id") % g).alias("grp"), *[c(j) for c in cols])

    def sampled(rows, g):
        assert len(rows) == g, (len(rows), g)
        return rows[:: max(1, g // 7)]

    def rows_out(check):
        def run(rows, size):
            check(rows, size)
            return {"rows_out": len(rows)}

        return run

    # ---- ks_drift_by: G groups × D values × K copies, new side shifted by S
    D, K, S = 2_000, 2, 200
    ks_d, ks_at, ks_ppm = _ks_law(D, K, S)

    def ks(g):
        old = grouped(g, D * K, lambda j: (j % D).alias("v"))
        new = grouped(g, D * K, lambda j: (j % D + S).alias("v"))
        return P.ks_drift_by(old, new, "v", ["grp"])

    def ks_check(rows, g):
        for r in sampled(rows, g):
            assert (r.n_old, r.n_new) == (K * D, K * D), r
            assert (r.d_num, r.at_value, r.ks_ppm) == (ks_d, ks_at, ks_ppm), r

    grow(tr, "ks_by {} groups x 2000 values", ks, rows_out(ks_check), GROUPS)

    # ---- tvd_drift_by: 16 categories; the new side moves half of cat 1 to cat 0
    C, per_cat = 16, 500
    co = Counter({str(c): per_cat for c in range(C)})
    cn = co + Counter({"0": per_cat // 2}) - Counter({"1": per_cat // 2})
    tn1, tn2 = sum(co.values()), sum(cn.values())
    tvd_num = sum(abs(co[c] * tn2 - cn[c] * tn1) for c in co)
    tvd_ppm = (1_000_000 * tvd_num) // (2 * tn1 * tn2)

    def tvd(g):
        def cat(skew):
            def col(j):
                c = j % C
                if skew:
                    moved = (c == 1) & ((j / C).cast("long") < per_cat // 2)
                    c = F.when(moved, F.lit(0)).otherwise(c)
                return c.cast("string").alias("c")

            return grouped(g, C * per_cat, col)

        return P.tvd_drift_by(cat(False), cat(True), "c", ["grp"])

    def tvd_check(rows, g):
        for r in sampled(rows, g):
            assert (r.n_old, r.n_new, r.tvd_num, r.tvd_ppm) == (tn1, tn2, tvd_num, tvd_ppm), r

    grow(tr, "tvd_by {} groups x 16 cats", tvd, rows_out(tvd_check), GROUPS)

    # ---- chi2/jsd: 20 categories; the new side doubles cat 0 and erases cat 10
    def drift_sides(g):
        cat = lambda j: (j % 20).cast("string")  # noqa: E731
        old = grouped(g, 1000, lambda j: cat(j).alias("cat"))
        boost = lambda j: F.when(j % 10 == 0, F.lit("0")).otherwise(cat(j))  # noqa: E731
        new = grouped(g, 1000, lambda j: boost(j).alias("cat"))
        return old, new

    def identical(rows, *fields):
        by_cat = {}
        for r in rows:
            by_cat.setdefault(r.cat, set()).add(tuple(r[f] for f in fields))
        assert all(len(v) == 1 for v in by_cat.values()), "groups diverge"

    def chi2_check(rows, _):
        identical(rows, "n_old", "n_new", "d", "chi2_contrib")
        top = max(rows, key=lambda r: r.chi2_contrib)
        assert top.cat == "10" and top.n_new == 0, top
        n1 = sum(r.n_old for r in rows if r.grp == rows[0].grp)
        n2 = sum(r.n_new for r in rows if r.grp == rows[0].grp)
        for r in rows[:100]:
            assert r.d == abs(r.n_old * n2 - r.n_new * n1)
            assert r.chi2_contrib == round((r.d / n1) * (r.d / n2) / (r.n_old + r.n_new), 9)

    def jsd_check(rows, _):
        identical(rows, "n_old", "n_new", "jsd_contrib")
        assert max(rows, key=lambda r: r.jsd_contrib).cat == "10"  # p·ln2 with q = 0

    grow(tr, "chi2_by G={} per_side=1k", lambda g: P.chi2_drift_by(*drift_sides(g), "cat", ["grp"]),
         rows_out(chi2_check), GROUPS)
    grow(tr, "jsd_by G={} per_side=1k", lambda g: P.jsd_drift_by(*drift_sides(g), "cat", ["grp"]),
         rows_out(jsd_check), GROUPS)

    # ---- heavy_hitters_by: a planted hot value per group
    def hh(g):
        def hot(j):
            return F.when(j % 25 < 3, F.lit("hot")).otherwise((j % 100).cast("string")).alias("v")

        df = grouped(g, 2000, hot)
        return heavy_hitters_by(df, "v", ["grp"], k=5)

    def hh_check(rows, _):
        r1 = [r for r in rows if r.rank == 1]
        assert all(r.value == "hot" for r in r1), r1[:3]

    grow(tr, "hh_by G={} per_grp=2k", hh, rows_out(hh_check), GROUPS)

    # ---- kmv_by: 100 groups over a large per-group key domain
    def kmv(n):
        keys = spark.range(n).select(
            (F.col("id") % 100).alias("grp"), F.col("id").cast("string").alias("k")
        )
        return kmv_by(keys, "k", ["grp"], k=64)

    def kmv_check(rows, _):
        assert all(v == 64 for v in Counter(r.grp for r in rows).values())

    grow(tr, "kmv_by rows={} G=100 k=64", kmv, rows_out(kmv_check), (4_000_000, 8_000_000))

    # ---- corr_by: y = 2x exactly, one counter aggregate
    def corr(n):
        x = lambda j: (j % 1000).cast("double").alias("x")  # noqa: E731
        y = lambda j: (j % 1000 * 2).cast("double").alias("y")  # noqa: E731
        return P.corr_by(grouped(10_000, n // 10_000, x, y), "x", "y", ["grp"])

    def corr_check(rows, _):
        assert all(abs(r.corr - 1.0) < 1e-9 and abs(r.slope - 2.0) < 1e-9 for r in rows)

    grow(tr, "corr_by rows={} G=10k", corr, rows_out(corr_check), (10_000_000, 20_000_000))

    # ---- ttest_by: the new side planted +5.00 above the old, fixed G
    def ttest(per_side):
        old = grouped(10_000, per_side, lambda j: (j % 100 * 0.25).alias("v"))
        new = old.select("grp", (F.col("v") + 5.0).alias("v"))
        return P.ttest_by(old, new, "v", ["grp"], scale=100)

    def ttest_check(rows, _):
        for r in rows:
            assert r.mean_diff == 5.0 and r.t_stat is not None and r.t_stat > 0, r
            assert r.n_old == r.n_new, r

    grow(tr, "ttest_by G=10k per_side={}", ttest, rows_out(ttest_check), (500, 1000))

    # ---- mutual_info_by: j mod 4 and j mod 5 over j < 2000 (a multiple of
    # 20) are exactly independent: each (x, y) cell appears 100 times
    def mi(g):
        x = lambda j: (j % 4).cast("string").alias("x")  # noqa: E731
        y = lambda j: (j % 5).cast("string").alias("y")  # noqa: E731
        return P.mutual_info_by(grouped(g, 2000, x, y), "x", "y", ["grp"])

    def mi_check(rows, _):
        assert all(r.lift == 1.0 and r.mi_contrib + 0.0 == 0.0 for r in rows), rows[:3]

    grow(tr, "mutual_info_by G={} per_grp=2000", mi, rows_out(mi_check), GROUPS)

    # ---- entropy_by: uniform 20-category mix
    want_h = round(-((1 / 20) * math.log(1 / 20)), 9)

    def entropy(g):
        df = grouped(g, 2000, lambda j: (j % 20).cast("string").alias("c"))
        return P.entropy_by(df, "c", ["grp"])

    def ent_check(rows, _):
        assert all(r.h_contrib == want_h for r in rows), rows[:3]

    grow(tr, "entropy_by G={} per_grp=2000", entropy, rows_out(ent_check), GROUPS)

    # ---- rare_categories: j == 0 is the singleton "rare" category of its
    # group; the common ones hold ~per_grp/20 rows each
    def rare(g):
        c = lambda j: F.when(j == 0, F.lit("rare")).otherwise((j % 20).cast("string"))  # noqa: E731
        df = grouped(g, 2000, lambda j: c(j).alias("c"))
        return P.rare_categories(df, "c", ["grp"], max_ppm=2_000_000 // 2000)

    def rare_check(rows, g):
        assert len(rows) == g, (len(rows), g)
        for r in rows[:1000]:
            assert r.cat == "rare" and r.n == 1 and r.share_ppm == 1_000_000 // 2000, r

    grow(tr, "rare_categories G={} per_grp=2000", rare, rows_out(rare_check), GROUPS)


if __name__ == "__main__":
    main()
