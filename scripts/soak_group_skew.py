"""Soak: the per-group twins under GROUP SKEW.

The uniform-group legs (soak_group_twins.py) pin linear shuffle in the
group count; the realistic hazard for the group-partitioned-window
contract ("one group's domain must fit a task's sort",
``ks_drift_by``/``auc_by`` docstrings) is SKEW: one giant group, its
domain at or past a task's memory, among 10k small ones:

* 10,000 small groups (domain 2k values) PLUS one giant group whose
  distinct-value domain ramps 2M → 8M → 24M per side, all in the same
  ``ks_drift_by`` / ``auc_by`` call;
* closed-form correctness for BOTH populations: the uniform-shift KS
  law at either domain; the giant auc group is a perfectly-separated
  half/half labeling → auc_ppm == 1_000_000 exactly, with the exact
  integer rank sum replayed;
* the failure mode: the giant group lands in ONE window task whose
  sorter spills gracefully: wall grows ~linearly in the giant domain
  and the job completes with disk spill recorded, no OOM and no wrong
  answer, which is why the contract is a PERFORMANCE cliff, not a
  correctness one.

    python scripts/soak_group_skew.py
"""

from __future__ import annotations

from pyspark.sql import functions as F

from soak import grow, session

SMALL_G, SMALL_D, SHIFT = 10_000, 2_000, 200
GIANT = (2_000_000, 8_000_000, 24_000_000)


def main() -> None:
    from radohydro_spark.operators.profile import auc_by, ks_drift_by

    spark, tr = session("soak_group_skew")
    # a uniform domain of D values against the same shifted by SHIFT has
    # its largest CDF gap SHIFT rows wide, first reached at value SHIFT-1
    ks_law = lambda d: (SHIFT * d, SHIFT - 1, (1_000_000 * SHIFT * d) // (d * d))  # noqa: E731

    def population(giant_d, *cols):
        """SMALL_G groups × SMALL_D values (v = id div SMALL_G, each value
        once per group) plus the "GIANT" group with values 0..giant_d-1."""
        small = spark.range(SMALL_G * SMALL_D).select(
            F.expr(f"CAST(id % {SMALL_G} AS STRING)").alias("g"),
            F.expr(f"id div {SMALL_G}").alias("v"),
        )
        giant = spark.range(giant_d).select(F.lit("GIANT").alias("g"), F.col("id").alias("v"))
        return small.unionByName(giant).select("g", *cols)

    def check(field_law):
        def run(rows, giant_d):
            assert len(rows) == SMALL_G + 1, len(rows)
            giant = [r for r in rows if r.g == "GIANT"]
            field_law(giant[0], giant_d)
            for r in rows[:: SMALL_G // 5]:
                if r.g != "GIANT":
                    field_law(r, SMALL_D)
            return {"groups": len(rows)}

        return run

    def ks_fields(r, d):
        assert (r.n_old, r.n_new) == (d, d), r
        want_d, at, ppm = ks_law(d)
        assert r.d_num == want_d and r.ks_ppm == ppm and (d != SMALL_D or r.at_value == at), r

    def ks(d):
        shifted = population(d, (F.col("v") + SHIFT).alias("v"))
        return ks_drift_by(population(d, "v"), shifted, "v", ["g"])

    grow(tr, "ks_by_skew_10k_small_plus_giant_{}", ks, check(ks_fields), GIANT)

    def auc_fields(r, d):
        # scores 0..d-1, label = score >= d/2: perfect separation, tie-free,
        # so the positives hold ranks np+1..d and auc_ppm == 1_000_000
        np_ = d // 2
        assert (r.n_pos, r.n_neg) == (np_, d - np_), r
        r2_perfect = 2 * (np_ * d + np_ * (np_ + 1) // 2 - np_ * np_)
        assert d == SMALL_D or r.rank_sum_pos_x2 == r2_perfect, r
        assert r.auc_ppm == 1_000_000, r

    def auc(d):
        half = F.when(F.col("g") == "GIANT", d // 2).otherwise(SMALL_D // 2)
        scored = population(d, F.col("v").alias("s"), (F.col("v") >= half).cast("long").alias("y"))
        return auc_by(scored, "s", "y", ["g"])

    grow(tr, "auc_by_skew_10k_small_plus_giant_{}", auc, check(auc_fields), GIANT)


if __name__ == "__main__":
    main()
