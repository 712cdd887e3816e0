"""Winnowing soak: fingerprint selection + MOSS pair join at replicated
volume.

Scales the sf0.1 documents (5,000 docs) by ``replicas`` (default 1 10)
with the ``suffixed`` law: non-planted replicas carry per-replica
token suffixes, so fingerprint spaces are disjoint across replicas and
the pair volume stays linear in R; every replica of a
``doc_id % 37 == 0`` document keeps the ORIGINAL text, so planted
exact-duplicate families whose C(R,2) pairs must all surface (identical
text ⇒ identical fingerprint sets ≫ min_shared).

Per replica count:

* selection: fingerprints kept and their DENSITY against the positional
  shingle count (theory ~2/(window+1) ≈ 0.40 at window=4: the join-input
  reduction winnowing buys over the full shingle join);
* pair join: pairs out, planted recall (every planted family pair must
  surface, asserted) and the natural within-replica near-dup volume.

    python scripts/soak_winnow.py [replicas ...]   # default 1 10

``R:p`` caps the planted replicas at ``p`` (planted pairs then grow
linearly in the corpus while recall stays exactly checkable; the big-R
form).
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, session, suffixed, table

K, WIN = 3, 4


def main() -> None:
    args = [a.split(":") for a in sys.argv[1:]] or [["1"], ["10"]]
    from radohydro_spark.functions.text import tokens
    from radohydro_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    spark, tr = session("soak_winnow")
    base = table(spark, "documents").select("doc_id", "text")
    n_planted = base.filter(F.col("doc_id") % 37 == 0).count()
    for a in args:
        R, plant = int(a[0]), int(a[1]) if len(a) > 1 else int(a[0])
        keep = (F.col("doc_id") % 37 == 0) & (F.col("rep") < plant)
        text = F.when(keep, F.col("text")).otherwise(suffixed())
        corpus = replicate(base, R, ["doc_id"], text=text).repartition(64).persist()
        n_docs = corpus.count()
        positions = F.greatest(F.size(tokens("text")) - K, F.lit(0)) + 1
        n_pos = corpus.select(F.sum(positions)).first()[0]
        fp = lambda: winnow_fingerprints(corpus, "text", "doc_id", k=K, window=WIN)  # noqa: E731
        density = lambda n: {  # noqa: E731
            "docs": n_docs, "positions": n_pos, "fingerprints": n, "density": round(n / n_pos, 3)
        }
        measure(tr, f"R={R} selection", lambda: fp().count(), density)
        # winnow_pairs builds lazily (no eager job): the count is the pair join
        pairs = winnow_pairs(
            corpus, "text", "doc_id", k=K, window=WIN, min_shared=2, max_fp_freq=1000
        ).persist()
        n_pairs, _ = measure(tr, f"R={R} pairs", pairs.count)
        fam = pairs.filter(F.expr(f"id_a div {R}") == F.expr(f"id_b div {R}")).count()
        fam_size = min(plant, R)
        expected = n_planted * (fam_size * (fam_size - 1) // 2)
        print(f"      pairs={n_pairs:,} same-family={fam:,} (planted {expected:,}) "
              f"cross-family={n_pairs - fam:,}")
        # every planted family pair surfaces: identical texts share every fingerprint
        assert fam == expected, (fam, expected)
        pairs.unpersist()
        corpus.unpersist()


if __name__ == "__main__":
    main()
