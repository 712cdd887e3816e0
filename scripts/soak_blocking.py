"""Blocking-family soak: overlap join + sorted-neighborhood at
replicated corpus volume.

* overlap_pairs shares jaccard_prefix_pairs' machinery, but its prefix
  bound is ABSOLUTE (n_sh - c + 1): on long documents the indexed
  fraction approaches 1, so the scale question is whether the verify
  stage (bounded by true-overlap candidates) stays the cost center.
  On this uniform-vocabulary corpus its candidate join inherits the
  prefix family's adversarial case (every shingle hot, f² candidates),
  so the leg runs only up to 60k docs; the operator's design-regime
  evidence is soak_overlap_zipf.py, and at 500k docs the right tool is
  LSH banding (soak_corpus.py).
* sorted_neighborhood_pairs: global_rank is driver-fixed ranges (never
  a single-task window), and the candidate budget is EXACTLY window·N
  rows regardless of token statistics.

Corpus: sf0.1 documents replicated with the ``salted`` dup-planting
law (exact-dup families sort adjacent and share all shingles).

    python scripts/soak_blocking.py [replicas ...]   # default 10 100
"""

from __future__ import annotations

import sys

from soak import measure, replicate, salted, session, table


def main() -> None:
    replica_counts = [int(a) for a in sys.argv[1:]] or [10, 100]
    from radohydro_spark.operators.dedup import overlap_pairs, sorted_neighborhood_pairs

    spark, tr = session("soak_blocking")
    base = table(spark, "documents").select("doc_id", "text")
    for reps in replica_counts:
        docs = replicate(base, reps, ["doc_id"], text=salted()).repartition(64).persist()
        n = docs.count()
        pairs = lambda out: {"n_docs": n, "pairs": out}  # noqa: E731
        snp = lambda: sorted_neighborhood_pairs(  # noqa: E731
            docs, "text", "doc_id", window=8, k=3, threshold=0.5
        ).count()
        measure(tr, f"x{reps} sorted_neighborhood_w8", snp, pairs)
        if n <= 60_000:
            c60 = lambda: overlap_pairs(docs, "text", "doc_id", k=3, min_overlap=60)  # noqa: E731
            measure(tr, f"x{reps} overlap_c60", lambda: c60().count(), pairs)
        docs.unpersist()


if __name__ == "__main__":
    main()
