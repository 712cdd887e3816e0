"""Recall/precision of MinHash-LSH near-dup detection vs exact Jaccard.

The exact shingle-join operator is the oracle-grade ground truth; the
banded MinHash path is the corpus-scale plan (no quadratic candidate
term).  This script quantifies what the approximation trades: for each
Jaccard threshold, recall = fraction of true near-dup pairs the banded
path surfaces (any est), and precision@t = fraction of surfaced pairs
with est ≥ t whose TRUE Jaccard is ≥ t.  Committed numbers live in
SOAK.md.

    python scripts/lsh_recall_table.py [sf_dir]
"""

from __future__ import annotations

import json
import sys

from soak import SF_DIR


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    from radohydro_spark import get_spark
    import __spark_entry__ as entry
    from radohydro_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    spark = get_spark("lsh_recall")
    corpus = entry._dup_corpus(spark, sf_dir, near=True)

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            corpus, "text", "doc_id", k=3, threshold=0.0, max_doc_freq=None
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            corpus, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2
        ).collect()
    }

    out = {"sf_dir": sf_dir, "n_exact_pairs_any": len(exact), "n_lsh_pairs": len(lsh)}
    for t in (0.5, 0.7, 0.9):
        truth = {p for p, j in exact.items() if j >= t}
        surfaced = truth & set(lsh)
        claimed = {p for p, e in lsh.items() if e >= t}
        correct = {p for p in claimed if exact.get(p, 0.0) >= t}
        out[f"recall@{t}"] = round(len(surfaced) / len(truth), 4) if truth else None
        out[f"precision@{t}"] = (
            round(len(correct) / len(claimed), 4) if claimed else None
        )
        out[f"n_truth@{t}"] = len(truth)
        print(
            f"t={t}: truth={len(truth)} recall={out[f'recall@{t}']} "
            f"precision={out[f'precision@{t}']}",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
