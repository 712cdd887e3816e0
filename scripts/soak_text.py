"""Text-family soak: DSIR importance weights and multi-round BPE training
at replicated corpus volume, and ``vocab_growth`` against its closed
form.

Corpus: sf0.1 documents replicated ``R``× with the ``suffixed`` law:
the vocabulary grows with R, the adversarial case for vocabulary-keyed
work (a real corpus's vocabulary grows sublinearly).

* DSIR: target = the 'de' slice of the base table; one weight row per
  document, while the lr dimension table stays ``n_buckets`` rows at
  any corpus size (the broadcast contract).
* BPE: 6 merge rounds, pricing the one-off vocabulary aggregation
  against the per-round cost.
* vocab_growth: every doc carries one UNIQUE token + one shared token,
  so ``vocab_cum == docs_cum + 1`` at every bucket (asserted) at 500k
  and 1M docs; the token-domain min aggregate is the one row-scaling
  shuffle.

    python scripts/soak_text.py [replicas ...]   # default 20 200
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, session, suffixed, table

def main() -> None:
    reps = [int(a) for a in sys.argv[1:]] or [20, 200]
    from radohydro_spark.functions.text import bpe_train_merges, vocab_growth
    from radohydro_spark.operators.sampling import dsir_importance_weights

    spark, tr = session("soak_text")
    docs = table(spark, "documents").select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") == "de").select("doc_id", "text")
    for R in reps:
        corpus = replicate(docs, R, ["doc_id"], text=suffixed()).repartition(64).persist()
        n = corpus.count()
        dsir = lambda: dsir_importance_weights(corpus, target, k=2, n_buckets=4096)  # noqa: E731
        measure(tr, f"R={R} dsir", lambda: dsir().count(), lambda n_w: {"docs": n, "weights": n_w})
        measure(tr, f"R={R} bpe 6 rounds", lambda: bpe_train_merges(corpus, "text", 6).collect(),
                lambda m: {"merges": len(m)})
        corpus.unpersist()

    def vg_check(rows):
        for r in rows:  # the shared token belongs to bucket 0
            assert r.vocab_cum == r.docs_cum + 1 and r.n_tokens == 2 * r.n_docs, r
        return {"rows": len(rows)}

    for n_docs in (500_000, 1_000_000):
        text = F.concat(F.lit("shared t"), F.col("id").cast("string"))
        vg = spark.range(n_docs).select(F.col("id").alias("doc_id"), text.alias("text"))
        measure(tr, f"vocab_growth {n_docs} docs",
                lambda vg=vg: vocab_growth(vg, "text", "doc_id", n_buckets=10).collect(), vg_check)


if __name__ == "__main__":
    main()
