"""Paragraph-dedup soak: shuffle linearity of ``dedup_paragraphs``' two
exchanges (paragraph-key window + doc-key reassembly) at replicated
corpus volume, under both exchange-key laws: raw paragraph text and the
xxhash64 fingerprint (exact tie law), whose survivor counts must agree.

Corpus: sf0.1 documents paged into 12-token '\\n\\n' paragraphs, then
replicated R× with remapped doc ids and UNCHANGED text: every replica's
paragraphs exactly duplicate the base corpus's, the boilerplate-heavy
worst case where almost everything dedups away (survivor fraction
~1/R).  Both shuffles must carry rows linear in the input (paragraph
occurrences resp. surviving docs), never pair-shaped state.  With
``--long`` each document is its text repeated 12× and paged at 120
tokens (~0.8 KB paragraphs): the regime where the fingerprint key pays
(hashing and window-sort comparisons on full paragraph bytes vs 8-byte
longs).

    python scripts/soak_paragraphs.py [--long] [replicas ...]   # default 20 200
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, session, table


def main() -> None:
    long_paras = "--long" in sys.argv[1:]
    replica_counts = [int(a) for a in sys.argv[1:] if not a.startswith("--")] or [20, 200]
    from radohydro_spark.functions.text import tokens
    from radohydro_spark.operators.dedup import dedup_paragraphs

    spark, tr = session("soak_paragraphs")
    src = table(spark, "documents").select("doc_id", "text")
    if long_paras:
        src = src.select(
            "doc_id", F.concat_ws(" ", F.array_repeat(F.trim("text"), 12)).alias("text")
        )
    p = 120 if long_paras else 12
    toks = tokens("text")
    n_paras = F.greatest(F.ceil(F.size(toks) / F.lit(float(p))).cast("int"), F.lit(1))
    paras = F.transform(
        F.sequence(F.lit(1), n_paras), lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * p + 1, p))
    )
    base = src.select("doc_id", F.array_join(paras, "\n\n").alias("text"))
    for reps in replica_counts:
        corpus = replicate(base, reps, ["doc_id"]).persist()
        n = corpus.count()
        kept = {}
        for mode, fp in (("raw", False), ("fingerprint", True)):
            agg = lambda fp=fp: dedup_paragraphs(corpus, fingerprint=fp).agg(  # noqa: E731
                F.sum("n_paras").alias("paras"),
                F.sum("n_kept").alias("kept"),
                F.count("*").alias("docs"),
            ).first()
            row, _ = measure(tr, f"x{reps} {mode}", agg, lambda r: {"n_docs": n, **r.asDict()})
            kept[mode] = row["kept"]
        assert kept["raw"] == kept["fingerprint"], kept
        corpus.unpersist()


if __name__ == "__main__":
    main()
