"""Production-shape BPE soak: a 1,000-merge vocabulary trained end to
end at the 1M-doc corpus with batch_top=32, plus the encode round-trip,
pinning that the marginal round cost stays bounded at real vocabulary
scale and that the merge table is prefix-stable at depth.

* Train fresh at ``half`` and ``2·half`` merges on the same corpus; the
  marginal wall per ACCEPTED merge between the segments against the
  first segment's rate pins "no superlinear round cost".
* Prefix stability: the first ``half`` merges of the deeper run equal
  the shallower run exactly (asserted).
* Encode round-trip: ``bpe_encode`` with the full table over a 2,000-doc
  sample; concatenating each word's symbols must reproduce the
  (whitespace-stripped) document exactly (asserted).
* The real corpus's pair space runs dry well short of 1,000 merges (the
  trainer's documented early stop), so a synthetic leg repeats the two
  trainings on 1M docs × 12 words drawn from 50k random-looking 12-char
  md5-hex words, then trains to a 3,000-merge target: rounds are static
  (ceil(n_merges/B), the oracle-replayable walk), so crossing 1,000
  LEARNED merges (asserted) needs a higher target when per-round
  acceptance is ~13.

Corpus: sf0.1 documents × ``reps`` with the ``suffixed`` law.

    python scripts/soak_bpe_vocab1k.py [reps] [half] [batch_top]   # default 200 500 32
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, session, suffixed, table


def main() -> None:
    from radohydro_spark.functions.text import bpe_encode, bpe_train_merges

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    half = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    b = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark, tr = session("soak_bpe_vocab1k")
    merges = lambda t: {"merges": len(t)}  # noqa: E731

    def train(label, corpus, n):
        fit = lambda: bpe_train_merges(corpus, "text", n_merges=n, batch_top=b)  # noqa: E731
        rows, m = measure(tr, f"{label} target={n}", lambda: fit().collect(), merges)
        return rows, m["s"]

    def prefix_stable(label, short, deep):
        head = [(r["pa"], r["pb"]) for r in deep[: len(short)]]
        assert head == [(r["pa"], r["pb"]) for r in short], f"{label}: NOT prefix-stable"
        print(f"{label}: first {len(short)} merges of the {len(deep)}-merge run identical",
              flush=True)

    def two_segments(label, corpus):
        m_half, w_half = train(label, corpus, half)
        m_full, w_full = train(label, corpus, 2 * half)
        marg = (w_full - w_half) / max(len(m_full) - len(m_half), 1)
        print(f"{label}: marginal {marg:.2f}s/merge for merges {len(m_half) + 1}..{len(m_full)} vs "
              f"{w_half / max(len(m_half), 1):.2f}s/merge for 1..{len(m_half)}", flush=True)
        prefix_stable(label, m_half, m_full)
        return m_full

    docs = table(spark, "documents").select("doc_id", "text")
    corpus = replicate(docs, reps, ["doc_id"], text=suffixed()).cache()
    print(f"corpus: {corpus.count()} docs, batch_top={b}", flush=True)
    m_full = two_segments("corpus", corpus)

    table_df = spark.createDataFrame(
        [(r["merge_rank"], r["pa"], r["pb"]) for r in m_full],
        "merge_rank long, pa string, pb string",
    )
    sample = corpus.limit(2_000).cache()
    # losslessness: with delimiters stripped, the encoded symbols
    # reproduce the whitespace-normalized document exactly
    rt = bpe_encode(sample, table_df, "text").join(sample, "doc_id").select(
        "n_tokens",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", "").alias("orig"),
        F.regexp_replace(F.col("encoded"), " ", "").alias("rebuilt"),
    )
    bad = F.sum((F.col("orig") != F.col("rebuilt")).cast("int"))
    agg = lambda: rt.agg(bad, F.sum("n_tokens")).first()  # noqa: E731
    (n_bad, n_tok), _ = measure(tr, f"encode 2000 docs with the {len(m_full)}-merge table", agg)
    assert n_bad == 0, f"encode round-trip broke on {n_bad} docs"
    print(f"encode round-trip lossless ({n_tok} tokens)", flush=True)
    corpus.unpersist()

    vocab_n = 50_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda j: F.substring(
            F.md5(F.pmod(F.xxhash64(F.col("id") * 12 + j), F.lit(vocab_n)).cast("string")), 1, 12
        ),
    )
    syn = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"), F.lower(F.array_join(words, " ")).alias("text")
    ).cache()
    print(f"synthetic: {syn.count()} docs, {vocab_n} md5-hex words", flush=True)
    s_full = two_segments("synthetic", syn)
    s_deep, w_deep = train("synthetic deep", syn, 3_000)
    rounds = -(-3_000 // b)
    print(f"synthetic deep: learned={len(s_deep)} rounds={rounds} ({w_deep / rounds:.2f}s/round)",
          flush=True)
    assert len(s_deep) >= 1_000, "deep leg did not cross 1000 merges"
    prefix_stable("synthetic deep", s_full, s_deep)


if __name__ == "__main__":
    main()
