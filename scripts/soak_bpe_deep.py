"""Deep-round BPE training soak: the per-merge-round cost must stay FLAT
at large round counts.  The trainer is a serial argmax-collect +
fold-rewrite loop, so the scale risk is lineage growth making round r
pay for rounds 1..r-1; ``bpe_train_merges`` localCheckpoints the
vocabulary every round precisely to bound that.

Trains fresh at each ``n_merges`` in the segments on the same corpus and
compares the MARGINAL per-round cost between segments: if lineage
leaked, rounds 121-180 would cost far more per round than rounds 31-60.
Asserts merge-table PREFIX STABILITY: the first k merges of a deeper run
equal the k-merge run exactly.

Corpus: sf0.1 documents × ``reps`` with the ``suffixed`` law (200
replicas = 1,000,000 documents, vocabulary ~6k words).

    python scripts/soak_bpe_deep.py [reps] [segments ...]   # default 200 30 60 120 180
"""

from __future__ import annotations

import sys

from soak import measure, replicate, session, suffixed, table


def main() -> None:
    from radohydro_spark.functions.text import bpe_train_merges

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    segments = sorted(int(x) for x in sys.argv[2:]) or [30, 60, 120, 180]
    spark, tr = session("soak_bpe_deep")
    docs = table(spark, "documents").select("doc_id", "text")
    corpus = replicate(docs, reps, ["doc_id"], text=suffixed()).cache()
    print(f"corpus: {corpus.count():,} docs, segments={segments}", flush=True)

    tables, walls = {}, {}
    for n in segments:
        train = lambda n=n: bpe_train_merges(corpus, "text", n).collect()  # noqa: E731
        rows, m = measure(tr, f"n_merges={n}", train, lambda t: {"merges": len(t)})
        tables[n] = [(r["merge_rank"], r["pa"], r["pb"], r["n"]) for r in rows]
        walls[n] = m["s"]
    for lo, hi in zip(segments, segments[1:]):
        assert tables[hi][: len(tables[lo])] == tables[lo], (lo, hi)
        marginal = (walls[hi] - walls[lo]) / (hi - lo)
        print(f"rounds {lo + 1:4d}-{hi:4d}: marginal {marginal:5.3f}s/round")
    print("prefix stability: OK (every deeper run extends the shallower)")


if __name__ == "__main__":
    main()
