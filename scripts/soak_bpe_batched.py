"""Batched-selection BPE soak: serial BPE's wall is round-serial (~0.15-
0.25 s/round at the 1M-doc corpus, hours for a 30k-merge vocabulary).
``bpe_train_merges(batch_top=B)`` accepts up to B mutually
symbol-disjoint pairs per round; this soak measures rounds and wall for
the SAME target vocabulary size, serial vs batched, on the sf0.1
documents replicated with the ``suffixed`` law.

Reported: rounds used, merges learned, wall, and the rounds-per-merge
ratio (the bar is ≥10× fewer rounds for equal vocabulary).  Batched
rounds can under-fill when top candidates share symbols, so the batched
leg targets ``serial_merges`` and reports the ACHIEVED count; the
comparison normalizes per merge.  The table overlap with the serial
run quantifies the exactness caveat.

    python scripts/soak_bpe_batched.py [reps] [serial_merges] [batch_top]
    # defaults: 200 replicas (1M docs), 60 merges, B=16
"""

from __future__ import annotations

import sys

from soak import measure, replicate, session, suffixed, table


def main() -> None:
    from radohydro_spark.functions.text import bpe_train_merges

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    batch_top = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    spark, tr = session("soak_bpe_batched")
    docs = table(spark, "documents").select("doc_id", "text")
    corpus = replicate(docs, reps, ["doc_id"], text=suffixed()).cache()
    print(f"corpus: {corpus.count():,} docs; target {n_merges} merges", flush=True)

    serial, _ = measure(tr, "serial", lambda: bpe_train_merges(corpus, "text", n_merges).collect(),
                        lambda t: {"merges": len(t), "rounds": n_merges})
    rounds = lambda t: max((r["round"] for r in t), default=0)  # noqa: E731
    def fit():
        return bpe_train_merges(corpus, "text", n_merges, batch_top=batch_top).collect()

    batched, _ = measure(tr, f"batched B={batch_top}", fit,
                         lambda t: {"merges": len(t), "rounds": rounds(t)})
    per_serial = n_merges / max(len(serial), 1)
    per_batched = rounds(batched) / max(len(batched), 1)
    print(f"rounds/merge: serial {per_serial:.2f} vs batched {per_batched:.3f} -> "
          f"{per_serial / per_batched:.1f}x fewer rounds per learned merge")
    shared = {(r["pa"], r["pb"]) for r in serial} & {(r["pa"], r["pb"]) for r in batched}
    print(f"table overlap vs serial: {len(shared)}/{len(serial)} shared pairs "
          f"({100.0 * len(shared) / max(len(serial), 1):.0f}%)")


if __name__ == "__main__":
    main()
