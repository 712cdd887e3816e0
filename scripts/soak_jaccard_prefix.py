"""Exact-Jaccard soak: naive shingle self-join vs prefix filtering.

* ``ngram_jaccard_pairs(max_doc_freq=None)`` is the textbook self-join on
  EVERY shingle; its f²-per-shingle term is the documented scale cliff.
* ``jaccard_prefix_pairs`` returns the same exact result, but only the
  ``n - ceil(t*n) + 1`` globally-rarest shingles of each doc enter the
  self-join (prefix filtering, Chaudhuri ICDE'06 / Xiao WWW'08), plus
  the length filter; candidates are then verified exactly.

Two corpus regimes, both the sf0.1 documents replicated with the
``salted`` dup-planting law (replica families are near-dup cliques at
Jaccard >= 0.9):

* ``uniform``: the raw synthetic text, a ~31-token vocabulary, so EVERY
  shingle is hot and there is no rare tail: prefix filtering's
  adversarial case.  Run once, at 5 replicas, to measure the
  precondition rather than pretend it away.
* ``zipf-tail``: each base doc also carries 8 rare tokens derived from
  its BASE id, so replica families share their tail, like the names,
  numbers and typos that give a real corpus its Zipf tail; each doc's
  prefix is family-specific and the candidates collapse to ~the true
  pairs.

Both operators must return the SAME pair count (they are exact
algorithms for the same query).

    python scripts/soak_jaccard_prefix.py [replicas ...]   # default 5 20
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, salted, session, table


def main() -> None:
    replica_counts = [int(a) for a in sys.argv[1:]] or [5, 20]
    from radohydro_spark.operators import dedup as DD

    spark, tr = session("soak_jaccard_prefix")
    base = table(spark, "documents").select("doc_id", "text")
    tail = F.concat_ws(
        " ", *[F.concat(F.lit(f"r{j}_"), F.col("doc_id").cast("string")) for j in range(8)]
    )
    algos = {
        "prefix": lambda c: DD.jaccard_prefix_pairs(c, "text", "doc_id", k=3, threshold=0.8),
        "naive": lambda c: DD.ngram_jaccard_pairs(
            c, "text", "doc_id", k=3, threshold=0.8, max_doc_freq=None
        ),
    }
    zipf = base.select("doc_id", F.concat("text", F.lit(" "), tail).alias("text"))
    for regime, docs in (("zipf-tail", zipf), ("uniform", base)):
        for reps in replica_counts:
            if regime == "uniform" and reps > 5:
                continue  # the adversarial case, measured once at bounded size
            corpus = replicate(docs, reps, ["doc_id"], text=salted()).repartition(64).persist()
            n_docs = corpus.count()
            pairs = {
                name: measure(tr, f"{regime} x{reps} {name}", lambda f=fn: f(corpus).count(),
                              lambda n: {"n_docs": n_docs, "pairs": n})[0]
                for name, fn in algos.items()
            }
            assert pairs["prefix"] == pairs["naive"], (regime, reps, pairs)
            corpus.unpersist()


if __name__ == "__main__":
    main()
