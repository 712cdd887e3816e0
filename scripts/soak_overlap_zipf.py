"""Design-regime soak for overlap_pairs: a rare-token basket corpus at
replicated volume (its uniform-vocabulary adversarial case is
soak_blocking.py's).

* Corpus: sf0.1 order → basket-of-part-key documents (k=1 tokens; every
  part key appears in ~30 orders, so EVERY token is rare), replicated R
  times.  Non-planted replicas follow the ``suffixed`` law (rarity kept,
  token spaces disjoint); orders with l_orderkey % 37 == 0 keep their
  ORIGINAL tokens in all replicas: planted cross-replica exact-basket
  families, C(R,2) true-overlap pairs each.
* min_overlap=4 drops baskets with fewer than 4 distinct parts BEFORE
  the prefix window (the operator's own bound).

Reported per replica count: verified pairs, plus the DISCRIMINATION
diagnostic the design-regime claim rests on: candidate pairs out of the
prefix self-join against the full pair space N·(N-1)/2, reconstructed
with the operator's own prefix law (rarest n_sh-c+1 tokens by (global
df, token hash) order).

    python scripts/soak_overlap_zipf.py [replicas ...]   # default 1 6
"""

from __future__ import annotations

import sys

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from soak import measure, replicate, session, suffixed, table

MIN_OVERLAP = 4


def _candidate_count(docs) -> tuple[int, int]:
    """(participating docs, prefix-join candidate pairs) under the
    operator's own law: docs with n_sh >= c, prefix = rarest
    n_sh - c + 1 tokens by (global df, token hash)."""
    from radohydro_spark.operators.dedup import word_shingles

    sh = word_shingles(docs, "text", "doc_id", 1, with_count=True).select(
        "doc_id", "n_sh", F.xxhash64("shingle").alias("sid")
    )
    sh = sh.filter(F.col("n_sh") >= MIN_OVERLAP).persist()
    n_docs = sh.select("doc_id").distinct().count()
    w = W.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("sid").asc())
    prefix = (
        sh.join(sh.groupBy("sid").agg(F.count("*").alias("_df")), "sid")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("n_sh") - MIN_OVERLAP + 1)
        .select("doc_id", "sid")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    on = (F.col("a.sid") == F.col("b.sid")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    cand = a.join(b, on).select(F.col("a.doc_id"), F.col("b.doc_id")).distinct().count()
    sh.unpersist()
    return n_docs, cand


def main() -> None:
    replica_counts = [int(a) for a in sys.argv[1:]] or [1, 6]
    from radohydro_spark.operators.dedup import overlap_pairs

    spark, tr = session("soak_overlap_zipf")
    parts = F.sort_array(F.collect_set(F.col("l_partkey").cast("string")))
    baskets = table(spark, "lineitem").groupBy(F.col("l_orderkey").alias("doc_id")).agg(
        F.array_join(parts, " ").alias("text")
    )
    planted = F.col("doc_id") % 37 == 0
    for reps in replica_counts:
        text = F.when(planted, F.col("text")).otherwise(suffixed())
        docs = replicate(baskets, reps, ["doc_id"], text=text).repartition(64).persist()
        n = docs.count()
        pairs, _ = measure(tr, f"x{reps} overlap_pairs", lambda: overlap_pairs(
            docs, "text", "doc_id", k=1, min_overlap=MIN_OVERLAP).count())
        n_part, cand = _candidate_count(docs)
        space = n_part * (n_part - 1) // 2
        print(f"x{reps}: n_docs={n} participating={n_part} pairs={pairs} candidates={cand} "
              f"pair_space={space} ({100.0 * cand / max(space, 1):.4f}% of it)", flush=True)
        docs.unpersist()


if __name__ == "__main__":
    main()
