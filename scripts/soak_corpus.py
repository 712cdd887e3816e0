"""Corpus-scale soak: the curation funnel + SemDeDup at replicated volume.

Scales the sf0.1 documents table by ``replicas`` (default 100 → ~500k
docs) with ``soak.replicate`` and the ``salted`` dup-planting law: every
replica of a ``doc_id % 37 == 0`` document keeps the original text
(exact-duplicate groups that collapse at the exact-dedup stage), every
other replica is a near-duplicate that survives exact dedup and
collapses at the LSH stage.  The funnel therefore shrinks ~replicas×
back toward the base corpus; the soak measures the THROUGHPUT of each
stage at volume (the selectivity story is the driver-verified
corpus_curation_pipeline query).

Stages: quality gate → exact dedup → MinHash-LSH near-dedup →
decontamination (every 997th doc plays the benchmark) → train/val/test
split, then SemDeDup over replicated embeddings (replicas of a
``vec_id % 13 == 0`` embedding are exact duplicates → cosine 1.0).

    python scripts/soak_corpus.py [replicas]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, salted, session, table


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from radohydro_spark.functions import text as TX
    from radohydro_spark.operators import dedup as DD
    from radohydro_spark.operators.sampling import split_assign

    spark, tr = session("soak_corpus")
    base = table(spark, "documents").select("doc_id", "text")
    corpus = replicate(base, replicas, ["doc_id"], text=salted()).repartition(64).persist()
    print(f"corpus: {base.count()} base docs x {replicas} = {corpus.count()} rows", flush=True)
    survivors = lambda n: {"survivors": n}  # noqa: E731

    stats = TX.text_stats(corpus, "text", ("doc_id",))
    keep_q = stats.filter(
        (F.col("n_tokens") >= 40) & (F.col("n_tokens") <= 5000) & (F.col("distinct_ratio") >= 0.3)
    ).select("doc_id")
    q = corpus.join(keep_q, "doc_id", "left_semi").persist()
    measure(tr, "quality gate", q.count, survivors)
    e = DD.dedup_exact(q, "text", "doc_id").persist()
    measure(tr, "exact dedup", e.count, survivors)
    pairs = DD.minhash_lsh_pairs(e, "text", "doc_id", n_hashes=8, rows_per_band=2)
    dup_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    nd = e.join(dup_ids, "doc_id", "left_anti").persist()
    measure(tr, "minhash-LSH near-dedup", nd.count, survivors)
    # min_shared=25: the synthetic generator reuses a small vocabulary, so
    # casual 3-gram overlap across unrelated docs is common; 25 shared
    # shingles pins "same underlying document" without flagging the world
    benchmark = corpus.filter(F.col("doc_id") % 997 == 0)
    flagged = DD.contamination_check(nd, benchmark, "text", "doc_id", k=3, min_shared=25)
    clean = nd.join(flagged.select("doc_id").distinct(), "doc_id", "left_anti")
    measure(tr, "decontamination", clean.count, survivors)
    split = split_assign(clean, "doc_id").groupBy("split").agg(F.count("*").alias("n"))
    measure(tr, "split", split.collect, lambda rows: {r["split"]: r["n"] for r in rows})

    # cap the replica factor: SemDeDup's within-cluster stage is O(sum c^2)
    # by design, so 40k vectors in 32 clusters is the honest soak volume;
    # non-duplicate replicas get ONE rep-dependent dimension bumped (+5.0)
    # instead of an additive shift, which would make every replica
    # near-parallel to the all-ones direction and explode the pair count
    emb = table(spark, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    bump = F.transform(
        "embedding", lambda x, i: F.when(i == F.col("rep") % 64, x + 5.0).otherwise(x)
    )
    dup = F.when(F.col("vec_id") % 13 == 0, F.col("embedding")).otherwise(bump)
    emb_rep = replicate(emb, min(replicas, 20), ["vec_id"], embedding=dup).persist()
    n_emb = emb_rep.count()
    sem = lambda: DD.semdedup(emb_rep, n_clusters=32, threshold=0.999).count()  # noqa: E731
    measure(tr, "semdedup", sem, lambda kept: {"kept": kept, "of": n_emb})


if __name__ == "__main__":
    main()
