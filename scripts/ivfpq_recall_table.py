"""Recall@5 of IVF-PQ ANN vs exact cosine — the retrieval-quality
evidence behind ``ivf_pq_topk`` (VERDICT r12 task 3): the driver oracle
pins the path's DETERMINISM, this table measures its PQ distortion and
list-pruning loss, across the two levers a deployment actually tunes:

* ``nprobe`` — how many inverted lists are read (recall vs scan
  fraction, the IVF lever);
* ``m`` — PQ subquantizer count (recall vs code bytes: dim·4/m
  compression, the PQ lever);

for both the deterministic first-by-id quantizer twins (what the
SQL-reproducible driver queries use) and Lloyd-trained quantizers
(``ivf_train`` + ``pq_train``, the production build).  Ground truth is
exact ``cosine_topk`` over the raw doubles.

Two corpora (r14, VERDICT r13 #6): the sf0.1 embeddings table
(near-ISOTROPIC synthetic vectors — the adversarial regime for
inverted lists: cluster structure barely exists, so pruning must lose
neighbors) and a mixture-of-Gaussians corpus with 16 well-separated
clusters (the regime IVF is built for — fixed-nprobe recall should
rise markedly).  One JSON line per corpus; both committed tables live
in SOAK.md.

    python scripts/ivfpq_recall_table.py [n_queries]
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from soak import SF_DIR
K = 5
RERANK = 50  # ADC shortlist size for the exact re-rank measurement
N_CENTROIDS = 16
N_CODES = 16


def _mog_corpus(spark, n: int = 2000, dim: int = 64, g: int = 16, seed: int = 14):
    """Mixture-of-Gaussians embedding corpus: ``g`` well-separated
    cluster centers (uniform on [-1,1]^dim, scaled 4×) plus N(0, 0.15)
    per-coordinate noise — the regime inverted-list pruning is built
    for.  Deterministic (fixed seed), generated driver-side (soak-sized:
    n·dim doubles) and parallelized for the scan."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = (rng.uniform(-1.0, 1.0, size=(g, dim)) * 4.0).astype("float64")
    labels = rng.integers(0, g, size=n)
    pts = centers[labels] + rng.normal(0.0, 0.15, size=(n, dim))
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(32)


def _recall_table(spark, e, corpus_tag: str, n_queries: int) -> dict:
    from radohydro_spark.operators import similarity as SIM

    e = e.cache()
    n_corpus = e.count()
    queries = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = (
        SIM.cosine_topk(e, queries, k=K).select("query_id", "vec_id").persist()
    )
    n_exact = exact.count()

    out = {
        "metric": "ivfpq_recall_at_5",
        "corpus": corpus_tag,
        "n_corpus": n_corpus,
        "n_queries": n_queries,
        "n_centroids": N_CENTROIDS,
        "n_codes": N_CODES,
        "cells": [],
    }
    for label, trained in (("deterministic", False), ("trained", True)):
        centroids = (
            SIM.ivf_train(e, n_centroids=N_CENTROIDS, iterations=5)
            if trained
            else None
        )
        # LIST-level candidate recall (r14): is the true neighbor's
        # inverted list probed AT ALL — the IVF-pruning lever isolated
        # from PQ distortion (independent of m)
        cents = (
            centroids
            if centroids is not None
            else e.orderBy("vec_id")
            .limit(N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"), "embedding")
        )
        assigned = SIM.ivf_assign(e, cents)
        list_recall = {}
        for nprobe in (1, 2, 4, 8):
            qp = SIM._probe_lists(
                queries, cents, nprobe, "embedding", "query_id"
            )
            lh = (
                exact.join(assigned, "vec_id")
                .join(qp, ["query_id", "centroid_id"])
                .count()
            )
            list_recall[nprobe] = round(lh / n_exact, 4)
        for m in (4, 8, 16):
            books = (
                SIM.pq_train(e, m=m, k=N_CODES, iterations=5)
                if trained
                else None
            )
            for nprobe in (1, 2, 4, 8):
                # ADC-only top-5 (what ivf_pq_topk serves raw) and the
                # production shape: ADC SHORTLIST (top-50) -> exact
                # cosine re-rank -> top-5.  ADC distortion makes raw
                # recall non-monotonic in nprobe (more candidates =
                # more mis-ranked codes); the re-rank isolates the
                # CANDIDATE-GENERATION recall, which is the number that
                # must hold at scale.
                shortlist = SIM.ivf_pq_topk(
                    e,
                    queries,
                    n_centroids=N_CENTROIDS,
                    nprobe=nprobe,
                    m=m,
                    n_codes=N_CODES,
                    k=RERANK,
                    centroids=centroids,
                    books=books,
                ).select("query_id", "vec_id", "rank")
                approx = shortlist.filter(F.col("rank") <= K)
                hits = exact.join(
                    approx.select("query_id", "vec_id"),
                    ["query_id", "vec_id"],
                ).count()

                from pyspark.sql import Window as W

                cand = shortlist.join(e, "vec_id").join(
                    F.broadcast(
                        queries.select(
                            "query_id", F.col("embedding").alias("_qemb")
                        )
                    ),
                    "query_id",
                )
                rw = W.partitionBy("query_id").orderBy(
                    F.desc("_cs"), F.asc("vec_id")
                )
                rr = (
                    cand.withColumn(
                        "_cs",
                        F.round(
                            SIM.cosine(F.col("embedding"), F.col("_qemb")), 6
                        ),
                    )
                    .withColumn("_rr", F.row_number().over(rw))
                    .filter(F.col("_rr") <= K)
                )
                rr_hits = exact.join(
                    rr.select("query_id", "vec_id"), ["query_id", "vec_id"]
                ).count()
                out["cells"].append(
                    {
                        "quantizers": label,
                        "m": m,
                        "code_bytes": m,
                        "nprobe": nprobe,
                        "scan_fraction": round(nprobe / N_CENTROIDS, 4),
                        "recall_at_5": round(hits / n_exact, 4),
                        "rerank50_recall_at_5": round(rr_hits / n_exact, 4),
                        "list_recall_at_5": list_recall[nprobe],
                    }
                )
    exact.unpersist()
    e.unpersist()
    return out


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    from radohydro_spark import get_spark

    spark = get_spark("ivfpq_recall")
    iso = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    print(json.dumps(_recall_table(spark, iso, "sf0.1-isotropic", n_queries)))
    mog = _mog_corpus(spark)
    print(json.dumps(_recall_table(spark, mog, "mog-16-clusters", n_queries)))


if __name__ == "__main__":
    main()
