"""Recall@5 of the persisted IVF index: deterministic vs Lloyd-trained
centroids, across nprobe — the measurement behind build_ivf_index's
``train_iterations`` flag.

Deterministic centroids (first n by id) are what the driver-verified
``similarity_index_persist`` query uses, because the DuckDB oracle must
reproduce the index bit-for-bit.  Production builds want Lloyd-refined
centroids (:func:`ivf_train`): refined cells track the corpus density,
so each query's true neighbors concentrate into fewer probed lists.
This script quantifies the trade on the sf0.1 embeddings table and
emits one JSON line; the committed numbers live in QUERIES.md under
similarity_index_persist.

    python scripts/ivf_recall_table.py [n_queries] [n_centroids]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

from soak import SF_DIR


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_centroids = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    from radohydro_spark import get_spark
    from radohydro_spark.operators import similarity as SIM

    spark = get_spark("ivf_recall")
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(e, queries, k=5).select("query_id", "vec_id").persist()
    n_exact = exact.count()

    results = {"n_queries": n_queries, "n_centroids": n_centroids, "k": 5}
    root = tempfile.mkdtemp(prefix="ivf_recall_")
    try:
        for label, iters in (("deterministic", 0), ("lloyd5", 5)):
            path = f"{root}/{label}"
            SIM.build_ivf_index(
                e, path, n_centroids=n_centroids, train_iterations=iters
            )
            for nprobe in (1, 2, 4, 8):
                approx = SIM.query_ivf_index(
                    spark, path, queries, nprobe=nprobe, k=5
                )
                hits = exact.join(
                    approx.select("query_id", "vec_id"),
                    ["query_id", "vec_id"],
                    "left_semi",
                ).count()
                results[f"{label}_nprobe{nprobe}"] = round(hits / n_exact, 4)
                print(label, "nprobe", nprobe, "recall@5 =", hits / n_exact,
                      flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
