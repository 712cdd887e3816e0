"""IVF-PQ serving soak: the persisted composite index at replicated
vector volume.

Replicates the sf0.1 embeddings (2,000 × 64-d) by ``replicas`` with
remapped ids and a small per-replica component nudge (vectors stay
distinct so lists stay balanced), builds the PERSISTED IVF-PQ index
(codes parquet partitioned by centroid_id, 32 lists), then prices the
probe against the exact brute-force baseline on the same corpus:

* COMPRESSION: the code column is m=8 bytes/vector vs 64 float64s
  (corpus vs codes bytes on disk);
* PRUNING: the probe reads only its queries' nprobe nearest code lists,
  not the raw corpus (on-disk bytes of the probed lists vs all codes vs
  the corpus; probe wall vs exact wall);
* recall@5 of IVF-PQ vs the exact cosine top-5 (approximate by design:
  deterministic first-by-id quantizers, the driver-verified
  configuration).

    python scripts/soak_ivfpq.py [replicas ...]   # default 50 250
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

from soak import measure, replicate, session, table


def _du(d: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs) / 1e6


def main() -> None:
    reps = [int(a) for a in sys.argv[1:]] or [50, 250]
    from radohydro_spark.operators.similarity import (
        _probe_lists,
        build_ivfpq_index,
        cosine_topk,
        query_ivfpq_index,
    )

    spark, tr = session("soak_ivfpq")
    base = table(spark, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nudge = F.transform(
        "embedding", lambda x, i: x + (F.col("rep") % 17).cast("double") * 1e-4 * (i + 1)
    )
    for R in reps:
        root = tempfile.mkdtemp(prefix="soak_ivfpq_")
        # the replicated corpus is written as parquet so both paths read
        # comparable bytes from storage
        cdir, idx = f"{root}/corpus", f"{root}/index"
        replicate(base, R, ["vec_id"], embedding=nudge).repartition(64).write.parquet(cdir)
        corpus = spark.read.parquet(cdir)
        n = corpus.count()
        build = lambda: build_ivfpq_index(  # noqa: E731
            corpus, idx, n_centroids=32, m=8, n_codes=16
        )
        measure(tr, f"R={R} build", build)
        pairs = lambda df: {(r["query_id"], r["vec_id"]) for r in df.collect()}  # noqa: E731
        probe = lambda: pairs(query_ivfpq_index(spark, idx, queries, nprobe=4, k=5))  # noqa: E731
        approx, _ = measure(tr, f"R={R} probe", probe)
        exact, _ = measure(tr, f"R={R} exact", lambda: pairs(cosine_topk(corpus, queries, k=5)))
        # the lists the probe reads: its own selection, over the persisted centroids
        lists = _probe_lists(queries, spark.read.parquet(f"{idx}/centroids"), 4, "embedding",
                             "query_id").select("centroid_id").distinct().collect()
        probed = sum(_du(f"{idx}/codes/centroid_id={r['centroid_id']}") for r in lists)
        # recall counts the overlap of (query, vec) pairs: the id remap
        # makes the exact ids replica-specific
        print(f"R={R} vectors={n:,} corpus {_du(cdir):.1f}MB codes {_du(idx + '/codes'):.1f}MB "
              f"probed {len(lists)} lists {probed:.2f}MB "
              f"recall@5 {len(approx & exact) / len(exact):.2f}", flush=True)
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
