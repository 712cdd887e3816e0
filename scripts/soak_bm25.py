"""BM25 retrieval soak: posting-list-join scaling at replicated corpus
volume.

bm25_topk's scale claims: (a) the tokenize → (doc, term) tf aggregate
and the term-df aggregate are the only corpus-sized exchanges, both
map-side combined, so shuffle tracks the token volume linearly; (b) the
query-term join BROADCASTS (queries are human-sized), so only matching
postings flow into scoring.  The sf0.1 documents are replicated with a
replica salt token on EVERY doc (``salted`` with nothing planted: the
salts widen the vocabulary), and the driver query's two fixed lexical
queries run against them.

    python scripts/soak_bm25.py [replicas ...]   # default 10 100
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, salted, session, table


def main() -> None:
    replica_counts = [int(a) for a in sys.argv[1:]] or [10, 100]
    from radohydro_spark.operators.retrieval import bm25_topk

    spark, tr = session("soak_bm25")
    qdf = spark.createDataFrame(
        [(0, "spark join table"), (1, "scan filter row batch")], "query_id long, text string"
    )
    base = table(spark, "documents").select("doc_id", "text")
    for reps in replica_counts:
        docs = replicate(base, reps, ["doc_id"], text=salted(planted=F.lit(False)))
        docs = docs.repartition(64).persist()
        n = docs.count()
        measure(tr, f"x{reps} bm25_topk", lambda: bm25_topk(docs, qdf, k=10).collect(),
                lambda out: {"n_docs": n, "rows_out": len(out)})
        docs.unpersist()


if __name__ == "__main__":
    main()
