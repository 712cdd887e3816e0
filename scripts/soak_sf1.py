"""sf1-equivalent soak of the three most shuffle-heavy queries.

Replicates the sf0.1 tables ``replicas``-fold (default 10: 1M events,
6M lineitem, 50k documents) with ``soak.replicate``'s deterministic id
remaps, which keep each query's hardness profile rather than dilute it:

* ``events``: ``user_id``/``event_id`` remapped, so per-user event
  sequences (the transition structure PageRank feeds on) are kept
  verbatim while user cardinality grows R×;
* ``lineitem``: ``l_orderkey`` remapped, so the basket-size distribution
  and pair_lift's C(n,2) fan-out per basket are unchanged and total work
  scales linearly (the design claim under test);
* ``documents``: the ``salted`` dup-planting law, so the shingle join
  faces R× docs AND denser collision structure.

    python scripts/soak_sf1.py [replicas] [query ...]

With query names (events_pagerank / dedup_ngram_jaccard /
orders_market_basket) only those legs run; the sf10-equivalent datapoint
leaves out the exact-Jaccard leg by design (its shingle-join
intermediate grows with planted-dup density squared; the corpus-scale
near-dedup path is MinHash-LSH banding, soaked by soak_corpus.py).  The
opt-in leg ``dedup_lsh_index`` (not in the default set) prices the
persisted LSH index lifecycle: build once, probe all, probe a 1% batch
of brand-new ids.
"""

from __future__ import annotations

import shutil
import sys
import tempfile

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from soak import measure, replicate, salted, session, table


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    from radohydro_spark.operators import dedup as DD
    from radohydro_spark.operators.basket import pair_lift
    from radohydro_spark.operators.graph import pagerank

    spark, tr = session("soak_sf1")
    rows = lambda n: {"rows": n}  # noqa: E731

    def fact(name, ids, cols, **text):
        df = replicate(table(spark, name).select(*cols), replicas, ids, **text)
        df = df.repartition(64).persist()
        print(f"{name} rows: {df.count()}", flush=True)
        return df

    if not only or "events_pagerank" in only:
        ev = fact("events", ["user_id", "event_id"], ["user_id", "event_type", "ts", "event_id"])

        def _pagerank():
            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            seq = ev.select("event_type", F.lead("event_type").over(w).alias("nxt"))
            edges = seq.filter(F.col("nxt").isNotNull()).select(
                F.col("event_type").alias("src"), F.col("nxt").alias("dst")
            ).distinct()
            nodes = ev.select(F.col("event_type").alias("node")).distinct()
            return pagerank(edges, nodes, damping=0.85, iterations=5).count()

        measure(tr, "events_pagerank", _pagerank, rows)
        ev.unpersist()

    if not only or "dedup_ngram_jaccard" in only or "dedup_lsh_index" in only:
        docs = fact("documents", ["doc_id"], ["doc_id", "text"], text=salted())
        if not only or "dedup_ngram_jaccard" in only:
            # the hot-shingle guard is on: the scale-safe default, which the
            # driver query turns off only for its textbook oracle
            jac = lambda: DD.ngram_jaccard_pairs(  # noqa: E731
                docs, "text", "doc_id", k=3, threshold=0.5
            ).count()
            measure(tr, "dedup_ngram_jaccard", jac, rows)
        if "dedup_lsh_index" in only:
            root = tempfile.mkdtemp(prefix="soak_lsh_")
            new = docs.filter(F.col("doc_id") % 100 == 0).select(
                (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
            )
            ix = f"{root}/ix"
            measure(tr, "lsh_index_build", lambda: DD.build_lsh_index(docs, ix, "text", "doc_id"))
            for label, probe in (("lsh_index_probe_all", docs), ("lsh_index_probe_new_batch", new)):
                q = lambda p=probe: DD.query_lsh_index(spark, ix, p, "text", "doc_id")  # noqa: E731
                measure(tr, label, lambda: q().count(), rows)
            shutil.rmtree(root, ignore_errors=True)
        docs.unpersist()

    if not only or "orders_market_basket" in only:
        li = fact("lineitem", ["l_orderkey"], ["l_orderkey", "l_partkey"])

        def _basket():
            out = pair_lift(li, "l_orderkey", "l_partkey", max_basket_size=100)
            return out.orderBy(F.desc("pair_count"), "item_a", "item_b").limit(25).count()

        measure(tr, "orders_market_basket", _basket, rows)
        li.unpersist()


if __name__ == "__main__":
    main()
