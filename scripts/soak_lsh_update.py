"""Incremental LSH-index maintenance soak: update vs rebuild at 500k
docs.

``update_lsh_index`` claims that folding a new batch into a persisted
index costs BATCH-sized work (sign the batch, append band/signature
files) while a rebuild re-signs the accumulated corpus.  The soak
builds the index on 99% of the replicated sf0.1 corpus (the ``salted``
dup-planting law), folds the remaining 1% in with ``update_lsh_index``,
compares against the full rebuild, and asserts that the updated index
answers a full probe exactly like the rebuilt one.

    python scripts/soak_lsh_update.py [replicas]   # default 100 (~500k)
"""

from __future__ import annotations

import shutil
import sys
import tempfile

from pyspark.sql import functions as F

from soak import measure, replicate, salted, session, table


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from radohydro_spark.operators.dedup import build_lsh_index, query_lsh_index, update_lsh_index

    spark, tr = session("soak_lsh_update")
    base = table(spark, "documents").select("doc_id", "text")
    docs = replicate(base, replicas, ["doc_id"], text=salted()).repartition(64).persist()
    older, batch = docs.filter(F.col("doc_id") % 100 != 0), docs.filter(F.col("doc_id") % 100 == 0)
    print(f"corpus {docs.count()} rows; batch {batch.count()} (1%)", flush=True)
    root = tempfile.mkdtemp(prefix="soak_lshu_")
    inc, full = f"{root}/inc", f"{root}/full"
    measure(tr, "build_99pct", lambda: build_lsh_index(older, inc, "text", "doc_id"))
    measure(tr, "update_1pct_batch", lambda: update_lsh_index(spark, inc, batch, "text", "doc_id"))
    rebuild = lambda: build_lsh_index(docs, full, "text", "doc_id")  # noqa: E731
    measure(tr, "rebuild_full_for_comparison", rebuild)
    probe = {
        ix: measure(tr, f"probe_equivalence_{label}",
                    lambda ix=ix: query_lsh_index(spark, ix, docs, "text", "doc_id").count(),
                    lambda n: {"rows": n})[0]
        for label, ix in (("updated", inc), ("rebuilt", full))
    }
    assert len(set(probe.values())) == 1, f"updated and rebuilt indexes disagree: {probe}"
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
