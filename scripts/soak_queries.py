"""Declared queries over replicated tables: steady-state numbers at
20M-row volumes for the headline queries whose sf0.1 wall is < 1 s,
where a small-SF wall rides inside the tenancy spread.

The sf0.1 tables are replicated ``replicas``-fold into a temp directory
with ``soak.replicate`` (events: ``event_id``/``user_id`` remapped, so
per-user sequences are kept and cardinality grows; lineitem/orders:
order key remapped, so basket and order structure are kept; documents:
``doc_id`` remapped with the ``salted`` dup-planting text law); the
dimension tables are copied verbatim.  The DECLARED query functions then
run unchanged against that directory, so the numbers price exactly the
shipped plans.  Each query runs ``reps`` measured times after one
warm-up, written to the noop sink.

    python scripts/soak_queries.py [replicas] [reps] [q1,q2,...]

Defaults: 200 replicas of events (20M rows) / 33 of lineitem+orders /
40 of documents, 2 reps, the sub-1 s headline set.  Excluded by design:
stats_bootstrap_ci (its 101-replicate md5 fan is soaked by
soak_sketch.py), events_stream_* (the streaming reader's pathGlobFilter
matches single files named events.parquet, not replicated directories;
see soak_event_time.py) and the embedding self-joins (quadratic in
replicas by design; see soak_ivfpq.py).
"""

from __future__ import annotations

import shutil
import sys
import tempfile

from soak import measure, noop, replicate, salted, session, table

HEADLINE = (
    "tpch_q1_pricing,tpch_q3_top_orders,tpch_q5_regional_revenue,window_running_total,"
    "events_sessionize,events_asof_nearest,events_concurrency_sweep,text_stats,"
    "text_vocab_growth,dedup_paragraphs,media_byte_histogram,dq_ks_drift,dq_auc_returns,"
    "dq_psi_drift_by,stats_heavy_hitters,sketch_kmv_overlap"
)


def build_tables(spark, out: str, replicas: int) -> None:
    li_r, doc_r = max(1, replicas // 6), max(1, replicas // 5)
    facts = {
        "events": replicate(table(spark, "events"), replicas, ["event_id", "user_id"]),
        "lineitem": replicate(table(spark, "lineitem"), li_r, ["l_orderkey"]),
        "orders": replicate(table(spark, "orders"), li_r, ["o_orderkey"]),
        "documents": replicate(table(spark, "documents"), doc_r, ["doc_id"], text=salted()),
    }
    for name, df in facts.items():
        df.repartition(32).write.parquet(f"{out}/{name}.parquet")
    for name in ("region", "nation", "customer", "supplier", "part", "embeddings"):
        table(spark, name).write.parquet(f"{out}/{name}.parquet")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    names = (sys.argv[3] if len(sys.argv) > 3 else HEADLINE).split(",")
    import __spark_entry__ as entry

    spark, tr = session("soak_queries")
    out = tempfile.mkdtemp(prefix="soak_queries_")
    try:
        measure(tr, f"replicate x{replicas}", lambda: build_tables(spark, out, replicas))
        for t in ("events", "lineitem", "documents"):
            print(f"  {t}: {spark.read.parquet(f'{out}/{t}.parquet').count()} rows", flush=True)
        qs = entry.queries()
        for name in names:
            for r in range(reps + 1):  # rep0 is the warm-up
                measure(tr, f"{name} rep{r}", lambda: noop(qs[name](spark, out)))
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
