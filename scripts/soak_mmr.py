"""MMR selection soak: per-round linearity at replicated embedding
volume.

mmr_select's scale claim: each greedy round is ONE narrow pass over the
quantized corpus against a BROADCAST of the ≤k selected vectors plus a
TakeOrderedAndProject argmax: no pair materialization, no corpus-sized
state.  So k rounds over N vectors cost ~k linear scans, shuffle stays
dimension-sized, and the job count is 1 query fetch + 1 per round.
The sf0.1 embeddings are replicated with remapped ids and a per-replica
component nudge, so replicas are not byte-identical.

    python scripts/soak_mmr.py [replicas ...]   # default 10 100
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, session, table


def main() -> None:
    replica_counts = [int(a) for a in sys.argv[1:]] or [10, 100]
    from radohydro_spark.operators.sampling import mmr_select

    spark, tr = session("soak_mmr")
    base = table(spark, "embeddings").select("vec_id", "embedding")
    nudge = F.transform(
        "embedding", lambda x: x.cast("double") + F.col("rep").cast("double") / F.lit(1e4)
    )
    for reps in replica_counts:
        emb = replicate(base, reps, ["vec_id"], embedding=nudge).repartition(64).persist()
        n = emb.count()
        label = f"x{reps} mmr_select k=5"
        # the measured group is the tracer's latest, "<label>#<n>"; the
        # contract is 1 query fetch + 1 job per round
        jobs = lambda: len(tr.jobs(f"{label}#{tr.groups}"))  # noqa: E731
        sel = lambda: mmr_select(emb, "embedding", "vec_id", query_id=0, k=5)  # noqa: E731
        measure(tr, label, lambda: sel().collect(),
                lambda out: {"n_vecs": n, "rows_out": len(out), "jobs": jobs()})
        emb.unpersist()


if __name__ == "__main__":
    main()
