"""Soak: mmr_select's two redundancy forms priced at embedding dims.

The literal redundancy form embeds k·dim integers per round in the
plan; production selections (k=1000 × dim=768) need the broadcast array
form.  One selection runs ABOVE the literal budget (routed to the
broadcast form by the 2,000 default) and one with the literal form
FORCED (``lit_budget=10^9``) on the same 2,000 × 5,100 corpus, recording
wall and per-round cost.  A first cut at k=48 ground for >18 min in
Catalyst analysis (the O(k²·dim) literal-tree cost); k=10 measured
39.5 s/ROUND at ~25k literals, ~1.5 ms/literal of pure analysis: the
measurement that set the 2,000 default budget.  Row identity of the two
forms is property-tested in tests/test_round15_ops.py; this soak pins
usability at scale.

    python scripts/soak_mmr_broadcast.py
"""

from __future__ import annotations

from pyspark.sql import functions as F

from soak import measure, session

N, DIM = 2_000, 5_100


def main() -> None:
    from radohydro_spark.operators.sampling import mmr_select

    spark, tr = session("soak_mmr_broadcast")
    # a deterministic pseudo-random corpus: vec[i][j] = hash-mixed ints
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("vid"), j), F.lit(1000)).cast("double") - 500.0) / 37.0,
    )
    df = spark.range(N).select(F.col("id").alias("vid")).select("vid", vec.alias("emb")).cache()
    df.count()
    for label, k, budget in (("literal_forced", 10, 10**9), ("broadcast_default", 50, 2_000)):
        sel = lambda: mmr_select(df, "emb", "vid", query_id=0, k=k, lit_budget=budget)  # noqa: E731
        leg = f"{label} k={k} dim={DIM} corpus={N} k*dim={k * DIM}"
        _, m = measure(tr, leg, lambda: sel().count(), lambda n: {"rows": n})
        print(f"{label}: per_round={m['s'] / k:.2f}s", flush=True)


if __name__ == "__main__":
    main()
