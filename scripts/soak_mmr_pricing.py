"""Soak: mmr_select's scoring paths priced against corpus size.

Both SQL redundancy forms evaluate the dot products as INTERPRETED
higher-order lambdas, so the per-round wall is
``fixed + corpus·(r+1)·dim·c_interp``; this soak measures that rows ×
k·dim scaling (``lit_budget=0``, so SQL = the broadcast form) and prices
the Arrow scorer against it at dim=256, after asserting the two paths
row-identical on a 500-doc corpus.  The Arrow kernel's cost is
~corpus·dim TRANSFER (the quantized vectors cross to Python each round)
plus a sub-ns int64 matmul, independent of the selected-set size r,
where the interpreted SQL cost multiplies by (r+1).  A first Arrow cut
returned every row's vector and measured 7.2→44.6 s/round at 100k→400k
(output transfer dominated); the per-batch local top-1 prune (≤1 row
crosses back per Arrow batch) fixed it.  ``scorer="auto"``'s element
budget (corpus·(r+1)·dim > 5e7) encodes the measured knee.

    python scripts/soak_mmr_pricing.py
"""

from __future__ import annotations

from pyspark.sql import functions as F

from soak import measure, session

DIM = 256


def main() -> None:
    from radohydro_spark.operators.sampling import mmr_select

    spark, tr = session("soak_mmr_pricing")

    def corpus(n):
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (F.pmod(F.xxhash64(F.col("vid"), j), F.lit(1000)).cast("double") - 500.0)
            / 37.0,
        )
        return spark.range(n).select(F.col("id").alias("vid")).select("vid", vec.alias("emb"))

    def select(df, k, scorer):
        return mmr_select(df, "emb", "vid", query_id=0, k=k, lit_budget=0, scorer=scorer)

    small = corpus(500)
    arrow = mmr_select(small, "emb", "vid", query_id=0, k=6, scorer="arrow").collect()
    sql = select(small, 6, "sql").collect()
    assert [tuple(r) for r in arrow] == [tuple(r) for r in sql], "arrow/sql divergence"
    print("row-identity arrow==sql at dim=256: ok", flush=True)
    for n, k, sc in ((20_000, 8, "sql"), (100_000, 24, "sql"), (100_000, 24, "arrow"),
                     (400_000, 8, "sql"), (400_000, 8, "arrow")):
        run = lambda: select(corpus(n), k, sc).count()  # noqa: E731
        cnt, m = measure(tr, f"{sc} n={n} k={k} dim={DIM}", run)
        assert cnt == k
        print(f"{sc} n={n} k={k}: per_round={m['s'] / k:.2f}s", flush=True)


if __name__ == "__main__":
    main()
