"""Dimension-bounded operators over replicated facts.

Each operator here claims a shuffle sized by a DIMENSION (Misra-Gries
summaries, stride samples, a category domain, 2^20 Bloom bits, k=256
hashes, B replicate rows per task), so data growth should move scan and
hash time linearly but leave shuffle bytes essentially flat:

* over sf0.1 lineitem × ``replicas`` (order key remapped; the derived
  skewed key of the stats_heavy_hitters query, 40% of rows on 4 hot
  keys): heavy_hitters, exact_quantiles;
* over sf0.1 orders × ``replicas`` (order and customer keys remapped,
  so the key domain grows with volume, the realistic regime for
  Bloom/KMV), split into a ≤1994 and a ≥1995 snapshot: tvd_drift, bloom
  membership of 20k probe keys, kmv overlap, poisson bootstrap (portable
  md5 and JVM xxhash64), W1 and Gini (pre-quantized to dollars×10 /
  tens of dollars: at 100× replicas raw cents trip the named
  n1·n2·range and 2nT contracts), and a 12-lag EWMA over per-(priority,
  day) revenue.

    python scripts/soak_sketch.py [replicas ...]   # default 10 100
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, replicate, session, table


def main() -> None:
    replica_counts = [int(a) for a in sys.argv[1:]] or [10, 100]
    from radohydro_spark.operators.aggregate import ewma_halving, poisson_bootstrap_ci
    from radohydro_spark.operators.profile import gini_coefficient, tvd_drift, wasserstein_drift
    from radohydro_spark.operators.sketch import (
        bloom_membership,
        bloom_table,
        exact_quantiles,
        heavy_hitters,
        kmv_overlap,
        kmv_sketch,
    )

    spark, tr = session("soak_sketch")
    lineitem = table(spark, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = table(spark, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("ck"),
        "o_orderpriority",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    ok = F.col("l_orderkey")
    rows_out = lambda out: {"rows_out": len(out)}  # noqa: E731
    for reps in replica_counts:
        li = replicate(lineitem, reps, ["l_orderkey"]).select(
            F.when(ok % 10 < 4, ok % 4).otherwise(ok).alias("k"), "l_extendedprice"
        ).repartition(64).persist()
        fact = replicate(orders, reps, ["ok", "ck"]).repartition(64).persist()
        print(f"x{reps}: lineitem {li.count()} rows, orders {fact.count()} rows", flush=True)
        old = fact.filter(F.year("o_orderdate") <= 1994)
        new = fact.filter(F.year("o_orderdate") >= 1995)
        # the probe set is built OUTSIDE the timings: its distinct is harness
        # cost (it scales with the key domain), not Bloom's
        probes = fact.select(F.col("ck").alias("key")).distinct().limit(20000).persist()
        probes.count()
        bits = {"num_bits": 1 << 20, "num_hashes": 4}
        price_m = lambda df: df.select(F.expr("price_c div 1000").alias("price_m"))  # noqa: E731
        daily = fact.groupBy("o_orderpriority", F.to_date("o_orderdate").alias("day")).agg(
            F.expr("sum(price_c) div 100").alias("revenue_d")
        )
        legs = {
            "heavy_hitters": lambda: heavy_hitters(li, "k", 50),
            "exact_quantiles": lambda: exact_quantiles(
                li, "l_extendedprice", [(1, 2), (99, 100)], sample_stride=1000
            ),
            "tvd_drift": lambda: tvd_drift(old, new, "o_orderpriority"),
            "bloom": lambda: bloom_membership(
                bloom_table(fact, "ck", **bits), probes, "key", **bits
            ).agg(F.sum("bloom_hit")),
            "kmv": lambda: kmv_overlap(
                kmv_sketch(old, "ck", k=256), kmv_sketch(new, "ck", k=256), k=256
            ),
            "bootstrap": lambda: poisson_bootstrap_ci(fact, "price_c", ["ok"], n_replicates=100),
            "bootstrap_fast": lambda: poisson_bootstrap_ci(
                fact, "price_c", ["ok"], n_replicates=100, portable=False
            ),
            "wasserstein": lambda: wasserstein_drift(price_m(old), price_m(new), "price_m"),
            "gini": lambda: gini_coefficient(
                fact.groupBy("ck").agg(F.expr("sum(price_c) div 10000").alias("rev_td")), "rev_td"
            ),
            "ewma": lambda: ewma_halving(
                daily, ["o_orderpriority"], "day", "revenue_d", lags=12
            ).agg(F.count("*"), F.sum("ewma_micro")),
        }
        for name, fn in legs.items():
            measure(tr, f"x{reps} {name}", lambda fn=fn: fn().collect(), rows_out)
        for df in (probes, fact, li):
            df.unpersist()

if __name__ == "__main__":
    main()
