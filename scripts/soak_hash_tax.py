"""Soak: the md5 oracle tax across the sampling family.

Every coordinated sampler keys on the portable md5-prefix hash so a
DuckDB oracle can replay it bit-for-bit; ``poisson_bootstrap_ci``
measured that choice at 13.7× wall vs JVM xxhash64.  bottom_k_sample /
stratified_bottom_k / split_assign / weighted_sample have
``portable=False`` twins; this soak prices the tax for each on one
20M-row id domain (best of 3, noop sink), so the option's value is a
committed number, not a guess.

    python scripts/soak_hash_tax.py
"""

from __future__ import annotations

from pyspark.sql import functions as F

from soak import measure, noop, session

N = 20_000_000


def main() -> None:
    from radohydro_spark.operators.sampling import (
        bottom_k_sample,
        split_assign,
        stratified_bottom_k,
        weighted_sample,
    )

    spark, tr = session("soak_hash_tax")
    df = spark.range(N).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.pmod(F.col("id"), F.lit(16)).cast("string").alias("stratum"),
        (F.pmod(F.col("id"), F.lit(1000)) + 1).cast("double").alias("w"),
    ).cache()
    df.count()
    samplers = {
        "bottom_k_sample(k=1000)": lambda p: bottom_k_sample(df, "doc_id", 1000, portable=p),
        "stratified_bottom_k(k=100)": lambda p: stratified_bottom_k(
            df, "doc_id", "stratum", 100, portable=p
        ),
        "split_assign": lambda p: split_assign(df, "doc_id", portable=p),
        "weighted_sample(n=1000)": lambda p: weighted_sample(df, "doc_id", "w", 1000, portable=p),
    }
    for label, fn in samplers.items():
        for portable in (True, False):
            leg = f"{label} portable={portable}"
            sink = lambda: noop(fn(portable))  # noqa: E731
            best = min(measure(tr, f"{leg} rep{r}", sink)[1]["s"] for r in range(3))
            print(f"{label} portable={portable}: best {best:.2f}s", flush=True)


if __name__ == "__main__":
    main()
