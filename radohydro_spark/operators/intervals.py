"""Interval analytics: sweep-line concurrency over event intervals.

The classic "how many intervals overlap each instant" primitive (peak
concurrent sessions, simultaneous downloads, ward occupancy).  The naive
form is an interval self-join — O(n²) and a scale-killer; the sweep-line
form is two narrow projections, one union, and ONE window per partition
key: every interval becomes a +1 event at its start and a -1 event at its
end, and the running sum of deltas in time order IS the concurrency.

Scale shape: the union doubles the row count but keeps rows tiny
(key, t, delta); the only shuffle is the window's partition-by-key
exchange, identical to any per-key rollup.  No join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from radohydro_spark.plans.contracts import bounded_global


def concurrency_sweep(
    df: DataFrame,
    start_col: str,
    end_col: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Per-instant concurrency of ``[start, end)`` intervals.

    Returns one row per sweep event: ``partition_cols + (t, delta,
    concurrency)`` where ``concurrency`` is the number of intervals
    covering ``[t, next_t)``.  Half-open semantics: an interval ending at
    the exact instant another starts does NOT overlap it — ends sort
    before starts at the same ``t`` (delta ascending), so the running sum
    dips before it rises.
    """
    keys = partition_cols or []
    starts = df.select(
        *keys, F.col(start_col).alias("t"), F.lit(1).alias("delta")
    )
    ends = df.select(*keys, F.col(end_col).alias("t"), F.lit(-1).alias("delta"))
    sweep = starts.unionByName(ends)
    if keys:
        # RANGE-PARTITIONED per-key running sum (r17, guide §2.5): the
        # plain ``partitionBy(keys)`` window serializes each key's ENTIRE
        # sweep onto one task — with a low-cardinality key (event_type:
        # a handful of values over the whole fact table) that is a
        # built-in straggler at any scale (measured: 20M events / 5 keys
        # = 38 s, the whole wall in 5 window tasks).  Instead:
        # range-partition on (keys, t, delta) — hot keys SPLIT across
        # contiguous ranges — run the window inside each partition, and
        # add per-(partition, key) prefix offsets (a dimension-sized
        # aggregate: ~n_parts + n_distinct_keys rows; AQE broadcasts the
        # join back).  The cumulation is a pure function of the per-key
        # (t, delta) total order, so output rows are identical for any
        # partition count (the _ranged_cumsums law, keyed).
        n_parts = max(
            2, df.sparkSession.sparkContext.defaultParallelism
        )
        m = sweep.repartitionByRange(
            n_parts, *keys, F.col("t"), F.col("delta")
        ).withColumn("_pid", F.spark_partition_id())
        wloc = (
            W.partitionBy("_pid", *keys)
            .orderBy("t", "delta")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        m = m.withColumn("_loc", F.sum("delta").over(wloc))
        # the ranged relation feeds BOTH the offsets aggregate and the
        # final join, and repartitionByRange SAMPLES its boundaries — two
        # independent executions could disagree on _pid.  Pin ONE
        # materialization (the _ranged_cumsums convention; session pool
        # releases it).
        m = m.cache()
        from radohydro_spark.plans.pipeline import _PERSISTED

        _PERSISTED.append(m)
        sub = m.groupBy("_pid", *keys).agg(F.sum("delta").alias("_psum"))
        woff = (
            W.partitionBy(*keys)
            .orderBy("_pid")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        offs = sub.select(
            F.col("_pid").alias("_opid"),
            *[F.col(k).alias(f"_okey{i}") for i, k in enumerate(keys)],
            F.coalesce(F.sum("_psum").over(woff), F.lit(0)).alias("_off"),
        )
        # NULL is a key of its own here (the window and the offsets
        # aggregate both group it), so the join back is NULL-safe
        on = F.col("_pid") == F.col("_opid")
        for i, k in enumerate(keys):
            on = on & F.col(k).eqNullSafe(F.col(f"_okey{i}"))
        return (
            m.join(offs, on)
            .withColumn("concurrency", F.col("_loc") + F.col("_off"))
            .select(*keys, "t", "delta", "concurrency")
        )
    else:
        # a keyless sweep is ONE global time-sorted pass by definition —
        # declared-bounded and cap-asserted in-plan; at fact scale pass
        # partition_cols (tenant/day) and sweep per key instead
        conc = bounded_global(
            F.sum("delta"),
            lambda w: w.orderBy("t", "delta").rowsBetween(
                W.unboundedPreceding, 0
            ),
            "bigint",
            "concurrency_sweep",
        )
    return sweep.withColumn("concurrency", conc)


def peak_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Peak concurrency per partition key: the max of the sweep plus the
    EARLIEST instant it is reached — one extra map-side-combinable
    aggregate over the sweep (``max_by`` on (concurrency, -epoch), so no
    second shuffle and no self-join).  ``start_col``/``end_col`` must be
    timestamps."""
    keys = partition_cols or []
    sweep = concurrency_sweep(df, start_col, end_col, keys)
    return sweep.groupBy(*keys).agg(
        F.max("concurrency").alias("peak"),
        F.max_by(
            "t",
            F.struct(
                F.col("concurrency").alias("c"),
                (-F.unix_micros(F.col("t"))).alias("nt"),
            ),
        ).alias("peak_at"),
    )
