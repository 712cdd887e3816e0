"""Interval analytics: sweep-line concurrency over event intervals.

The classic "how many intervals overlap each instant" primitive (peak
concurrent sessions, simultaneous downloads, ward occupancy).  The naive
form is an interval self-join — O(n²) and a scale-killer; the sweep-line
form is two narrow projections, one union, and ONE window per partition
key: every interval becomes a +1 event at its start and a -1 event at its
end, and the running sum of deltas in time order IS the concurrency.

Scale shape: the union doubles the row count but keeps rows tiny
(key, t, delta).  Per key, the running sum is ``ranged_cumsum``: one
driver job fixes range boundaries over (key, t, delta), the window runs
inside each (range, key) slice, and a dimension-sized offsets aggregate
is broadcast back.  No interval self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from radohydro_spark.plans.contracts import bounded_global, ranged_cumsum


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
        # RANGED per-key running sum (r17, guide §2.5): the plain
        # ``partitionBy(keys)`` window serializes each key's ENTIRE
        # sweep onto one task — with a low-cardinality key (event_type:
        # a handful of values over the whole fact table) that is a
        # built-in straggler at any scale (measured: 20M events / 5 keys
        # = 38 s, the whole wall in 5 window tasks).  ``ranged_cumsum``
        # cuts the (keys, t, delta) order into driver-fixed ranges, so
        # hot keys SPLIT, runs the window inside each (range, key) slice
        # and adds the earlier ranges' per-key subtotals.  The output is
        # a pure function of the per-key (t, delta) order: identical for
        # any range count, with no cache to pin.
        m, _ = ranged_cumsum(sweep, keys, ["t", "delta"], ["delta"])
        return m.select(
            *keys, "t", "delta", F.col("_cum_delta").alias("concurrency")
        )
    # a keyless sweep is ONE global time-sorted pass by definition —
    # declared-bounded and cap-asserted in-plan; at fact scale pass
    # partition_cols (tenant/day) and sweep per key instead
    conc = bounded_global(
        F.sum("delta"),
        lambda w: w.orderBy("t", "delta").rowsBetween(W.unboundedPreceding, 0),
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
