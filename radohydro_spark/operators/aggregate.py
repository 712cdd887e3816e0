"""Weighted aggregation (A4), sink-time pivots (D6), temporal resampling.

A4 is the reference's ``np.add.reduceat`` grouped weighted sum
(reference geotools/geotools.py:268-281) re-expressed as a hash aggregate
with map-side partials.  The NULL-propagation twist: Spark's ``sum`` skips
NULLs, but the reference's NaN arithmetic poisons a basin-timestep whenever
a *kept* (all-dirty-basin) cell is NaN — so the aggregate must emit NULL iff
any contributing value is NULL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from radohydro_spark.session import pin


def weighted_basin_timeseries(
    obs: DataFrame,
    weighted_fragments: DataFrame,
    numerator: float = 10.0,
) -> DataFrame:
    """result(basin_id, ts, rainfall_mm) = Σ_cells w_i * value_i / numerator.

    Plan shape (scale-critical): the weighted fragment table is
    dimension-sized → ``broadcast`` it onto the obs fact table (no shuffle
    for the join), then one ``groupBy(basin_id, ts)`` hash aggregate — the
    single shuffle of the whole pipeline, with partial aggregation map-side.
    ``numerator=10`` converts 0.1 mm integer units to mm
    (reference geotools/geotools.py:174-176, radohydro.py:527).
    """
    joined = obs.join(
        F.broadcast(
            weighted_fragments.select("basin_id", "cell_row", "cell_col", "weight")
        ),
        ["cell_row", "cell_col"],
        "inner",
    )
    any_null = F.max(F.col("value").isNull().cast("int"))
    wsum = F.sum(F.col("weight") * F.col("value"))
    return joined.groupBy("basin_id", "ts").agg(
        F.when(any_null > 0, F.lit(None).cast("double"))
        .otherwise(wsum / F.lit(float(numerator)))
        .alias("rainfall_mm")
    )


def pivot_wide(
    result: DataFrame,
    ts_format: str = "yyMMddHHmm",
    value_col: str = "rainfall_mm",
    key_col: str = "basin_id",
) -> DataFrame:
    """D6 — sink-time pivot to one column per timestep, column names in the
    reference's ``%y%m%d%H%M`` convention (geotools/geotools.py:173).

    Internal processing never goes wide; this exists only for
    shapefile-compatible export (and has no 500-column dBase limit when the
    sink is Parquet — SURVEY.md §6).
    """
    return (
        result.withColumn("_ts_str", F.date_format("ts", ts_format))
        .groupBy(key_col)
        .pivot("_ts_str")
        .agg(F.first(value_col))
    )


def cells_wide(
    obs: DataFrame,
    cells: DataFrame,
    ts_format: str = "yyMMddHHmm",
    numerator: float = 10.0,
) -> DataFrame:
    """D6 — wide cell table: the cell grid with one scaled data column per
    timestep, column names in the reference's all-digits convention.

    Parity surface for ``map_arraystack_on_cellgrd`` (reference
    geotools/geotools.py:154-185) including the ``/numerator`` unit scaling
    (A7, geotools/geotools.py:174-176).  SINK-TIME ONLY: this is the shape
    that breaks the reference at >500 timesteps and it does not scale in
    time — internal processing stays long (SURVEY.md §7.1).
    """
    wide = (
        obs.withColumn("_ts_str", F.date_format("ts", ts_format))
        .withColumn("_v", F.col("value") / F.lit(float(numerator)))
        .groupBy("cell_row", "cell_col")
        .pivot("_ts_str")
        .agg(F.first("_v"))
    )
    return cells.join(wide, ["cell_row", "cell_col"], "left")


def resample(
    result: DataFrame,
    every: str = "1 day",
    value_col: str = "rainfall_mm",
    agg: str = "sum",
) -> DataFrame:
    """Tumbling-window resampling (hourly → daily etc.).

    Generalizes the reference's hard-coded hourly-RADOLAN vs daily-REGNIE
    split (SURVEY.md §2.9) into one operator; same code works on a stream
    (streaming/precip_stream.py).
    """
    agg_fn = {"sum": F.sum, "mean": F.avg, "max": F.max, "min": F.min}[agg]
    return (
        result.groupBy("basin_id", F.window("ts", every).alias("win"))
        .agg(agg_fn(value_col).alias(value_col))
        .select("basin_id", F.col("win.start").alias("ts"), value_col)
    )


def gap_fill_linear(
    result: DataFrame,
    key_col: str = "basin_id",
    ts_col: str = "ts",
    value_col: str = "rainfall_mm",
) -> DataFrame:
    """Linear interpolation of NULL gaps in a per-key time series — the
    repair pass downstream of the A5 NaN policy (an all-dirty timestep
    yields NULL; consumers often want a physically-plausible estimate with
    provenance instead of a hole).

    prev/next anchors via frame-bounded ``last(..., ignorenulls)`` windows
    (forward + reverse ordering) — both windows share ONE partitioning on
    the key, so Catalyst plans a single Exchange + two in-partition sorts;
    per-key series fit comfortably in a partition at any corpus scale
    (keys x timesteps is the fact table itself).  Leading/trailing NULLs
    have only one anchor and stay NULL (no extrapolation).

    Returns the input columns with ``value_col`` gap-filled plus
    ``was_interpolated``.
    """
    w_fwd = W.partitionBy(key_col).orderBy(ts_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    w_rev = W.partitionBy(key_col).orderBy(F.desc(ts_col)).rowsBetween(
        W.unboundedPreceding, 0
    )
    v = F.col(value_col)
    t = F.col(ts_col).cast("double")  # epoch seconds
    prev_v = F.last(v, ignorenulls=True).over(w_fwd)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_fwd)
    next_v = F.last(v, ignorenulls=True).over(w_rev)
    next_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_rev)
    interp = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
    filled = F.when(v.isNotNull(), v).otherwise(
        F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
    )
    return result.select(
        *[c for c in result.columns if c != value_col],
        filled.alias(value_col),
        (v.isNull() & filled.isNotNull()).alias("was_interpolated"),
    )


def antecedent_precipitation_index(
    result: DataFrame,
    k: float = 0.9,
    key_col: str = "basin_id",
    ts_col: str = "ts",
    value_col: str = "rainfall_mm",
    hour0: str | None = None,
    segment_hours: int = 2048,
) -> DataFrame:
    """Antecedent precipitation index: API_t = k·API_{t-1} + P_t — the
    classic soil-moisture proxy (Kohler & Linsley '51) driving runoff
    models downstream of exactly this pipeline.

    The recursion is closed-form — API_t = k^t · Σ_{i<=t} P_i · k^(-i) —
    but the naive form overflows float64 once ``hours·ln(1/k)`` passes
    ~709 (k=0.9: ~6,700 hours, nine months of hourly data).  So the
    exponent is REBASED PER SEGMENT of ``segment_hours`` (r6 fix):

      seg  = floor(hours / L),  r = hours - seg·L       (0 ≤ r < L)
      API_t = k^r · (carry_in(seg) + Σ_{i in seg, ≤t} P_i · k^(-r_i))

    with the cross-segment state carried by

      carry_in(s) = (carry_in(s') + T_{s'}) · k^((s - s')·L)

    over the *present* segments s' < s (gaps decay through the exponent).
    The per-row work is unchanged — one running-sum window per
    (key, segment), all JVM; the carry recursion runs over the
    keys×segments aggregate (thousands of rows where obs has billions)
    as a single JVM ``aggregate`` higher-order function over each key's
    sorted segment list — no UDF, no driver loop, one extra broadcast
    join back.  ``k^(-r)`` is bounded by ``k^(-L)`` (k=0.9, L=2048 →
    ~1e93, comfortably finite), so the horizon is unbounded: a
    100-year hourly series stays finite, with contributions older than
    float64's ~e^-745 underflow floor decaying to exactly 0.

    NULL timesteps (A5 NaN policy) contribute nothing but keep decaying
    the state, matching the hydrological reading of a data-gap hour.
    ``hour0`` defaults to each key's MIN ts.  Adds ``api`` to the input
    columns.
    """
    L = float(segment_hours)
    t = F.col(ts_col).cast("double")
    if hour0 is None:
        t0 = F.min(t).over(W.partitionBy(key_col))
    else:
        t0 = F.lit(hour0).cast("timestamp").cast("double")
    hours = (t - t0) / 3600.0
    seg = F.floor(hours / F.lit(L))
    r = hours - seg.cast("double") * F.lit(L)
    term = F.coalesce(F.col(value_col), F.lit(0.0)) * F.pow(F.lit(k), -r)
    w = W.partitionBy(key_col, "_api_seg").orderBy(ts_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    staged = result.select(
        "*", seg.alias("_api_seg"), r.alias("_api_r"), term.alias("_api_term")
    )
    inseg = F.sum("_api_term").over(w)

    # keys×segments totals — dimension-sized even at 100 TB obs
    seg_tot = staged.groupBy(key_col, "_api_seg").agg(
        F.sum("_api_term").alias("_api_T")
    )
    # carry recursion as one JVM higher-order aggregate per key: fold the
    # sorted (seg, T) list, emitting carry_in for each present segment
    acc0 = F.expr(
        "named_struct("
        "'out', cast(array() as array<struct<seg:bigint,carry:double>>), "
        "'c', cast(0.0 as double), 'prev_seg', cast(null as bigint), "
        "'prev_T', cast(0.0 as double))"
    )
    step = (
        lambda acc, x: F.struct(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["seg"].alias("seg"),
                        F.when(acc["prev_seg"].isNull(), F.lit(0.0))
                        .otherwise(
                            (acc["c"] + acc["prev_T"])
                            * F.pow(
                                F.lit(k),
                                (x["seg"] - acc["prev_seg"]).cast("double")
                                * F.lit(L),
                            )
                        )
                        .alias("carry"),
                    )
                ),
            ).alias("out"),
            F.when(acc["prev_seg"].isNull(), F.lit(0.0))
            .otherwise(
                (acc["c"] + acc["prev_T"])
                * F.pow(
                    F.lit(k),
                    (x["seg"] - acc["prev_seg"]).cast("double") * F.lit(L),
                )
            )
            .alias("c"),
            x["seg"].alias("prev_seg"),
            x["T"].alias("prev_T"),
        )
    )
    carries = (
        seg_tot.groupBy(key_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_api_seg").alias("seg"), F.col("_api_T").alias("T")
                    )
                )
            ).alias("_sts")
        )
        .select(
            key_col,
            F.explode(
                F.aggregate("_sts", acc0, step, lambda acc: acc["out"])
            ).alias("_sc"),
        )
        .select(
            key_col,
            F.col("_sc.seg").alias("_api_seg"),
            F.col("_sc.carry").alias("_api_carry"),
        )
    )
    out = staged.join(F.broadcast(carries), [key_col, "_api_seg"], "inner")
    api = F.pow(F.lit(k), F.col("_api_r")) * (F.col("_api_carry") + inseg)
    keep = [c for c in result.columns]
    return out.select(*keep, api.alias("api"))


def wide_to_long(
    wide: DataFrame,
    key_cols: list[str],
    ts_format: str = "yyMMddHHmm",
    value_col: str = "value",
) -> DataFrame:
    """F7 — migration shim for the reference's WIDE tables: discover data
    columns by the all-digits name convention (reference
    geotools/geotools.py:242-245 ``str.isdigit()``) and unpivot them back
    to the engine's long format with real timestamps.

    Uses Spark's native ``unpivot`` (expand-based, no shuffle); the digits
    convention dies at this boundary — downstream everything is
    ``(keys..., ts, value)``."""
    data_cols = [c for c in wide.columns if c.isdigit()]
    if not data_cols:
        raise ValueError("no all-digits data columns to unpivot")
    long = wide.unpivot(
        [F.col(c) for c in key_cols],
        [F.col(c) for c in data_cols],
        "_ts_str",
        value_col,
    )
    return long.select(
        *key_cols,
        F.to_timestamp("_ts_str", ts_format).alias("ts"),
        value_col,
    )


def trimmed_mean_udf(trim: float = 0.1):
    """Grouped-aggregate pandas UDF: mean after dropping ``floor(n*trim)``
    values at each end — the robust-statistics aggregate Spark lacks
    natively, and the fourth Arrow UDF flavor in the engine (scalar
    pandas_udf, mapInPandas, applyInPandasWithState being the others).

    Whole groups stream to the UDF as one pandas Series (Arrow-batched);
    partial aggregation is NOT available for holistic aggregates like this,
    so the shuffle moves raw rows — use on dimension-bounded groups, or
    pre-sample at 100 TB.  Deterministic tie handling: values sorted, exact
    index trim, so any engine reproduces it bit-for-bit.
    """
    @F.pandas_udf("double")
    def _trimmed(v: pd.Series) -> float:
        s = v.dropna().sort_values().to_numpy()
        n = len(s)
        if n == 0:
            return None
        k = int(n * trim)
        kept = s[k : n - k] if n - 2 * k > 0 else s
        return float(kept.mean())

    return _trimmed


def trimmed_mean(df, group_cols, value_col, trim: float = 0.1):
    """Per-group trimmed mean via the grouped-agg pandas UDF.

    Spark forbids mixing a group-agg pandas UDF with JVM aggregates in one
    Aggregate node, so the count rides a separate aggregate joined back on
    the group key (both sides share the same shuffle partitioning — the
    join is exchange-free)."""
    udf = trimmed_mean_udf(trim)
    tm = df.groupBy(*group_cols).agg(udf(F.col(value_col)).alias("trimmed_mean"))
    cnt = df.groupBy(*group_cols).agg(F.count(value_col).alias("n"))
    # drop groups whose values are all NULL (n = 0): SQL oracles that rank
    # non-NULL values never emit such groups, so presence must agree
    return tm.join(cnt, list(group_cols)).filter(F.col("n") > 0)


def weighted_median(df, group_cols, value_col, weight_col):
    """Exact weighted median per group: the smallest value v such that the
    cumulative weight of rows with value <= v reaches half the group's
    total weight — the lower weighted median, the robust location
    estimator for weighted observations (order-line prices weighted by
    quantity, station readings weighted by coverage) where trimmed/plain
    means mislead.

    Pure selection, zero float arithmetic: weights cast to exact longs,
    the threshold test ``2·cumw >= totw`` stays in integers (no /2), and
    the output is an INPUT value, never a computed one — trivially
    hash-exact cross-engine.  Ties in the value are order-insensitive:
    every row of a tied block carries the block's value, so whichever
    tied row first crosses the threshold, ``min(value)`` over qualifying
    rows is the same.

    NULL values are dropped BEFORE the windows (their weights do not
    count toward the group total): Spark windows order NULLS FIRST
    ascending while DuckDB/ANSI default NULLS LAST, so a NULL whose
    weight still counted toward ``_tw`` would place cumulative weights
    differently per engine and silently shift the selected median.  A
    group whose values are all NULL disappears from the output, matching
    what a rank-the-non-NULLs SQL oracle emits.

    Scale shape: ONE shuffle on the group key serves both windows
    (cumulative and total share the partitionBy), then a map-side-
    combinable min aggregation.  Holistic like any exact quantile — raw
    rows shuffle once; for sketch-precision-is-fine cases use the
    approx_percentile family instead.
    """
    from pyspark.sql import Window as W

    w_cum = (
        W.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy(*group_cols)
    wts = F.col(weight_col).cast("long")
    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, value_col, wts.alias("_w"))
        .withColumn("_cw", F.sum("_w").over(w_cum))
        .withColumn("_tw", F.sum("_w").over(w_tot))
    )
    return (
        d.filter(F.lit(2) * F.col("_cw") >= F.col("_tw"))
        .groupBy(*group_cols)
        .agg(F.min(value_col).alias("weighted_median"))
    )


def time_weighted_avg(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Time-weighted average of an irregularly-sampled series per key —
    the TWAP every metering/telemetry rollup needs: each observation
    holds its value until the NEXT observation, so the mean weights each
    value by its holding duration, not its sample count (a sensor that
    reports once an hour and once a second must not let the chatty
    second dominate).

    Semantics: samples ordered by timestamp per key; each sample's
    weight is the integer seconds until the key's next sample; the
    key's LAST sample has no successor and carries zero weight (callers
    wanting a horizon can append a sentinel row).  Keys with fewer than
    two samples produce no output row.

    Exactness discipline: values are quantized once to ``scale`` units
    (cents by default, round-half-up — both engines agree), durations
    are integer epoch-second differences, so numerator and denominator
    are exact BIGINT sums in ANY order; the single double division
    happens once at the end, rounded to 6 places — hash-identical on
    any ANSI engine.

    Shape: ONE keyed shuffle shared by the lead() window and the final
    aggregation (same-key partitioning), map-side combinable.  Returns
    ``group_cols + (twa, total_seconds)``.
    """
    epoch = F.unix_timestamp(F.col(ts_col))
    v_units = F.round(F.col(value_col) * scale).cast("long")
    # total order (_t, _v): under timestamp ties the lead() assignment of
    # who gets the zero-duration slot would otherwise be partition-order
    # dependent (different engines, different answers)
    w = W.partitionBy(*group_cols).orderBy(F.col("_t").asc(), F.col("_v").asc())
    staged = df.select(
        *group_cols,
        epoch.alias("_t"),
        v_units.alias("_v"),
    ).withColumn("_dt", F.lead("_t").over(w) - F.col("_t"))
    return (
        staged.filter(F.col("_dt").isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("_v") * F.col("_dt")).alias("_num"),
            F.sum("_dt").alias("total_seconds"),
        )
        .filter(F.col("total_seconds") > 0)
        .select(
            *group_cols,
            F.round(F.col("_num") / F.col("total_seconds") / F.lit(scale), 6).alias(
                "twa"
            ),
            "total_seconds",
        )
    )


# Poisson(1) inverse-CDF thresholds scaled to the 32-bit hash domain:
# floor(P(X <= j) * 2^32) for j = 0..7 (P(X <= 7) = 0.99999, weights cap
# at 8).  FIXED integer constants, not computed at runtime — the whole
# point is that both engines compare the same literals against the same
# deterministic hash, so the "random" weights are bit-identical in SQL.
_POISSON1_CUM_T32 = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,
)


_BOOTSTRAP_RESERVED = frozenset(
    {
        "b", "_key", "_x", "_w", "_r", "swx", "sw", "n_rows",
        "mean_micro", "n_replicates", "point_micro", "lo_micro",
        "hi_micro",
    }
)


def _poisson_replicate_means(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    group_cols: list[str],
    n_replicates: int,
    portable: bool,
) -> DataFrame:
    """Shared core of :func:`poisson_bootstrap_ci` and
    :func:`poisson_bootstrap_ci_by` — ONE copy of the coordinated-hash
    key law, the fixed Poisson(1) threshold ladder, the b = −1
    point-estimate override, and the exact micro-unit piecewise mean
    law (so the laws can never drift between the global and per-group
    forms — r14 review).  Returns the CACHED replicate table
    ``(*group_cols, b, swx, sw, n_rows, mean_micro)``.

    The mean law's overflow branch ``swx div (sw div 10⁶)`` needs
    ``sw ≥ 10⁶``; per-group that regime is REACHABLE (one small arm
    with huge values), so the invalid combination raises this
    operator's NAMED raise_error in-plan instead of an opaque ANSI
    divide-by-zero (r14 review) — the SQL oracles fail their own
    division there, so the valid domains still agree.

    DIVISION SEMANTICS (r15, r14 ADVICE): every ``div`` here — like
    DuckDB's integer ``//`` (verified on 1.0.0: ``-7 // 2 = -3``) —
    TRUNCATES TOWARD ZERO.  For NEGATIVE ``swx`` (a legal integral
    value_col) this is NOT floor division: a python replay must use
    ``math.trunc(a / b)``-style ``abs``-folded division, never
    python's floor ``//`` (pinned by the negative-value hypothesis
    test).  Cross-engine the law is still exact — both engines
    truncate identically.
    """
    from radohydro_spark.functions.text import portable_hash

    clash = _BOOTSTRAP_RESERVED.intersection(group_cols)
    if clash:
        raise ValueError(
            "poisson_bootstrap: group column(s) "
            f"{sorted(clash)} collide with internal/output names "
            f"{sorted(_BOOTSTRAP_RESERVED)} — alias them first "
            "(operators/aggregate.py)"
        )
    key = F.concat_ws("-", *[F.col(c).cast("string") for c in id_cols])
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        # NULL group keys are EXCLUDED (the tvd_drift convention):
        # they would otherwise survive the whole pipeline and then
        # silently vanish in the null-unsafe point/bounds join
        # (r14 review) — pre-coalesce to a sentinel to track them
        keep = keep & F.col(g).isNotNull()
    rows = df.filter(keep).select(
        *group_cols,
        key.alias("_key"),
        F.col(value_col).cast("long").alias("_x"),
    )
    # The fan multiplies every row by (B+1) and the portable md5 ladder
    # is the dominant per-row cost, so this stage's parallelism is the
    # whole operator's wall.  A small source arrives as ONE scan
    # partition (locally: one parquet file under maxPartitionBytes — the
    # media_decode_jpeg trap, r16) and would run the entire fan+hash on
    # one core: measured 19.0 s -> 3.9 s at sf0.1/32 cores (r17).
    # Repartition the NARROW (key, x) rows BEFORE the fan, only when the
    # scan is under-parallel — the shuffle moves 1/(B+1) of the post-fan
    # bytes (guide §2.3/§2.5), and row placement cannot change the
    # integer replicate sums.
    par = max(1, df.sparkSession.sparkContext.defaultParallelism)
    if rows.rdd.getNumPartitions() < par:
        rows = rows.repartition(par)
    fan = rows.select(
        *group_cols,
        "_key",
        "_x",
        F.explode(F.sequence(F.lit(-1), F.lit(n_replicates - 1))).alias("b"),
    )
    if portable:
        u = portable_hash(
            F.concat(F.col("b").cast("string"), F.lit(":"), F.col("_key"))
        )
    else:
        # FAST PATH: JVM xxhash64 folded to the same 32-bit threshold
        # domain — identical law shape and determinism, but NOT
        # SQL-replayable (no DuckDB twin), so no oracle.  The md5 form
        # is an ORACLE TAX, not a design cost: the soak measures the
        # gap (scripts/soak_sketch.py bootstrap_fast leg: 104 -> 7.6 s).
        u = F.pmod(F.xxhash64(F.col("b"), F.col("_key")), F.lit(1 << 32))
    w = F.lit(len(_POISSON1_CUM_T32)).cast("long")
    for j in range(len(_POISSON1_CUM_T32) - 1, -1, -1):
        w = F.when(
            u < F.lit(_POISSON1_CUM_T32[j]), F.lit(j).cast("long")
        ).otherwise(w)
    # replicate -1 is the point estimate: every row with weight 1
    w = F.when(F.col("b") == F.lit(-1), F.lit(1).cast("long")).otherwise(w)
    reps = (
        fan.select(*group_cols, "b", w.alias("_w"), "_x")
        .groupBy(*group_cols, "b")
        .agg(
            F.sum(F.col("_w") * F.col("_x")).alias("swx"),
            F.sum("_w").alias("sw"),
            F.count("*").alias("n_rows"),
        )
        .withColumn(
            "mean_micro",
            F.expr(
                "CASE WHEN sw = 0 THEN NULL"
                "     WHEN abs(swx) <= 9000000000000"
                "     THEN (1000000 * swx) div sw"
                "     WHEN sw >= 1000000"
                "     THEN swx div (sw div 1000000)"
                "     ELSE CAST(raise_error('poisson_bootstrap: a "
                "replicate has |sum(w*x)| > 9e12 with sum(w) < 10^6 — "
                "the exact micro-unit mean law has no valid branch; "
                "pre-scale the value units (operators/aggregate.py)') "
                "AS BIGINT) END"
            ).cast("long"),
        )
    )
    # the (groups x B+1)-row replicate table feeds both the rank-pick
    # and the point rows — persist it so the corpus aggregate runs
    # ONCE (session pool)
    return pin(reps.cache())


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    n_replicates: int = 100,
    lo_q: int = 25,
    hi_q: int = 975,
    portable: bool = True,
) -> DataFrame:
    """Bootstrap confidence interval for a mean WITHOUT resampling —
    the Poisson bootstrap (Hanley & MacGibbon 2006; the
    bag-of-little-bootstraps ancestor every large-scale A/B platform
    uses): instead of drawing n rows with replacement (impossible to
    coordinate across executors), each (row, replicate) pair draws an
    independent Poisson(1) WEIGHT — for n → ∞ the two schemes have the
    same distribution, and the weighted form is embarrassingly
    parallel: one projection, one map-side-combinable aggregate.

    DETERMINISTIC cross-engine: replicate ``b``'s weight for a row is
    the Poisson(1) inverse CDF applied to
    ``portable_hash(b || ':' || key)`` (key = the ``id_cols`` joined
    with '-'), thresholded against the FIXED integer constants
    ``_POISSON1_CUM_T32`` — no RNG, no float CDF, bit-identical in
    SQL and across retries/partitionings (the coordinated-sampling
    discipline every sampler here follows).

    ``value_col`` must be INTEGRAL (pre-quantize: cents, micro-units —
    the auc_mann_whitney convention); negative values are legal, and
    the terminal division then TRUNCATES TOWARD ZERO in both engines
    (Spark ``div`` == DuckDB ``//``; see
    :func:`_poisson_replicate_means` — NOT python floor ``//``).
    Each replicate's mean is reported in exact micro-units by ONE
    truncating division under the shared ks_drift piecewise overflow
    law: below 9e12 summed units
    ``(10⁶·Σwx) div Σw`` exactly, above it ``Σwx div (Σw div 10⁶)``
    (validity there needs Σw ≥ 10⁶ — i.e. ≥ ~10⁶ rows, exactly the
    regime where sums are that large; outside it both engines raise
    the same division error, loudly).

    ``portable=False`` swaps the md5 hash for JVM xxhash64 (same law
    shape, deterministic, NOT SQL-replayable) — the measured fast path
    when no cross-engine oracle is needed.

    Plan shape: ``explode(sequence(0, B−1))`` fans each row to B
    replicate contributions, then ONE groupBy(b) whose map-side
    partials bound the shuffle at B rows per task — no corpus copy,
    no resample materialization.  The final rank-pick runs on the
    B-row replicate table (dimension-bounded by the B literal — a
    window there is deliberate, not a scale hole).  The point
    estimate rides the same aggregate as replicate −1 with weight 1
    (no separate scan).

    Returns ONE row ``(n_replicates, n_rows, point_micro, lo_micro,
    hi_micro)``: the full-data mean and the ``lo_q/1000``,
    ``hi_q/1000`` bootstrap-percentile bounds (ranks
    ``ceil(q·B/1000)`` over replicate means ordered by
    ``(mean_micro, b)`` — deterministic under ties).  Empty input
    yields the all-NULL row.

    Reference analog: none — extends the stats family
    (SURVEY §2 extension table).
    """
    assert n_replicates >= 2 and 0 < lo_q < hi_q < 1000
    reps = _poisson_replicate_means(
        df, value_col, id_cols, [], n_replicates, portable
    )
    from pyspark.sql import Window as W

    # B+1 rows total: the global window is bounded by the B literal
    ranked = (
        reps.filter(F.col("b") >= 0)
        .withColumn(
            "_r",
            # asc_nulls_last: a zero-weight replicate (possible at tiny
            # n: P = e^-n each) reports mean_micro NULL, and Spark
            # windows default NULLS FIRST while the ANSI/DuckDB oracle
            # sorts NULLS LAST — pin the oracle's order (r14 review)
            F.row_number().over(
                W.partitionBy().orderBy(
                    F.col("mean_micro").asc_nulls_last(), "b"
                )
            ),
        )
    )
    lo_rank = -(-lo_q * n_replicates // 1000)  # ceil
    hi_rank = -(-hi_q * n_replicates // 1000)
    bounds = ranked.agg(
        F.max(F.when(F.col("_r") == lo_rank, F.col("mean_micro"))).alias(
            "lo_micro"
        ),
        F.max(F.when(F.col("_r") == hi_rank, F.col("mean_micro"))).alias(
            "hi_micro"
        ),
    )
    # global aggregates emit exactly ONE row even on empty input, so the
    # all-NULL degenerate row (n_rows coalesced to 0) falls out with no
    # driver-side emptiness probe
    point = reps.filter(F.col("b") == -1).agg(
        F.max("mean_micro").alias("point_micro"),
        F.max("n_rows").alias("n_rows"),
    )
    return point.crossJoin(bounds).select(
        F.lit(n_replicates).cast("long").alias("n_replicates"),
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        "point_micro",
        "lo_micro",
        "hi_micro",
    )


def ewma_halving(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    lags: int = 12,
) -> DataFrame:
    """Truncated exponentially-weighted moving average with decay ½ —
    the classic smoothing/monitoring pass over a per-key series (daily
    revenue, error rates, ingest volumes), EXACT in pure BIGINTs: the
    recursive ``ewma_t = ewma_{t-1}/2 + x_t/2`` has no scalable
    distributed form (it is order-serial), but its ``adjust=True``
    closed form ``Σ w_j·x_{t-j} / Σ w_j`` with ``w_j = 2^{-j}``
    truncates after ``lags`` terms to integer weights ``2^{lags-1-j}``
    — so numerator and denominator are BIGINT window sums and the
    reported ``ewma_micro = (10⁶·num) div den`` is ONE terminal
    integer division TRUNCATING TOWARD ZERO (Spark ``div`` == DuckDB
    ``//``; for a NEGATIVE numerator this is NOT floor — python
    replays must trunc, r14 ADVICE), bit-identical in SQL.
    Truncation of the weight TAIL keeps ≥ 1−2^{−lags} of
    the weight mass (lags=12: 99.976%) and is part of the operator's
    LAW, not an approximation seam: both engines compute the same 12
    terms.

    The denominator counts only PRESENT lags (series heads normalize
    over the weights that exist — pandas ``adjust=True`` semantics), so
    the first rows are unbiased means of their available history.
    ``value_col`` must be integral (pre-quantize — the
    poisson_bootstrap_ci convention) with ``|x| < 2^63 / (10⁶·2^lags)``
    (lags=12: ~2.2e9 units), ENFORCED in-plan by a named
    ``assert_true`` so the contract fails loudly, never as an opaque
    ANSI overflow (num ≤ max|x|·2^lags, so the 10⁶ scaling is then
    always exact — no piecewise branch needed).

    Plan shape: ``lags`` lag() expressions SHARING one window (one
    Exchange on the group key, one in-partition sort — Catalyst plans a
    single Window node); no self-join, no per-row Python.  Rows with
    NULL values are EXCLUDED before the window (the weighted_median
    convention — a NULL would otherwise shift every downstream lag).

    ``order_col`` must be UNIQUE per group among the surviving rows
    (every caller pre-aggregates to one row per (group, day)):
    duplicate (group, order) pairs would make the lag sequence — and
    hence ``ewma_micro`` — tie-order-dependent across engines, so a
    duplicate raises this operator's named in-plan ``assert_true``
    (detected by ONE extra lag on the SAME window — no second
    exchange; r14 ADVICE).

    Returns the group/order/value columns plus ``ewma_micro``.

    Reference analog: none — extends the stats family
    (SURVEY §2 extension table).
    """
    assert 1 <= lags <= 32
    bound = (1 << 63) // (1_000_000 << lags)
    w = W.partitionBy(*group_cols).orderBy(order_col)
    x = F.col(value_col).cast("long")
    # the winnow/temperature loud-contract shape: the assert lives in
    # the value expression's otherwise-branch, so it costs one codegen
    # comparison per row and cannot be pruned
    guard = F.abs(x) < F.lit(bound)
    x_checked = F.when(guard, x).otherwise(
        F.assert_true(
            guard,
            F.lit(
                f"ewma_halving: |{value_col}| exceeds the exact-ppm "
                f"domain 2^63/(10^6*2^{lags}) = {bound} — pre-scale the "
                "units or lower `lags` (operators/aggregate.py)"
            ),
        ).cast("long")
    )
    num = None
    den = None
    for j in range(lags):
        lx = F.lag(x, j).over(w)
        wt = 1 << (lags - 1 - j)
        t_num = F.coalesce(lx, F.lit(0)) * F.lit(wt)
        t_den = F.when(lx.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    # duplicate (group, order) detection rides the SAME window (one
    # more lag — no second exchange, no sort change): the previous row
    # in the group order carrying the SAME order value means order_col
    # is not unique per group and every downstream lag is tie-order-
    # dependent (r14 ADVICE) — fail loudly
    dup_here = F.lag(F.col(order_col), 1).over(w).eqNullSafe(
        F.col(order_col)
    )
    dup_checked = F.when(~dup_here, F.lit(1)).otherwise(
        F.assert_true(
            ~dup_here,
            F.lit(
                f"ewma_halving: duplicate ({', '.join(group_cols)}, "
                f"{order_col}) pair — order_col must be unique per "
                "group (pre-aggregate to one row per key) or the lag "
                "sequence is tie-order-dependent "
                "(operators/aggregate.py)"
            ),
        ).cast("int")
    )
    staged = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            order_col,
            x_checked.alias(value_col),
        )
        .select(
            *group_cols,
            order_col,
            value_col,
            num.alias("_num"),
            den.alias("_den"),
            dup_checked.alias("_uniq"),
        )
    )
    return staged.select(
        *group_cols,
        order_col,
        value_col,
        F.when(
            F.col("_uniq") == 1,
            F.expr("CAST((1000000 * _num) div _den AS BIGINT)"),
        ).alias("ewma_micro"),
    )


def poisson_bootstrap_ci_by(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    group_cols: list[str],
    n_replicates: int = 100,
    lo_q: int = 25,
    hi_q: int = 975,
    portable: bool = True,
) -> DataFrame:
    """Per-GROUP Poisson-bootstrap CI — the A/B-platform shape proper:
    one confidence interval per experiment arm / segment / priority
    class, from the same single pass :func:`poisson_bootstrap_ci`
    makes over the whole corpus (same fixed-threshold Poisson(1)
    weights on the coordinated hash, same exact micro-unit piecewise
    mean law, same NULLS-LAST rank law — see that docstring for the
    cross-engine discipline).

    Plan shape: one ``explode × B`` projection and ONE map-side-
    combinable ``groupBy(group, b)`` bounding the shuffle at
    ``|groups|·B`` rows per task; every group that exists carries ALL
    B+1 replicates by construction (each row fans to every b), so the
    per-group rank-pick is a window over exactly B rows per group —
    dimension-bounded by the B literal × group domain, never by rows.
    Groups with no rows simply do not appear (per-group outputs have
    no degenerate all-NULL convention; the global form covers that);
    rows whose GROUP KEY is NULL are excluded (the tvd_drift
    convention — pre-coalesce to a sentinel to track them), and group
    columns colliding with the operator's internal/output names raise
    a named ValueError (r14 review).

    Returns one row per group:
    ``(<group_cols>, n_replicates, n_rows, point_micro, lo_micro,
    hi_micro)``.

    Reference analog: none — extends the stats family
    (SURVEY §2 extension table).
    """
    assert n_replicates >= 2 and 0 < lo_q < hi_q < 1000
    reps = _poisson_replicate_means(
        df, value_col, id_cols, list(group_cols), n_replicates, portable
    )
    wrank = W.partitionBy(*group_cols).orderBy(
        F.col("mean_micro").asc_nulls_last(), "b"
    )
    lo_rank = -(-lo_q * n_replicates // 1000)
    hi_rank = -(-hi_q * n_replicates // 1000)
    bounds = (
        reps.filter(F.col("b") >= 0)
        .withColumn("_r", F.row_number().over(wrank))
        .groupBy(*group_cols)
        .agg(
            F.max(
                F.when(F.col("_r") == lo_rank, F.col("mean_micro"))
            ).alias("lo_micro"),
            F.max(
                F.when(F.col("_r") == hi_rank, F.col("mean_micro"))
            ).alias("hi_micro"),
        )
    )
    point = reps.filter(F.col("b") == -1).select(
        *group_cols,
        F.col("mean_micro").alias("point_micro"),
        F.col("n_rows").alias("n_rows"),
    )
    return point.join(bounds, list(group_cols)).select(
        *group_cols,
        F.lit(n_replicates).cast("long").alias("n_replicates"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "point_micro",
        "lo_micro",
        "hi_micro",
    )
