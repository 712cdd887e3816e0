"""One-pass column profiling — the data-quality primitive a pipeline runs
before trusting a new 100 TB drop.

``profile_columns`` computes per-column null count, exact distinct count,
and min/max in ONE aggregation job: all measures for all columns are
expressions of the same ``df.agg(...)`` (single scan, map-side partial
aggregation), then the 1×(4·n) result row unpivots to a long
``(column, n_rows, n_nulls, n_distinct, min_value, max_value)`` table via
an array-of-structs inline — no per-column jobs, no driver loop over
columns launching n scans (the anti-pattern this operator exists to
replace).

Distinct counts are exact (``count(distinct col)`` — Spark expands to
expand+two-phase agg) so the DuckDB oracle matches bit-for-bit.

The drift and concentration statistics come as twins: a global form
(``ks_drift``) and a per-group form (``ks_drift_by``).  Each pair
computes its law ONCE, in a private keyed core (``_ks``), under one
contract:

* the global form is the core with ``group_cols=[]``; the ``_by`` form
  rejects empty ``group_cols`` and calls the same core with its keys;
* rows with a NULL group key or a NULL value are excluded;
* on empty input the global form of a scalar statistic returns one
  all-NULL row and the ``_by`` form zero rows; diagram statistics (one
  row per bucket / category / cell) return zero rows in both forms;
* every BIGINT overflow guard is named after the public function.  The
  global forms that cumulate (ks, auc, wasserstein, gini, cusum) know
  their totals on the driver and raise a ``ValueError`` before any job
  runs; every other form carries the guard in-plan as a named
  ``assert_true``;
* cumulation goes through ``_cumulate``: a keyed form runs one
  group-partitioned window, so one group's domain must fit one task's
  sort; a global form cuts its domain into driver-fixed ranges
  (``plans.contracts.ranged_cumsum``), has no such bound, and its
  output depends neither on ``n_parts`` nor on any cache.

A single-constant-group ``_by`` run therefore equals the global row(s)
plus the group column.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from radohydro_spark.plans.contracts import ranged_cumsum


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_dist_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"_max_{c}"))
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_nulls"),
                F.col(f"_dist_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.inline(entries))


def check_constraints(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    row_rules: dict[str, "F.Column"] | None = None,
    foreign_keys: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Declarative data-quality gate: evaluate constraint rules and emit a
    ``(rule, n_violations)`` report — the contract check a pipeline runs
    before promoting a new data drop.

    * ``not_null`` columns and ``row_rules`` (name → boolean Column that
      flags a VIOLATION) fold into ONE conditional-sum aggregation — a
      single scan regardless of rule count.
    * each ``unique`` key set is a groupBy counting keys seen more than
      once (violations = extra rows beyond the first per key).
    * each ``foreign_keys`` (col, ref_df, ref_col) is a left-anti join
      against the (broadcastable, dimension-sized) reference keys.

    Every rule is map-side combinable; the report is rule-count rows.
    """
    spark_rules: list[tuple[str, "F.Column"]] = []
    for c in not_null or []:
        spark_rules.append((f"not_null:{c}", F.col(c).isNull()))
    for name, cond in (row_rules or {}).items():
        spark_rules.append((f"rule:{name}", cond))

    parts: list[DataFrame] = []
    if spark_rules:
        aggs = [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
            for name, cond in spark_rules
        ]
        wide = df.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(F.lit(name).alias("rule"), F.col(name).alias("n_violations"))
                for name, _ in spark_rules
            ]
        )
        parts.append(wide.select(F.inline(pairs)))
    for keys in unique or []:
        parts.append(
            df.groupBy(*keys)
            .agg(F.count("*").alias("_n"))
            .agg(
                F.lit("unique:" + ",".join(keys)).alias("rule"),
                F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).cast("long").alias(
                    "n_violations"
                ),
            )
        )
    for col, ref, ref_col in foreign_keys or []:
        missing = df.select(F.col(col)).filter(F.col(col).isNotNull()).join(
            F.broadcast(ref.select(F.col(ref_col).alias(col)).distinct()),
            col,
            "left_anti",
        )
        parts.append(
            missing.agg(
                F.lit(f"fk:{col}").alias("rule"),
                F.count("*").cast("long").alias("n_violations"),
            )
        )
    if not parts:
        raise ValueError(
            "check_constraints called with no rules: pass at least one of "
            "not_null / unique / row_rules / foreign_keys"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def zscore_outliers(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    z: float = 3.0,
    scale: int = 100,
) -> DataFrame:
    """Per-group z-score outlier report (r6): rows whose value deviates
    more than ``z`` standard deviations from their group mean — the
    anomaly gate run on each new drop's numeric columns.

    Exactness across engines: float sums are order-dependent, so mean and
    variance are computed from EXACT integer sums — values quantize to
    ``round(x·scale)`` and both Σx and Σx² accumulate in wide decimal
    (Spark ``decimal(38,0)``, DuckDB HUGEINT), which cannot lose a unit
    regardless of partial-aggregation order; the single cast to double
    AFTER summing is correctly rounded in both engines, so downstream
    mean/σ/threshold comparisons are bit-identical.  Requires values with
    ≤ ``log10(scale)`` decimals (prices, counts, rates).

    One groupBy over the facts + one broadcast join of the per-group
    stats back — the standard two-pass shape; emits per-group
    ``(group_cols..., n, n_outliers, mean_value, stddev_value)``.
    """
    cd = F.round(F.col(col) * scale).cast("decimal(38,0)")
    stats = df.groupBy(*group_cols).agg(
        F.count("*").alias("_n"),
        F.sum(cd).alias("_s"),
        F.sum(cd * cd).alias("_s2"),
    )
    mean_c = F.col("_s").cast("double") / F.col("_n")
    var_c = F.col("_s2").cast("double") / F.col("_n") - mean_c * mean_c
    stats = stats.select(
        *group_cols,
        "_n",
        mean_c.alias("_mean_c"),
        F.sqrt(F.greatest(var_c, F.lit(0.0))).alias("_sd_c"),
    )
    x_c = F.round(F.col(col) * scale)
    flagged = (
        df.join(F.broadcast(stats), group_cols)
        .withColumn(
            "_is_out",
            (F.abs(x_c - F.col("_mean_c")) > F.lit(z) * F.col("_sd_c")).cast(
                "int"
            ),
        )
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum("_is_out").cast("long").alias("n_outliers"),
            F.round(F.max("_mean_c") / scale, 6).alias("mean_value"),
            F.round(F.max("_sd_c") / scale, 6).alias("stddev_value"),
        )
    )
    return flagged


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier gate: median / MAD (median absolute
    deviation) instead of mean / stddev, so a few extreme rows cannot
    drag the fence toward themselves the way they inflate a z-score's
    sigma — the standard robust screen for heavy-tailed value columns.

    Exactness contract: feed an INTEGER value column (e.g. money in
    cents).  ``percentile`` interpolation on integers lands on .0/.5 —
    exactly representable doubles that DuckDB's ``median`` reproduces
    bit-for-bit, so the oracle hash-compares with zero tolerance.

    Scale shape: two grouped exact percentiles (each ONE shuffle on the
    group key, partial-aggregated map-side) plus a final row pass for the
    fence count; per-group medians/MADs are dimension-sized and broadcast
    back — the row side never collects, never self-joins.
    """
    # dev feeds TWO consumers (the MAD percentile and the fence count),
    # so the base relation is scanned three times — DELIBERATE (r16
    # audit): persisting the projected (group, absdev) rows was
    # implemented and A/B-soaked at 20M rows, range-backed AND
    # parquet-backed with pad columns (scripts/soak_mad_outliers.py),
    # and lost both times (steady-state 1.30s recompute vs 1.51s cached
    # on parquet) — the columnar scan prunes to the two needed columns
    # anyway, so recompute is a cheap pruned scan + broadcast join while
    # the cache pays row serialization of every input row.
    med = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("med"),
        F.count("*").alias("n_rows"),
    )
    dev = df.join(F.broadcast(med.select(group_col, "med")), group_col).withColumn(
        "_absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.percentile("_absdev", F.lit(0.5)).alias("mad")
    )
    counted = (
        dev.join(F.broadcast(mad), group_col)
        .withColumn(
            "_is_out",
            (F.col("_absdev") > F.lit(float(k)) * F.col("mad")).cast("int"),
        )
        .groupBy(group_col)
        .agg(F.sum("_is_out").cast("long").alias("n_outliers"))
    )
    return (
        med.join(F.broadcast(mad), group_col)
        .join(counted, group_col)
        .select(group_col, "n_rows", "med", "mad", "n_outliers")
    )


def table_fingerprint(
    df: DataFrame, cols: list[str], n_buckets: int = 64
) -> DataFrame:
    """Order-independent bucketed table checksum — verify a replication /
    migration / engine-port of a 100 TB table by moving BYTES, not rows.

    Every row is rendered to a canonical string (columns joined with the
    0x1f unit separator, NULL as 0x7f — unambiguous against empty
    strings), hashed with the engine-portable 32-bit md5-prefix hash
    (functions/text.py portable_hash), and assigned to
    ``hash % n_buckets``.  Per bucket: row count and two independent
    32-bit checksum lanes (hex chars 1-8 and 9-16 of the row md5) summed
    with plain ``+`` — commutative, so the result is independent of row
    order, partitioning, and engine.  Two tables are row-identical
    (as multisets of the selected columns) iff their fingerprints match;
    a mismatched bucket localizes the damage, and re-fingerprinting just
    that bucket with finer buckets descends merkle-style to the rows.

    Shape: ONE map-side-combined aggregation; the exchange carries
    ``n_buckets`` groups x 4 longs no matter the table size.  Lane sums
    are exact in BIGINT while buckets stay under ~2^31 rows (32-bit
    values, 63-bit headroom) — size n_buckets so buckets stay below
    that, which a 100 TB table wants anyway for the merkle descent.
    Callers cast float/timestamp columns to a canonical string form
    FIRST (engines disagree on default float rendering); integer and
    string columns are portable as-is.
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x7f")) for c in cols
    ]
    row = F.concat_ws("\x1f", *parts)
    h = F.md5(row)
    lane1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lane2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return (
        df.select(
            (lane1 % n_buckets).alias("bucket"),
            lane1.alias("_l1"),
            lane2.alias("_l2"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_l1").alias("checksum_a"),
            F.sum("_l2").alias("checksum_b"),
        )
    )


_BIGINT_MAX = (1 << 63) - 1
# the ppm/micro laws scale the numerator by 10^6 exactly up to this
# bound and floor the divisor by 10^6 past it (each family states which
# operand it branches on)
_EXACT = 9_000_000_000_000


def _require_keys(
    group_cols: list[str], op_name: str, global_name: str
) -> None:
    if not group_cols:
        raise ValueError(
            f"{op_name}: group_cols is empty — use {global_name} for the "
            "global form (operators/profile.py)"
        )


def _not_null(*cols: "str | Column") -> Column:
    """The twin contract's row filter: values and group keys non-NULL."""
    return reduce(
        operator.and_,
        [(F.col(c) if isinstance(c, str) else c).isNotNull() for c in cols],
    )


def _with_key_rows(
    df: DataFrame, small: DataFrame, keys: list[str]
) -> DataFrame:
    """Broadcast a per-key (|groups|-row; keyless: 1-row) frame back
    onto ``df`` — the dimension-sized stats-join of the family."""
    if keys:
        return df.join(F.broadcast(small), keys)
    return df.crossJoin(F.broadcast(small))


def _merge_counts(o: DataFrame, n: DataFrame) -> DataFrame:
    """Full-outer merge of per-value count frames ``o = (v_, _c1)`` and
    ``n = (v_, _c2)``; a value missing on one side counts 0 there."""
    return o.join(n, "v_", "full_outer").select(
        "v_",
        F.coalesce(F.col("_c1"), F.lit(0)).alias("_c1"),
        F.coalesce(F.col("_c2"), F.lit(0)).alias("_c2"),
    )


def _two_sided_counts(
    old: DataFrame, new: DataFrame, keys: list[str], v: Column
) -> DataFrame:
    """Per-(key, value) counts of two snapshots: ``(<keys>, v_, _c1,
    _c2)`` with ``v`` evaluated on each side.  Keyless: one
    map-side-combinable count aggregate per side and a full-outer join
    of the two domain-sized results.  Keyed: ONE union-tagged count
    aggregate, whose group exchange the keyed window reuses."""
    keep = _not_null(v, *keys)
    if not keys:
        o, n = (
            df.filter(keep).groupBy(v.alias("v_")).agg(F.count("*").alias(c))
            for df, c in ((old, "_c1"), (new, "_c2"))
        )
        return _merge_counts(o, n)
    sides = [
        df.filter(keep).select(
            *keys,
            v.alias("v_"),
            F.lit(s1).alias("_s1"),
            F.lit(s2).alias("_s2"),
        )
        for df, s1, s2 in ((old, 1, 0), (new, 0, 1))
    ]
    return (
        sides[0]
        .unionByName(sides[1])
        .groupBy(*keys, "v_")
        .agg(F.sum("_s1").alias("_c1"), F.sum("_s2").alias("_c2"))
    )


def _cumulate(
    df: DataFrame,
    keys: list[str],
    order: str | None,
    cols: list[str],
    n_parts: int | None = None,
    lead: bool = False,
) -> tuple[DataFrame, dict[str, int | None] | None]:
    """The twins' one cumulation: adds ``_tot_<c>`` (the key's total of
    each col) and, given an ``order``, ``_cum_<c>`` (INCLUSIVE running
    sum in that order).  ``lead`` also adds ``_next`` (the next order
    value within the key, NULL at the last) and ``_tot_span`` (the
    key's order range).

    Keyed: ONE group-partitioned window (one group's domain must fit
    one task's sort).  Keyless without an order: a 1-row aggregate
    broadcast back — no window, no collect, no persist.  Keyless with
    an order: :func:`~radohydro_spark.plans.contracts.ranged_cumsum` —
    no single-partition sort, no persist, and its one driver job
    returns the totals.

    Returns ``(frame, totals)``: ``totals`` maps each ``_tot_*`` name
    to its driver-side value in the keyless ordered case (all ``None``
    on empty input) and is ``None`` when the totals are runtime
    values."""
    tots = {c: f"_tot_{c}" for c in cols}
    if keys:
        wk = W.partitionBy(*keys)
        add = []
        if order is not None:
            wo = wk.orderBy(order)
            run = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
            add += [F.sum(c).over(run).alias(f"_cum_{c}") for c in cols]
        add += [F.sum(c).over(wk).alias(t) for c, t in tots.items()]
        if lead:
            add += [
                F.lead(order).over(wo).alias("_next"),
                (F.max(order).over(wk) - F.min(order).over(wk)).alias(
                    "_tot_span"
                ),
            ]
        return df.select("*", *add), None
    if order is None:
        sums = df.agg(*[F.sum(c).alias(t) for c, t in tots.items()])
        return df.crossJoin(F.broadcast(sums)), None
    m, sums = ranged_cumsum(df, [], [order], cols, n_parts, lead)
    totals = {tots[c]: sums[c] for c in cols}
    if lead:
        totals["_tot_span"] = sums["_span"]
    for t, v in totals.items():
        m = m.withColumn(t, F.lit(v).cast("long"))
    return m, totals


def _div(a: "int | Column", b: "int | Column") -> "int | Column":
    """Exact BIGINT ``div`` on driver ints or on columns, so a guard
    reads the same in both places."""
    if isinstance(a, int) and isinstance(b, int):
        return a // b
    return F.call_function(
        "div", *[F.lit(x) if isinstance(x, int) else x for x in (a, b)]
    )


def _max1(x: "int | Column") -> "int | Column":
    return max(x, 1) if isinstance(x, int) else F.greatest(x, F.lit(1))


def _bound(
    x: Column,
    ok: Callable[[Callable[[str], "int | Column"]], "bool | Column"],
    totals: dict[str, int | None] | None,
    msg: str,
) -> Column:
    """A family's named BIGINT overflow contract, guarding the law
    operand ``x``.  ``ok(g)`` states the contract over the ``_tot_*``
    totals (``g(name)``) with ``_div``/``_max1`` and comparisons only,
    checked divisionally so no guarded product is ever formed.

    When the totals are driver-side ints (the keyless cumulating
    forms) a breach raises ``ValueError(msg)`` before any job runs;
    otherwise the check is an in-plan ``assert_true`` carrying
    ``msg``."""
    if totals is not None:
        if None not in totals.values() and not ok(totals.__getitem__):
            raise ValueError(f"{msg}; totals {totals}")
        return x
    cond = ok(F.col)
    return F.when(cond, x).otherwise(
        F.assert_true(cond, F.lit(msg)).cast("long")
    )


def _label_01_checked(label_col: str, op_name: str) -> Column:
    """Shared 0/1-label contract: the checked column every positive-
    count consumer (auc / calibration) sums.

    The guard runs on the RAW column BEFORE the long cast — a
    fractional label (0.9, the probability-column misuse) would
    truncate to 0 and slip past a post-cast check while still
    corrupting n_pos; any value outside {0, 1} raises the named
    in-plan ``assert_true``.  NULL labels are the caller's pre-filter.
    """
    raw = F.col(label_col)
    guard = (raw == 0) | (raw == 1)
    return F.when(guard, raw.cast("long")).otherwise(
        F.assert_true(
            guard,
            F.lit(
                f"{op_name}: {label_col} outside the 0/1 label domain "
                "— any other value (2, 0.9, ...) corrupts the positive "
                "count silently (operators/profile.py)"
            ),
        ).cast("long")
    )


# ------------------------------------------------------------------ psi


def _psi_rows(counts: DataFrame, keys: list[str], eps: float) -> DataFrame:
    """The eps-floored PSI projection over per-bucket counts ``(<keys>,
    v_, _c1, _c2)`` — one float law for the equi-width twins and the
    reference-quantile / stored-baseline forms.  A key with no NEW rows
    reports ``p_new`` and ``psi_contrib`` as NULL (proportions are
    undefined on an empty side)."""
    m, _ = _cumulate(counts, keys, None, ["_c1", "_c2"])
    p_old = F.greatest(F.col("_c1") / F.col("_tot__c1"), F.lit(eps))
    p_new = F.greatest(F.col("_c2") / F.col("_tot__c2"), F.lit(eps))
    one_sided = F.col("_tot__c2") == 0
    return m.select(
        *keys,
        F.col("v_").cast("long").alias("bucket"),
        F.col("_c1").cast("long").alias("n_old"),
        F.col("_c2").cast("long").alias("n_new"),
        F.round(p_old, 9).alias("p_old"),
        F.when(one_sided, F.lit(None).cast("double"))
        .otherwise(F.round(p_new, 9))
        .alias("p_new"),
        F.when(one_sided, F.lit(None).cast("double"))
        .otherwise(F.round((p_old - p_new) * F.log(p_old / p_new), 9))
        .alias("psi_contrib"),
    )


def _psi(
    old: DataFrame,
    new: DataFrame,
    col: str,
    keys: list[str],
    n_buckets: int,
    eps: float,
) -> DataFrame:
    keep = _not_null(col, *keys)
    ext = (
        old.filter(keep)
        .groupBy(*keys)
        .agg(F.min(col).alias("_lo"), F.max(col).alias("_hi"))
    )
    # a constant reference extent (hi == lo) buckets everything to 0
    b = F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("long")).otherwise(
        F.greatest(
            F.least(
                F.floor(
                    (F.col(col) - F.col("_lo"))
                    / ((F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets)))
                ),
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        ).cast("long")
    )
    o, n = (
        _with_key_rows(df.filter(keep), ext, keys).select(*keys, b.alias("_b"))
        for df in (old, new)
    )
    return _psi_rows(_two_sided_counts(o, n, keys, F.col("_b")), keys, eps)


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard drift monitor run before retraining on a new
    data drop: PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 act.

    Equi-width buckets span the OLD snapshot's [min, max] (the reference
    distribution defines the grid; a constant reference puts every row
    in bucket 0); NEW values outside the range clamp into the edge
    buckets, so drift beyond the old support is visible in bucket 0 /
    n-1 rather than silently dropped.  Proportions are floored at
    ``eps`` (the standard zero-bucket smoothing) before the
    ``(p_old - p_new)·ln(p_old/p_new)`` contribution.

    Plan shape: one 1-row extent aggregate on old (broadcast back), one
    ``groupBy(bucket)`` per snapshot — each map-side combinable — and a
    full-outer join of two ≤ n_buckets-row results.  Nothing
    driver-side scales with the data.  Emits one row per bucket
    (``bucket, n_old, n_new, p_old, p_new, psi_contrib``); callers sum
    ``psi_contrib`` for the scalar PSI.  Twin: :func:`psi_drift_by`.
    """
    return _psi(old, new, col, [], n_buckets, eps)


def psi_drift_by(
    old: DataFrame,
    new: DataFrame,
    col: str,
    group_cols: list[str],
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group :func:`psi_drift` (twin contract in the module
    docstring): each group's grid spans ITS old ``[min, max]``, so a
    group with no old rows has no grid and does not appear.  The
    per-group extents (|groups| rows) are broadcast back; no row ever
    shuffles on the group key.

    Returns ``(<group_cols>, bucket, n_old, n_new, p_old, p_new,
    psi_contrib)`` per non-empty (group, bucket).
    """
    _require_keys(group_cols, "psi_drift_by", "psi_drift")
    assert 2 <= n_buckets <= 10_000
    return _psi(old, new, col, group_cols, n_buckets, eps)


# ------------------------------------------------------------------ auc


def _auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: list[str],
    op_name: str,
    n_parts: int | None = None,
) -> DataFrame:
    y = _label_01_checked(label_col, op_name)
    counts = (
        df.filter(_not_null(score_col, label_col, *keys))
        .groupBy(*keys, F.col(score_col).alias("v_"))
        .agg(F.count("*").alias("_ct"), F.sum(y).alias("_cp"))
    )
    m, t = _cumulate(counts, keys, "v_", ["_ct", "_cp"], n_parts)
    # 2R+ <= n_pos*(2*n_tot + 1): n_pos*n_tot < 2^61 keeps it (and the
    # 2*n_pos*n_neg denominator) in BIGINT
    cp = _bound(
        F.col("_cp"),
        lambda g: g("_tot__ct") <= _div((1 << 61) - 1, _max1(g("_tot__cp"))),
        t,
        f"{op_name}: 2*n_pos*n_tot exceeds the BIGINT rank-statistic "
        "domain (2^62) — sample a class or pre-quantize the score "
        "(operators/profile.py)",
    )
    # exclusive cumulative count C = inclusive - own
    excl = F.col("_cum__ct") - F.col("_ct")
    scored = m.select(
        *keys,
        (cp * (F.lit(2) * excl + F.col("_ct") + F.lit(1))).alias("_term"),
        "_tot__ct",
        "_tot__cp",
    )
    out = scored.groupBy(*keys).agg(
        F.max("_tot__cp").alias("n_pos"),
        (F.max("_tot__ct") - F.max("_tot__cp")).alias("n_neg"),
        F.sum("_term").alias("rank_sum_pos_x2"),
    )
    # branch on the denominator 2*n_pos*n_neg
    ppm = F.expr(
        "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL"
        f"     WHEN 2 * n_pos * n_neg <= {_EXACT}"
        "     THEN (1000000 * (rank_sum_pos_x2 - n_pos * (n_pos + 1)))"
        "          div (2 * n_pos * n_neg)"
        "     ELSE (rank_sum_pos_x2 - n_pos * (n_pos + 1))"
        "          div ((2 * n_pos * n_neg) div 1000000) END"
    )
    return out.select(
        *keys,
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("rank_sum_pos_x2").cast("long").alias("rank_sum_pos_x2"),
        ppm.cast("long").alias("auc_ppm"),
    )


def auc_mann_whitney(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """EXACT ROC-AUC via the Mann–Whitney U rank statistic — the
    classifier-quality twin of :func:`ks_drift` (same value-domain
    decomposition, same range-partition machinery): AUC is the
    probability a random positive outranks a random negative,
    ``(R⁺ − n₊(n₊+1)/2) / (n₊·n₋)`` with R⁺ the rank-sum of positives
    under AVERAGE ranks for ties — the standard tie-corrected
    definition, equal to (concordant + ties/2)/total pairs.

    EXACT cross-engine in pure BIGINTs: group the relation by DISTINCT
    SCORE VALUE (c_tot(v) rows, c_pos(v) positives per value), take the
    EXCLUSIVE cumulative count C(v) over the value order, and note the
    tie-averaged rank of every row at value v is
    ``C(v) + (c_tot(v)+1)/2`` — so the DOUBLED rank-sum
    ``2·R⁺ = Σ_v c_pos(v)·(2·C(v) + c_tot(v) + 1)`` is an integer and
    no half ever materializes.  ``auc_ppm`` is ONE terminal floored
    division branching on the denominator ``2·n₊·n₋``: below 9e12 it
    scales the numerator by 10⁶ exactly, above it divides first — same
    law in the oracle.  Validity bound ``n₊·n_tot < 2^61`` (it keeps
    2·R⁺ itself in BIGINT).  ``label_col`` must be 0/1 (named in-plan
    assert).

    Plan shape: one per-value count aggregate (output = the score's
    value domain), cumulative counts on the range-partitioned
    :func:`_cumulate`, one 1-row sum.  Output does not depend on
    ``n_parts``.

    Returns ONE row ``(n_pos, n_neg, rank_sum_pos_x2, auc_ppm)``;
    ``auc_ppm`` is NULL when either class is empty.  Twin:
    :func:`auc_by`.
    """
    return _auc(df, score_col, label_col, [], "auc_mann_whitney", n_parts)


def auc_by(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`auc_mann_whitney` (twin contract in the module
    docstring) — production classifier evaluation is per slice: a score
    that ranks well globally can invert on a minority segment.
    One-class groups report ``auc_ppm = NULL``.

    Returns ``(<group_cols>, n_pos, n_neg, rank_sum_pos_x2, auc_ppm)``
    per group.
    """
    _require_keys(group_cols, "auc_by", "auc_mann_whitney")
    return _auc(df, score_col, label_col, group_cols, "auc_by")


# ------------------------------------------------------------------- ks


def _ks(
    old: DataFrame,
    new: DataFrame,
    col: str,
    keys: list[str],
    op_name: str,
    n_parts: int | None = None,
) -> DataFrame:
    counts = _two_sided_counts(old, new, keys, F.col(col))
    m, t = _cumulate(counts, keys, "v_", ["_c1", "_c2"], n_parts)
    n2 = _bound(
        F.col("_tot__c2"),
        lambda g: g("_tot__c2") <= _div(_BIGINT_MAX, _max1(g("_tot__c1"))),
        t,
        f"{op_name}: n1*n2 exceeds the BIGINT cross-multiplication "
        "domain (2^63) — pre-quantize the column (psi_drift-style "
        "bucketing) or sample a side (operators/profile.py)",
    )
    scored = m.select(
        *keys,
        "v_",
        F.abs(F.col("_cum__c1") * n2 - F.col("_cum__c2") * F.col("_tot__c1"))
        .alias("_d"),
        "_tot__c1",
        "_tot__c2",
    )
    out = scored.groupBy(*keys).agg(
        F.max("_tot__c1").alias("n_old"),
        F.max("_tot__c2").alias("n_new"),
        F.max("_d").alias("d_num"),
        # smallest value attaining the max: negate the score, never the
        # value (any orderable type)
        F.min_by(
            "v_", F.struct((-F.col("_d")).alias("nd"), F.col("v_"))
        ).alias("at_value"),
    )
    # branch on the denominator n1*n2
    ppm = F.expr(
        "CASE WHEN n_old <= 0 OR n_new <= 0 THEN NULL"
        f"     WHEN n_old * n_new <= {_EXACT}"
        "     THEN (1000000 * d_num) div (n_old * n_new)"
        "     ELSE d_num div ((n_old * n_new) div 1000000) END"
    )
    return out.select(
        *keys,
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("d_num").cast("long").alias("d_num"),
        ppm.cast("long").alias("ks_ppm"),
        "at_value",
    )


def ks_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between two
    snapshots of a numeric column — the distribution-free drift test
    next to :func:`psi_drift`'s bucketed PSI: no binning choice, no
    smoothing epsilon, and sensitive to shifts PSI's ten equi-width
    buckets wash out.  ``D = max_v |F_old(v) − F_new(v)|``.

    EXACT cross-engine by integer CROSS-MULTIPLICATION: with cumulative
    counts ``c1(v), c2(v)`` and totals ``n1, n2``, the statistic
    compares ``|c1·n2 − c2·n1|`` — pure BIGINT, no ratio ever
    materializes, so engines can never split on a division ulp.  Valid
    while ``n1·n2 < 2^63`` (~3e9 rows per side).  ``ks_ppm`` is the
    single terminal division, floored the same way on both engines and
    branching on the denominator so the ``10⁶·d`` numerator cannot
    overflow: below 9e12 pair-products it is ``(10⁶·d) div (n1·n2)``
    exactly, above it ``d div ((n1·n2) div 10⁶)`` — same law in the
    oracle.

    Plan shape: one per-value count aggregate per snapshot (map-side
    combinable, output = the column's VALUE DOMAIN), a full-outer join
    on the value, then cumulative counts via the range-partitioned
    :func:`_cumulate`: range-partition the merged domain on the value,
    per-partition running sums, and ONE dimension-sized driver collect
    of per-partition subtotals (``n_parts`` rows, two longs each) whose
    prefix sums become literal offsets and whose sums are ``n1``/``n2``.
    On a near-distinct continuous column (value domain ≈ row count) no
    single core ever sorts the whole relation, and the output is
    identical for ANY ``n_parts`` (default:
    ``spark.sql.shuffle.partitions``; each range partition must fit
    one task's sort).

    Returns ONE row: ``(n_old, n_new, d_num, ks_ppm, at_value)`` where
    ``d_num = max |c1·n2 − c2·n1|``, ``ks_ppm = 10⁶·d_num div (n1·n2)``
    and ``at_value`` is the smallest value attaining the max (the drift
    location, deterministic under ties).  Twin: :func:`ks_drift_by`.
    """
    return _ks(old, new, col, [], "ks_drift", n_parts)


def ks_drift_by(
    old: DataFrame,
    new: DataFrame,
    col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`ks_drift` (twin contract in the module
    docstring): one D statistic per segment / arm / source.  The
    cumulation is a group-partitioned window, so one group's value
    domain must fit one task's sort; for a single segment with an
    unbounded near-distinct domain run :func:`ks_drift` on that
    segment's filter.  The count aggregate, both windows and the final
    ``groupBy(group)`` share one group-key exchange.

    Returns ``(<group_cols>, n_old, n_new, d_num, ks_ppm, at_value)``
    per group.
    """
    _require_keys(group_cols, "ks_drift_by", "ks_drift")
    return _ks(old, new, col, group_cols, "ks_drift_by")


# ------------------------------------------------------------------ tvd


def _tvd(counts: DataFrame, keys: list[str], op_name: str) -> DataFrame:
    m, _ = _cumulate(counts, keys, None, ["_c1", "_c2"])
    # 2*n1*n2 < 2^63 bounds every term and their sum
    n2 = _bound(
        F.col("_tot__c2"),
        lambda g: g("_tot__c2") <= _div((1 << 62) - 1, _max1(g("_tot__c1"))),
        None,
        f"{op_name}: 2*n1*n2 exceeds the BIGINT cross-multiplication "
        "domain (2^63) — sample a side (operators/profile.py)",
    )
    scored = m.select(
        *keys,
        "v_",
        F.abs(
            F.col("_c1") * n2 - F.col("_c2") * F.col("_tot__c1")
        ).alias("_d"),
        "_tot__c1",
        "_tot__c2",
    )
    out = scored.groupBy(*keys).agg(
        F.max("_tot__c1").alias("n_old"),
        F.max("_tot__c2").alias("n_new"),
        F.sum("_d").alias("tvd_num"),
        # largest per-category numerator, smallest category on ties
        F.min_by(
            "v_", F.struct((-F.col("_d")).alias("nd"), F.col("v_"))
        ).alias("top_category"),
        F.max("_d").alias("top_num"),
    )
    # branch on the denominator 2*n1*n2
    ppm = F.expr(
        "CASE WHEN n_old = 0 OR n_new = 0 THEN NULL"
        f"     WHEN 2 * n_old * n_new <= {_EXACT}"
        "     THEN (1000000 * tvd_num) div (2 * n_old * n_new)"
        "     ELSE tvd_num div ((2 * n_old * n_new) div 1000000) END"
    )
    return out.select(
        *keys,
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("tvd_num").cast("long").alias("tvd_num"),
        ppm.cast("long").alias("tvd_ppm"),
        "top_category",
        F.col("top_num").cast("long").alias("top_num"),
    )


def tvd_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
) -> DataFrame:
    """Exact total-variation distance between two snapshots of a
    CATEGORICAL column — the drift leg for unordered category domains
    where a CDF (:func:`ks_drift`) is meaningless and PSI's equi-width
    grid does not apply.  ``TVD = ½·Σ_i |p1_i − p2_i|`` (0 = identical
    mixtures, 1 = disjoint support) — the standard categorical drift
    monitor for a corpus mixture (language / source / license shares)
    before a retrain.

    EXACT cross-engine in pure BIGINTs (the ks_drift law): with
    per-category counts ``c1_i, c2_i`` and totals ``n1, n2``,
    ``TVD = Σ_i |c1_i·n2 − c2_i·n1| / (2·n1·n2)`` — no ratio ever
    materializes.  Each term is ≤ n1·n2 and the sum ≤ 2·n1·n2, so the
    validity bound is ``2·n1·n2 < 2^63`` (a named in-plan assert).
    ``tvd_ppm`` is one terminal floored division branching on the
    denominator: below 9e12 ``(10⁶·num) div (2·n1·n2)`` exactly, above
    it ``num div ((2·n1·n2) div 10⁶)``.

    Plan shape: one map-side-combinable count aggregate per snapshot
    (output = the CATEGORY DOMAIN), a full-outer join on the category,
    the totals as a 1-row aggregate broadcast back, and one scalar
    aggregate.  No window, no driver action, no persist.

    Returns ONE row ``(n_old, n_new, tvd_num, tvd_ppm, top_category,
    top_num)`` where ``tvd_num = Σ|c1·n2 − c2·n1|`` and
    ``top_category`` is the category with the largest per-category
    numerator (smallest category on ties).  Twin: :func:`tvd_drift_by`.
    """
    cat = F.col(col).cast("string")
    return _tvd(_two_sided_counts(old, new, [], cat), [], "tvd_drift")


def tvd_drift_by(
    old: DataFrame,
    new: DataFrame,
    col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`tvd_drift` (twin contract in the module
    docstring) — one TVD per language / source / experiment arm, not
    one global number that averages a localized shift away.  Groups
    present on one side only report ``tvd_ppm = NULL``.  The shuffle
    carries at most |groups|·|domain| partial counters per task.

    Returns ``(<group_cols>, n_old, n_new, tvd_num, tvd_ppm,
    top_category, top_num)`` per group.
    """
    _require_keys(group_cols, "tvd_drift_by", "tvd_drift")
    cat = F.col(col).cast("string")
    counts = _two_sided_counts(old, new, group_cols, cat)
    return _tvd(counts, group_cols, "tvd_drift_by")


# ---------------------------------------------------------- wasserstein


def _w1(
    old: DataFrame,
    new: DataFrame,
    col: str,
    keys: list[str],
    op_name: str,
    n_parts: int | None = None,
) -> DataFrame:
    counts = _two_sided_counts(old, new, keys, F.col(col).cast("long"))
    m, t = _cumulate(counts, keys, "v_", ["_c1", "_c2"], n_parts, lead=True)
    # one-sided keys short-circuit: every term is then provably 0 and
    # the output NULL, so a wide range there must not raise
    n2 = _bound(
        F.col("_tot__c2"),
        lambda g: (g("_tot__c1") == 0)
        | (g("_tot__c2") == 0)
        | (
            (g("_tot_span") <= _EXACT)
            & (
                g("_tot__c2")
                <= _div(
                    _div(_BIGINT_MAX, _max1(g("_tot_span"))),
                    _max1(g("_tot__c1")),
                )
            )
        ),
        t,
        f"{op_name}: n1*n2*range exceeds the BIGINT integration domain "
        "(2^63), or the value range exceeds the exact micro-unit output "
        "domain (9e12) — pre-quantize the column to coarser units "
        "(operators/profile.py)",
    )
    gap = F.coalesce(F.col("_next") - F.col("v_"), F.lit(0))
    scored = m.select(
        *keys,
        (
            F.abs(
                F.col("_cum__c1") * n2 - F.col("_cum__c2") * F.col("_tot__c1")
            )
            * gap
        ).alias("_term"),
        "_tot__c1",
        "_tot__c2",
    )
    out = scored.groupBy(*keys).agg(
        F.max("_tot__c1").alias("n_old"),
        F.max("_tot__c2").alias("n_new"),
        F.sum("_term").alias("emd_num"),
    )
    # decomposed EXACT floor(10^6*e/d) below 9e12 pair-products: both
    # addends fit (e div d <= range <= 9e12, e mod d < d <= 9e12); the
    # naive 10^6*e scaling would overflow once e > 9e12.  Above it the
    # floored-divisor law (divisor >= 9e6)
    micro = F.expr(
        "CASE WHEN n_old <= 0 OR n_new <= 0 THEN NULL"
        f"     WHEN n_old * n_new <= {_EXACT}"
        "     THEN 1000000 * (emd_num div (n_old * n_new))"
        "          + (1000000 * (emd_num % (n_old * n_new)))"
        "            div (n_old * n_new)"
        "     ELSE emd_num div ((n_old * n_new) div 1000000) END"
    )
    return out.select(
        *keys,
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("emd_num").cast("long").alias("emd_num"),
        micro.cast("long").alias("emd_micro"),
    )


def wasserstein_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between two snapshots
    of an integral numeric column: where :func:`ks_drift` reports the
    sup-norm CDF gap (insensitive to HOW FAR the mass moved), W₁
    integrates it over the value domain, ``W₁ = ∫ |F_old − F_new| dv``
    — the drift monitor that distinguishes "1% of prices shifted one
    cent" from "1% of prices shifted 10⁴×".

    EXACT cross-engine in pure BIGINTs (the ks_drift law extended by
    the domain measure): with cumulative counts ``c1(v), c2(v)``,
    totals ``n1, n2`` and consecutive distinct values ``v_i``,
    ``emd_num = Σ_i |c1(v_i)·n2 − c2(v_i)·n1| · (v_{i+1} − v_i)`` and
    ``W₁ = emd_num / (n1·n2)`` — reported as ``emd_micro`` (micro
    value-units) by the decomposed exact division.  ``col`` is cast to
    BIGINT (pre-quantize).  Validity: ``n1·n2·(v_max − v_min) < 2^63``
    and a range ≤ 9e12 (so the micro-unit output fits), unless one side
    is empty.

    Plan shape: the :func:`ks_drift` pipeline plus one per-range
    ``lead(v)`` whose partition-boundary default is the NEXT
    partition's first value (one more dimension-sized collect of
    per-partition extents); the last value's term is provably zero
    (both CDFs are 1 there).

    Returns ONE row ``(n_old, n_new, emd_num, emd_micro)``.  Twin:
    :func:`wasserstein_drift_by`.
    """
    return _w1(old, new, col, [], "wasserstein_drift", n_parts)


def wasserstein_drift_by(
    old: DataFrame,
    new: DataFrame,
    col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`wasserstein_drift` (twin contract in the module
    docstring): the magnitude-sensitive drift monitor per segment, where
    :func:`ks_drift_by` reports only the sup-norm gap.  One-sided groups
    report ``emd_micro = NULL``.  One group's value domain must fit one
    task's sort.

    Returns ``(<group_cols>, n_old, n_new, emd_num, emd_micro)`` per
    group.
    """
    _require_keys(group_cols, "wasserstein_drift_by", "wasserstein_drift")
    return _w1(old, new, col, group_cols, "wasserstein_drift_by")


# ----------------------------------------------------------------- gini


def _gini(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    op_name: str,
    n_parts: int | None = None,
) -> DataFrame:
    x = F.col(value_col).cast("long")
    checked = F.when(x >= 0, x).otherwise(
        F.assert_true(
            x >= 0,
            F.lit(
                f"{op_name}: {value_col} is negative — Gini is defined "
                "for nonnegative values only (operators/profile.py)"
            ),
        ).cast("long")
    )
    counts = (
        df.filter(_not_null(value_col, *keys))
        .select(*keys, checked.alias("v_"))
        .groupBy(*keys, "v_")
        .agg(F.count("*").alias("_c"), F.sum("v_").alias("_s"))
    )
    m, t = _cumulate(counts, keys, "v_", ["_c", "_s"], n_parts)
    # each trapezoid term 2*c*S is bounded by 2*n*T
    c = _bound(
        F.col("_c"),
        lambda g: g("_tot__c") <= _div((1 << 62) - 1, _max1(g("_tot__s"))),
        t,
        f"{op_name}: 2*n*T exceeds the BIGINT Lorenz domain (2^63) — "
        "pre-quantize the column to coarser units (operators/profile.py)",
    )
    scored = m.select(
        *keys,
        (
            F.lit(2) * c * F.col("_cum__s")
            - F.col("_c") * F.col("_c") * F.col("v_")
        ).alias("_b"),
        "_tot__c",
        "_tot__s",
    )
    out = scored.groupBy(*keys).agg(
        F.max("_tot__c").alias("n_rows"),
        F.max("_tot__s").alias("total"),
        F.sum("_b").alias("_B"),
    )
    return out.select(
        *keys,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("total").cast("long").alias("total"),
        F.expr("CAST(n_rows * total - _B AS BIGINT)").alias("gini_num"),
        # branch on the denominator n*T
        F.expr(
            "CAST(CASE WHEN n_rows * total <= 0 THEN NULL"
            f"          WHEN n_rows * total <= {_EXACT}"
            "          THEN (1000000 * (n_rows * total - _B))"
            "               div (n_rows * total)"
            "          ELSE (n_rows * total - _B)"
            "               div ((n_rows * total) div 1000000)"
            "     END AS BIGINT)"
        ).alias("gini_ppm"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact Gini concentration coefficient of a NONNEGATIVE integral
    column — the inequality/concentration monitor (how concentrated is
    revenue over customers, tokens over documents, traffic over keys):
    0 = perfectly uniform, →1 = one row holds everything.

    EXACT in pure BIGINTs via the grouped Lorenz trapezoid: with
    per-value counts ``c(v)``, value sums ``s(v) = c·v``, INCLUSIVE
    cumulative sum ``S(v)``, total count ``n`` and total sum ``T``,
    the Lorenz area term is ``B = Σ_v (2·c·S − c²·v)`` (the tied-group
    trapezoid collapses to inclusive cumulatives — no prev-row
    needed) and ``gini_ppm = 10⁶·(n·T − B) div (n·T)``, branching on
    the denominator ``n·T`` at 9e12.  Validity ``2·n·T < 2^63``;
    negative values raise the named in-plan assert (Gini is undefined
    below zero).

    Plan shape: one map-combinable per-value count/sum aggregate
    (output = the value domain), the range-partitioned cumulation, one
    scalar aggregate.

    Returns ONE row ``(n_rows, total, gini_num, gini_ppm)``.  Twin:
    :func:`gini_by`.
    """
    return _gini(df, value_col, [], "gini_coefficient", n_parts)


def gini_by(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`gini_coefficient` (twin contract in the module
    docstring): revenue concentration per market segment, token
    concentration per language.  One group's value domain must fit one
    task's sort.

    Returns ``(<group_cols>, n_rows, total, gini_num, gini_ppm)`` per
    group.
    """
    _require_keys(group_cols, "gini_by", "gini_coefficient")
    return _gini(df, value_col, group_cols, "gini_by")


# ---------------------------------------------------------- calibration


def _calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: list[str],
    n_bins: int,
    op_name: str,
) -> DataFrame:
    assert 2 <= n_bins <= 10_000
    y = _label_01_checked(label_col, op_name)
    rows = df.filter(_not_null(score_col, label_col, *keys)).select(
        *keys, F.col(score_col).cast("long").alias("_s"), y.alias("_y")
    )
    ext = rows.groupBy(*keys).agg(
        F.min("_s").alias("_lo"), F.max("_s").alias("_hi")
    )
    # every bin product (bin+1)*(hi-lo) <= n_bins*(hi-lo) stays in BIGINT
    lo = _bound(
        F.col("_lo"),
        lambda g: g("_hi") - g("_lo") <= _BIGINT_MAX // n_bins,
        None,
        f"{op_name}: (hi-lo)*n_bins exceeds the BIGINT binning domain "
        "(2^63) — pre-quantize the score (operators/profile.py)",
    )
    b = F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.expr(f"((_s - _lo) * {n_bins}) div (_hi - _lo)"),
            F.lit(n_bins - 1),
        ).cast("long")
    )
    out = (
        _with_key_rows(rows, ext, keys)
        .withColumn("_lo", lo)
        .select(*keys, b.alias("bin"), "_y", "_lo", "_hi")
        .groupBy(*keys, "bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("_y").alias("n_pos"),
            F.max("_lo").alias("_lo"),
            F.max("_hi").alias("_hi"),
        )
    )
    # bin bounds are the bucket law's TRUE integer preimage: bucket(s)
    # >= k  <=>  (s-lo)*n_bins >= k*rng  <=>  s >= lo + ceil(k*rng/n),
    # so lo_k uses CEIL; the last bin's hi is the true max (closed)
    bin_lo = F.expr(f"_lo + (bin * (_hi - _lo) + {n_bins - 1}) div {n_bins}")
    bin_hi = F.when(F.col("bin") == F.lit(n_bins - 1), F.col("_hi")).otherwise(
        F.expr(f"_lo + ((bin + 1) * (_hi - _lo) + {n_bins - 1}) div {n_bins}")
    )
    return out.select(
        *keys,
        F.col("bin").cast("long").alias("bin"),
        bin_lo.cast("long").alias("bin_lo"),
        bin_hi.cast("long").alias("bin_hi"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        # branch on the numerator n_pos: n >= n_pos, so past 9e12
        # positives the divisor (n div 10^6) is >= 9e6 — always valid
        F.expr(
            f"CAST(CASE WHEN n_pos <= {_EXACT}"
            "          THEN (1000000 * n_pos) div n"
            "          ELSE n_pos div (n div 1000000) END AS BIGINT)"
        ).alias("pos_ppm"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability / response-rate table — the DIAGNOSTIC sibling of
    :func:`auc_mann_whitney` (AUC collapses ranking quality to one
    number; this shows WHERE the score is miscalibrated): the score's
    observed range is split into ``n_bins`` equal-width bins and each
    bin reports its positive rate — for a probability-like score the
    calibration diagram (compare ``pos_ppm`` to the bin midpoint), for
    an arbitrary score the monotonicity/response curve.

    EXACT cross-engine in pure BIGINTs: ``score_col`` must be integral;
    the bin index is ``min(((s − lo)·n_bins) div (hi − lo), n_bins−1)``
    over the observed extent, and ``pos_ppm`` is one terminal floored
    division branching on the numerator (below 9e12 positives
    ``(10⁶·n_pos) div n`` exactly, above it ``n_pos div (n div 10⁶)``).
    ``label_col`` must be 0/1 (named in-plan assert).  A constant score
    (hi == lo) collapses everything into bin 0; the
    ``(hi − lo)·n_bins < 2^63`` domain is a named in-plan assert.

    Plan shape: one 1-row extent aggregate broadcast back, then ONE
    map-side combinable ``groupBy(bin)`` whose output is ≤ n_bins rows.
    Empty bins do not appear (the SQL-oracle convention).

    Returns ``(bin, bin_lo, bin_hi, n, n_pos, pos_ppm)`` where
    ``[bin_lo, bin_hi)`` are the bin's value bounds (last bin closed).
    Twin: :func:`calibration_bins_by`.
    """
    return _calibration(
        df, score_col, label_col, [], n_bins, "calibration_bins"
    )


def calibration_bins_by(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str],
    n_bins: int = 10,
) -> DataFrame:
    """Per-group :func:`calibration_bins` (twin contract in the module
    docstring): each group's bins span ITS observed ``[lo, hi]`` — the
    slice where a globally-calibrated model breaks.  The per-group
    extents (|groups| rows) are broadcast back; no row ever shuffles on
    the group key.

    Returns ``(<group_cols>, bin, bin_lo, bin_hi, n, n_pos, pos_ppm)``
    per non-empty (group, bin).
    """
    _require_keys(group_cols, "calibration_bins_by", "calibration_bins")
    return _calibration(
        df, score_col, label_col, group_cols, n_bins, "calibration_bins_by"
    )


# ---------------------------------------------------------------- cusum


def _cusum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    keys: list[str],
    op_name: str,
    n_parts: int | None = None,
) -> DataFrame:
    x = F.col(value_col).cast("long")
    counts = (
        df.filter(_not_null(order_col, value_col, *keys))
        .groupBy(*keys, F.col(order_col).alias("v_"))
        .agg(
            F.count("*").alias("_c"),
            F.sum(x).alias("_s"),
            F.sum(F.abs(x)).alias("_a"),
        )
    )
    m, t = _cumulate(counts, keys, "v_", ["_c", "_s", "_a"], n_parts)
    # each scan term |n*S - c*T| is bounded by 2*n*sum|x|
    n = _bound(
        F.col("_tot__c"),
        lambda g: g("_tot__c") <= _div(_BIGINT_MAX // 2, _max1(g("_tot__a"))),
        t,
        f"{op_name}: 2*n*sum(|x|) exceeds the BIGINT scan domain (2^63) — "
        "pre-quantize the value column to coarser units "
        "(operators/profile.py)",
    )
    scored = m.select(
        *keys,
        "v_",
        F.abs(
            n * F.col("_cum__s") - F.col("_cum__c") * F.col("_tot__s")
        ).alias("_d"),
        "_tot__c",
        "_tot__s",
        "_tot__a",
    )
    out = scored.groupBy(*keys).agg(
        F.max("_tot__c").alias("n_rows"),
        F.max("_tot__s").alias("total"),
        F.max("_tot__a").alias("_aa"),
        F.max("_d").alias("cusum_num"),
        # smallest boundary attaining the max: negate the score, never
        # the order value (it may be a date/timestamp)
        F.min_by(
            "v_", F.struct((-F.col("_d")).alias("nd"), F.col("v_"))
        ).alias("at_value"),
    )
    # branch on the numerator: cusum_num <= 2*n*sum|x| keeps the divisor
    # past 9e12 at >= 4.5e6 — never zero
    micro = F.expr(
        "CASE WHEN n_rows * _aa = 0 THEN NULL"
        f"     WHEN cusum_num <= {_EXACT}"
        "     THEN (1000000 * cusum_num) div (n_rows * _aa)"
        "     ELSE cusum_num div ((n_rows * _aa) div 1000000) END"
    )
    return out.select(
        *keys,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("total").cast("long").alias("total"),
        F.col("cusum_num").cast("long").alias("cusum_num"),
        micro.cast("long").alias("cusum_micro"),
        "at_value",
    )


def cusum_changepoint(
    df: DataFrame,
    order_col: str,
    value_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact CUSUM change-point scan over an ordered integral series —
    the WITHIN-series complement of the drift family (psi/ks/tvd/w1
    compare two snapshots; this finds WHERE a single series' mean
    shifted): the classic at-most-one-change statistic
    ``max_t |S(t) − (t/n)·T|`` (cumulative sum minus its expected
    share under no change — Page 1954; the first split of binary
    segmentation), maximized over every prefix boundary.

    EXACT cross-engine in pure BIGINTs by clearing the ratio: the
    reported ``cusum_num = max_t |n·S(t) − c(t)·T|`` (n rows total, T
    total sum, S/c inclusive cumulative sum/count per distinct order
    value — ties group first, so the scan is over DISTINCT boundaries
    and order-insensitive).  ``at_value`` is the smallest boundary
    attaining the max (the change location).  The normalized
    ``cusum_micro = 10⁶·cusum_num div (n·Σ|x|)`` (NULL when all values
    are zero) normalizes by the scan's own bound and branches on the
    NUMERATOR.  Validity ``2·n·(Σ|x|) < 2^63``.

    Plan shape: one per-boundary count/sum aggregate (output = the
    order domain), the range-partitioned cumulation, one scalar
    aggregate.

    Returns ONE row ``(n_rows, total, cusum_num, cusum_micro,
    at_value)``.  Twin: :func:`cusum_by`.
    """
    return _cusum(df, order_col, value_col, [], "cusum_changepoint", n_parts)


def cusum_by(
    df: DataFrame,
    order_col: str,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-key :func:`cusum_changepoint` (twin contract in the module
    docstring) — one change-point statistic per metric / series / KPI
    in a single scan.  One group's order domain (the series length)
    must fit one task's sort.

    Returns ``(<group_cols>, n_rows, total, cusum_num, cusum_micro,
    at_value)`` per group.
    """
    _require_keys(group_cols, "cusum_by", "cusum_changepoint")
    return _cusum(df, order_col, value_col, group_cols, "cusum_by")


# ----------------------------------------------------------------- chi2


def _chi2(
    old: DataFrame, new: DataFrame, col: str, keys: list[str], op_name: str
) -> DataFrame:
    counts = _two_sided_counts(old, new, keys, F.col(col).cast("string"))
    m, _ = _cumulate(counts, keys, None, ["_c1", "_c2"])
    n2 = _bound(
        F.col("_tot__c2"),
        lambda g: g("_tot__c2") <= _div(_BIGINT_MAX, _max1(g("_tot__c1"))),
        None,
        f"{op_name}: n1*n2 exceeds the BIGINT cross-multiplication domain "
        "(2^63) — sample a side (operators/profile.py)",
    )
    d = F.abs(F.col("_c1") * n2 - F.col("_c2") * F.col("_tot__c1"))
    # EXACT int64 numerator, then the float law: each operand is one
    # correctly-rounded int64->double conversion and the expression
    # tree is replicated verbatim in the oracle
    contrib = F.when(
        (F.col("_tot__c1") == 0) | (F.col("_tot__c2") == 0),
        F.lit(None).cast("double"),
    ).otherwise(
        F.round(
            (F.col("d") / F.col("_tot__c1"))
            * (F.col("d") / F.col("_tot__c2"))
            / (F.col("_c1") + F.col("_c2")),
            9,
        )
    )
    return m.withColumn("d", d.cast("long")).select(
        *keys,
        F.col("v_").alias("cat"),
        F.col("_c1").cast("long").alias("n_old"),
        F.col("_c2").cast("long").alias("n_new"),
        "d",
        contrib.alias("chi2_contrib"),
    )


def chi2_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
) -> DataFrame:
    """Pearson chi-square homogeneity diagram between two snapshots of
    a CATEGORICAL column — the SIGNIFICANCE leg of the categorical
    drift pair: :func:`tvd_drift` reports effect SIZE, chi-square
    reports whether the gap is explainable by sampling noise at the
    observed counts (the classic 2×K contingency test; compare Σ
    contributions against the chi-square critical value at K−1 dof).
    A 0.1%-TVD shift is noise at n = 10³ and a five-sigma alarm at
    n = 10⁹ — monitoring needs both numbers.

    Law: with per-category counts ``c1, c2`` and totals ``n1, n2``,
    the 2×K homogeneity statistic decomposes per category as
    ``X² = Σ_cat D²/(s·n1·n2)`` where ``D = c1·n2 − c2·n1`` and
    ``s = c1 + c2``.  ``D`` is EXACT BIGINT under the validity bound
    ``n1·n2 < 2^63`` (a named in-plan assert); ``chi2_contrib =
    (D/n1)·(D/n2)/s`` evaluates in doubles with that exact integer
    numerator, the identical expression tree cross-engine, rounded to
    9.  The scalar X² is the caller's sum, so no cross-partition float
    summation happens inside the engine.

    Plan shape: :func:`tvd_drift`'s — per-snapshot count aggregates
    over the category domain, a full-outer join, the totals as a 1-row
    aggregate broadcast back.

    One side empty → ``chi2_contrib`` NULL (the test is undefined).
    Returns per-category rows ``(cat, n_old, n_new, d, chi2_contrib)``
    where ``d = |D|``.  Twin: :func:`chi2_drift_by`.
    """
    return _chi2(old, new, col, [], "chi2_drift")


def chi2_drift_by(
    old: DataFrame,
    new: DataFrame,
    col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`chi2_drift` (twin contract in the module
    docstring): one significance test per language / source /
    experiment arm.  Groups present on one side only report
    ``chi2_contrib`` NULL.

    Returns ``(<group_cols>, cat, n_old, n_new, d, chi2_contrib)`` per
    (group, category).
    """
    _require_keys(group_cols, "chi2_drift_by", "chi2_drift")
    return _chi2(old, new, col, group_cols, "chi2_drift_by")


# ------------------------------------------------------------------ jsd


def _jsd(
    old: DataFrame, new: DataFrame, col: str, keys: list[str]
) -> DataFrame:
    counts = _two_sided_counts(old, new, keys, F.col(col).cast("string"))
    m, _ = _cumulate(counts, keys, None, ["_c1", "_c2"])
    p = F.col("_c1") / F.col("_tot__c1")
    q = F.col("_c2") / F.col("_tot__c2")
    t1 = F.when(F.col("_c1") == 0, F.lit(0.0)).otherwise(
        p * F.log(F.lit(2.0) * p / (p + q))
    )
    t2 = F.when(F.col("_c2") == 0, F.lit(0.0)).otherwise(
        q * F.log(F.lit(2.0) * q / (p + q))
    )
    undefined = (F.col("_tot__c1") == 0) | (F.col("_tot__c2") == 0)
    return m.select(
        *keys,
        F.col("v_").alias("cat"),
        F.col("_c1").cast("long").alias("n_old"),
        F.col("_c2").cast("long").alias("n_new"),
        F.when(undefined, F.lit(None).cast("double"))
        .otherwise(F.round(p, 9))
        .alias("p_old"),
        F.when(undefined, F.lit(None).cast("double"))
        .otherwise(F.round(q, 9))
        .alias("p_new"),
        F.when(undefined, F.lit(None).cast("double"))
        .otherwise(F.round((t1 + t2) / F.lit(2.0), 9))
        .alias("jsd_contrib"),
    )


def jsd_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
) -> DataFrame:
    """Jensen–Shannon divergence diagram between two snapshots of a
    CATEGORICAL column — the BOUNDED information-theoretic drift leg:
    where :func:`psi_drift` needs a zero-bucket smoothing epsilon
    (PSI's log-ratio diverges on any category one side lacks) and is
    unbounded, JSD is finite BY CONSTRUCTION on disjoint supports
    (``p·ln(2p/(p+q))`` vanishes where p = 0, no epsilon anywhere) and
    lives in ``[0, ln 2]`` — the metric to alert on when new corpus
    drops routinely introduce brand-new categories.

    Law: with proportions ``p = c1/n1, q = c2/n2`` (doubles from EXACT
    BIGINT counts), ``jsd_contrib = (p·ln(2p/(p+q)) +
    q·ln(2q/(p+q)))/2`` with each term CASE-zeroed when its count is 0
    (the 0·ln0 := 0 limit made explicit, never an epsilon).  The
    expression tree is replicated verbatim in the oracle, rounded to
    9.  Σ contribs = JSD; ``√JSD`` is a metric if a distance is needed.
    No overflow contract: nothing cross-multiplies counts.

    Plan shape: :func:`tvd_drift`'s.  One side empty → NULL
    proportions and ``jsd_contrib``.

    Returns per-category rows ``(cat, n_old, n_new, p_old, p_new,
    jsd_contrib)``.  Twin: :func:`jsd_drift_by`.
    """
    return _jsd(old, new, col, [])


def jsd_drift_by(
    old: DataFrame,
    new: DataFrame,
    col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group :func:`jsd_drift` (twin contract in the module
    docstring): one bounded, epsilon-free divergence per language /
    source / experiment arm.

    Returns ``(<group_cols>, cat, n_old, n_new, p_old, p_new,
    jsd_contrib)`` per (group, category).
    """
    _require_keys(group_cols, "jsd_drift_by", "jsd_drift")
    return _jsd(old, new, col, group_cols)


# -------------------------------------------------------------- entropy


def _entropy(df: DataFrame, col: str, keys: list[str]) -> DataFrame:
    counts = (
        df.filter(_not_null(col, *keys))
        .groupBy(*keys, F.col(col).cast("string").alias("_cat"))
        .agg(F.count("*").alias("_c"))
    )
    m, _ = _cumulate(counts, keys, None, ["_c"])
    p = F.col("_c") / F.col("_tot__c")
    return m.select(
        *keys,
        F.col("_cat").alias("cat"),
        F.col("_c").cast("long").alias("n"),
        F.round(p, 9).alias("p"),
        F.round(-(p * F.log(p)), 9).alias("h_contrib"),
    )


def entropy_profile(df: DataFrame, col: str) -> DataFrame:
    """Shannon-entropy diagram of a CATEGORICAL column — the diversity
    profile a curation pipeline reads before mixing sources ("how
    concentrated is the language / license / source mix?"): Σ
    ``h_contrib`` is the entropy in nats, ``ln(n_categories)`` its
    maximum, and the ratio the evenness score.  Complements the drift
    family (tvd/chi2/jsd compare TWO snapshots; entropy scores ONE).

    Law: ``p = c/n`` (doubles from EXACT BIGINT counts), ``h_contrib =
    -(p·ln p)`` — the expression tree replicated verbatim in the
    oracle, rounded to 9.  No epsilon anywhere: observed categories
    have ``c >= 1``; a single-category column emits ``-(1·ln 1) =
    -0.0``, which the oracle comparison canonicalises to ``0.0``
    (``+0.0`` hash normalisation).

    Plan shape: ONE map-side-combinable count aggregate over the
    category domain, its total as a 1-row aggregate broadcast back.

    Returns per-category rows ``(cat, n, p, h_contrib)``.  Twin:
    :func:`entropy_by`.
    """
    return _entropy(df, col, [])


def entropy_by(
    df: DataFrame, col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group :func:`entropy_profile` (twin contract in the module
    docstring): "did any source's language mix collapse to a single
    language?".

    Returns ``(<group_cols>, cat, n, p, h_contrib)`` per (group,
    category).
    """
    _require_keys(group_cols, "entropy_by", "entropy_profile")
    return _entropy(df, col, group_cols)


# ---------------------------------------------------------- mutual info


def _mutual_info(
    df: DataFrame, x_col: str, y_col: str, keys: list[str]
) -> DataFrame:
    cells = (
        df.filter(_not_null(x_col, y_col, *keys))
        .groupBy(
            *keys,
            F.col(x_col).cast("string").alias("x_cat"),
            F.col(y_col).cast("string").alias("y_cat"),
        )
        .agg(F.count("*").alias("_c"))
    )
    m, _ = _cumulate(cells, keys, None, ["_c"])
    nx = F.sum("_c").over(W.partitionBy(*keys, "x_cat"))
    ny = F.sum("_c").over(W.partitionBy(*keys, "y_cat"))
    base = m.select(
        *keys,
        "x_cat",
        "y_cat",
        "_c",
        "_tot__c",
        nx.alias("_nx"),
        ny.alias("_ny"),
    )
    p_xy = F.col("_c") / F.col("_tot__c")
    p_x = F.col("_nx") / F.col("_tot__c")
    p_y = F.col("_ny") / F.col("_tot__c")
    return base.select(
        *keys,
        "x_cat",
        "y_cat",
        F.col("_c").cast("long").alias("n_xy"),
        F.col("_nx").cast("long").alias("n_x"),
        F.col("_ny").cast("long").alias("n_y"),
        F.round(p_xy / (p_x * p_y), 9).alias("lift"),
        F.round(p_xy * F.log(p_xy / (p_x * p_y)), 9).alias("mi_contrib"),
    )


def mutual_info(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Mutual-information diagram between two CATEGORICAL columns —
    the feature-association screen (label leakage, redundant
    features, segment↔outcome dependence) that chi-square significance
    alone does not give: Σ ``mi_contrib`` is I(X;Y) in nats, and the
    per-cell ``lift = p_xy/(p_x·p_y)`` names WHICH (x, y) pair carries
    the dependence (lift ≫ 1: co-occurring; ≪ 1: repelling).

    Law: with EXACT BIGINT marginals ``n_x, n_y`` and cell counts
    ``n_xy`` over total ``n``, proportions go straight to doubles
    (nothing cross-multiplies counts, so no overflow contract) and
    ``mi_contrib = p_xy·ln(p_xy/(p_x·p_y))`` — only OBSERVED cells
    appear (n_xy >= 1), so the 0·ln0 limit never arises; absent cells
    contribute exactly 0.  The expression tree is replicated verbatim
    in the oracle, rounded to 9.

    Plan shape: ONE map-side-combinable (x, y) count aggregate (output
    = |observed cell domain| counter rows), two marginal windows over
    those COUNTERS (per x, per y) and the total as a 1-row aggregate
    broadcast back.

    Returns per-cell rows ``(x_cat, y_cat, n_xy, n_x, n_y, lift,
    mi_contrib)``.  Twin: :func:`mutual_info_by`.
    """
    return _mutual_info(df, x_col, y_col, [])


def mutual_info_by(
    df: DataFrame, x_col: str, y_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group :func:`mutual_info` (twin contract in the module
    docstring): "is the return-flag↔ship-year dependence confined to
    one line status?".

    Returns ``(<group_cols>, x_cat, y_cat, n_xy, n_x, n_y, lift,
    mi_contrib)`` per (group, cell).
    """
    _require_keys(group_cols, "mutual_info_by", "mutual_info")
    return _mutual_info(df, x_col, y_col, group_cols)


def quantiles_by(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: tuple[int, ...] = (25, 50, 75, 95, 99),
) -> DataFrame:
    """Per-GROUP exact discrete quantiles — the production
    latency/size-monitoring shape (one p50/p95/p99 row per endpoint /
    segment / source from ONE pass), joining the per-group suite
    (tvd/ks/gini/auc/w1/psi/calibration/cusum + bootstrap): the global
    :func:`~radohydro_spark.operators.sketch.exact_quantiles` covers
    the single unbounded domain on its two-pass stride machinery; this
    covers MANY groups × bounded per-group domains on the family's
    group-partitioned window pattern.

    EXACT cross-engine in pure BIGINT rank arithmetic — the
    ``percentile_disc`` lower-boundary law: quantile ``q`` (an INTEGER
    percent, 1..100) is the SMALLEST value whose inclusive cumulative
    count satisfies ``100·cum ≥ q·n`` (no interpolation, no float
    rank: both sides integers, so no ulp can move a boundary).  The
    products are bounded by ``100·n < 2^63`` (n per group below 9.2e16
    rows — unreachable).

    NULL group keys and values are EXCLUDED up front (the family
    convention); groups with no rows do not appear.  CONTRACT: one
    group's value domain must fit one task's sort (the per-group
    window trade); a single unbounded domain belongs on the global
    ``exact_quantiles``.

    Plan shape: ONE per-(group, value) count aggregate (map-side
    combinable, output = Σ_g |group g's value domain|), one group-key
    exchange shared by the ordered cumulative window, the totals
    window AND the final ``groupBy(group)`` — every quantile is a
    conditional ``min`` over the same cumulated rows, so adding
    quantiles adds columns, never passes.

    Returns one row per group: ``(<group_cols>, n_rows,
    q<p> ...)`` — one column per requested percent, value-typed.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    if not group_cols:
        raise ValueError(
            "quantiles_by: group_cols is empty — use "
            "sketch.exact_quantiles for the global form "
            "(operators/profile.py)"
        )
    if not qs or not all(
        isinstance(q, int) and 1 <= q <= 100 for q in qs
    ):
        raise ValueError(
            "quantiles_by: qs must be integer percents in 1..100 "
            "(operators/profile.py)"
        )
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*group_cols, F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_c"))
    )
    wg = W.partitionBy(*group_cols)
    wcum = (
        W.partitionBy(*group_cols)
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    base = counts.select(
        *group_cols,
        "_v",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wg).alias("_n"),
    )
    aggs = [F.max("_n").cast("long").alias("n_rows")]
    for q in qs:
        aggs.append(
            F.min(
                F.when(
                    F.lit(100) * F.col("_cum") >= F.lit(q) * F.col("_n"),
                    F.col("_v"),
                )
            ).alias(f"q{q}")
        )
    return base.groupBy(*group_cols).agg(*aggs)


def corr_by(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
    scale_x: int = 100,
    scale_y: int = 100,
) -> DataFrame:
    """Per-group Pearson correlation + OLS fit (y on x) from EXACT
    integer moment sums — the bivariate member of the profiling family
    (zscore_outliers is its univariate sibling and the exactness
    pattern is identical): the feature-drift / leakage screen a
    training pipeline runs per segment ("did the price↔quantity
    relationship invert in this market?", "is this feature suddenly
    correlated with the label in one slice?").

    Exactness across engines (the zscore_outliers law): float sums are
    order-dependent, so NOTHING float is ever aggregated — both
    columns quantize to ``round(v·scale)`` and the five moments
    Σx, Σy, Σx², Σy², Σxy accumulate in wide decimal (Spark
    ``decimal(38,0)``, DuckDB HUGEINT), which cannot lose a unit
    regardless of partial-aggregation order.  ONE correctly-rounded
    cast to double per moment AFTER summing, then the closed-form
    moment formulas evaluate in doubles with the identical expression
    tree cross-engine, rounded to 9:

    * ``var_c = Σx²/n − (Σx/n)²`` (floored at 0), same for y
    * ``cov_c = Σxy/n − (Σx/n)·(Σy/n)``
    * ``corr = cov_c/√(var_x_c·var_y_c)`` — scale-invariant
    * ``slope = (cov_c/var_x_c)·(scale_x/scale_y)``,
      ``intercept = mean_y − slope·mean_x`` (descaled units)

    Validity contract: per-row quantized products must fit the sum
    domains — ``|x_c·y_c| ≤ ~10^18`` per row and every Σ ≤ ~10^38
    (decimal(38,0) / HUGEINT); values need ≤ log10(scale) decimals
    (prices, counts, rates — the zscore_outliers contract).
    Degenerate groups report NULL: ``corr`` when either variance is 0
    (constant column), ``slope/intercept`` when var_x is 0.

    Plan shape: ONE map-side-combinable aggregate over the facts
    (five decimal sums + a count per group — six counters on the
    wire per task per group, never rows); no second pass, no window,
    no collect.  The 100-TB cost is the one groupBy exchange.

    Rows with a NULL group key, x, or y are EXCLUDED up front
    (the family convention — pre-coalesce to track them).

    Returns one row per group: ``(<group_cols>, n, mean_x, mean_y,
    corr, slope, intercept)``.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    if not group_cols:
        raise ValueError(
            "corr_by: group_cols is empty — pass a constant group "
            "for a global fit (operators/profile.py)"
        )
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    xc = F.round(F.col(x_col) * scale_x).cast("decimal(38,0)")
    yc = F.round(F.col(y_col) * scale_y).cast("decimal(38,0)")
    agg = (
        df.filter(keep)
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum(xc).alias("_sx"),
            F.sum(yc).alias("_sy"),
            F.sum(xc * xc).alias("_sxx"),
            F.sum(yc * yc).alias("_syy"),
            F.sum(xc * yc).alias("_sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    mx = sx / nd
    my = sy / nd
    var_x = F.greatest(sxx / nd - mx * mx, F.lit(0.0))
    var_y = F.greatest(syy / nd - my * my, F.lit(0.0))
    cov = sxy / nd - mx * my
    corr = F.when(
        (var_x > 0) & (var_y > 0),
        F.round(cov / F.sqrt(var_x * var_y), 9),
    ).otherwise(F.lit(None).cast("double"))
    slope = cov / var_x * F.lit(float(scale_x) / float(scale_y))
    intercept = my / F.lit(float(scale_y)) - slope * (
        mx / F.lit(float(scale_x))
    )
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.round(mx / F.lit(float(scale_x)), 9).alias("mean_x"),
        F.round(my / F.lit(float(scale_y)), 9).alias("mean_y"),
        corr.alias("corr"),
        F.when(var_x > 0, F.round(slope, 9))
        .otherwise(F.lit(None).cast("double"))
        .alias("slope"),
        F.when(var_x > 0, F.round(intercept, 9))
        .otherwise(F.lit(None).cast("double"))
        .alias("intercept"),
    )


def psi_quantile_bins(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index on REFERENCE-QUANTILE bins — the
    production-standard PSI variant (:func:`psi_drift` bins on the old
    snapshot's equi-width [min, max] grid, which one outlier stretches
    until every row lands in one bucket; the deployed convention bins
    on the old snapshot's DECILES so every reference bucket holds
    ~1/n_bins of the mass and the index is outlier-robust).

    Bin-edge law (EXACT cross-engine, zero interpolation): edge q for
    q = 100·i div n_bins, i = 1..n_bins−1, is the
    ``percentile_disc`` lower boundary — the SMALLEST value whose
    inclusive cumulative count satisfies ``100·cum >= q·n`` (the
    :func:`quantiles_by` BIGINT rank law).  Bucket law: ``bucket(v) =
    Σ_q CASE WHEN v > edge_q THEN 1 ELSE 0`` — pure comparisons, no
    float arithmetic, so tied/duplicate edges (heavy point masses)
    merge buckets deterministically on BOTH engines; NEW values
    beyond the old support clamp into buckets 0 / n_bins−1 by
    construction.  Proportions then follow :func:`psi_drift`'s exact
    float law verbatim (eps-floored, ``(p_old−p_new)·ln(p_old/p_new)``,
    rounded 9).

    NULL values are EXCLUDED on both sides.  Empty OLD snapshot →
    every edge NULL → every row lands in bucket 0 (the CASE law) and
    p_old floors at eps — loud in the diagram, never a crash.

    Plan shape: one value-domain count aggregate on old + one global
    cumulative window over |domain| counters → a 1-row edge struct,
    broadcast-crossJoined onto both sides (map-side bucket, NO
    shuffle of rows on any key) → one ≤ n_bins-row count aggregate
    per side + full-outer join.  At 100 TB the only row-scaling cost
    is the two scans; everything on the wire is counters.

    Returns per-bucket rows ``(bucket, n_old, n_new, p_old, p_new,
    psi_contrib)`` — :func:`psi_drift`'s exact output contract, so
    dashboards swap grids without schema changes.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    # the integer-percent edge law has exactly 99 possible inner edges
    # (1..99) — n_bins > 100 would generate DUPLICATE percents
    # (ambiguous _e aliases) and n_bins >= 101 a degenerate q = 0 edge,
    # so the validator caps at the law's own resolution (r16 review)
    if not (2 <= n_bins <= 100):
        raise ValueError(
            "psi_quantile_bins: n_bins must be in 2..100 — the integer "
            "percentile edge law has 99 inner edges (operators/profile.py)"
        )
    qs = [100 * i // n_bins for i in range(1, n_bins)]
    edges = _qbin_edges(old, col, qs)
    o, n = (
        _qbin_bucketize(df, col, edges, qs).select(
            F.col("bucket").alias("v_"), F.col("n").alias(c)
        )
        for df, c in ((old, "_c1"), (new, "_c2"))
    )
    return _psi_rows(_merge_counts(o, n), [], eps)


def _qbin_edges(old: DataFrame, col: str, qs: list[int]) -> DataFrame:
    """The 1-row reference-quantile edge struct shared by
    :func:`psi_quantile_bins` (edges computed live) and
    :func:`save_decile_baseline` (edges persisted) — the
    ``percentile_disc`` lower-boundary BIGINT law per percent in
    ``qs``, columns ``_e{q}``."""
    vals = old.filter(F.col(col).isNotNull()).groupBy(
        F.col(col).alias("_v")
    ).agg(F.count("*").alias("_c"))
    wcum = (
        W.partitionBy()
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = vals.select(
        "_v",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(W.partitionBy()).alias("_n"),
    )
    return cum.agg(
        *[
            F.min(
                F.when(
                    F.lit(100) * F.col("_cum") >= F.lit(q) * F.col("_n"),
                    F.col("_v"),
                )
            ).alias(f"_e{q}")
            for q in qs
        ]
    )


def _qbin_bucketize(
    df: DataFrame, col: str, edges: DataFrame, qs: list[int]
) -> DataFrame:
    """The shared bucket law: ``bucket(v) = Σ_q CASE WHEN v > _e{q}
    THEN 1 ELSE 0`` against a 1-row broadcast edge struct — pure
    comparisons, identical whether the edges were computed live or
    read back from a store."""
    b = None
    for q in qs:
        term = (
            F.when(F.col(col) > F.col(f"_e{q}"), F.lit(1))
            .otherwise(F.lit(0))
        )
        b = term if b is None else b + term
    return (
        df.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(edges))
        .select(b.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def benford_digits(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit (Benford's-law) diagram of a positive
    numeric column — the classic fabrication / unit-mixup / truncation
    screen for money-like measures: naturally-grown magnitudes follow
    ``P(d) = log10(1 + 1/d)``; hand-entered, clipped, or re-scaled
    values do not, and the per-digit chi-square contribution names
    WHICH digit carries the deviation.

    Digit law (EXACT cross-engine, no float log in the digit path):
    rows with ``floor(value) >= 1`` keep ``digit = first character of
    CAST(floor(value) AS BIGINT)`` — floor on a double and
    BIGINT→string are both bit-deterministic on Spark and DuckDB.
    Rows with NULL or ``floor(value) < 1`` are EXCLUDED (a leading
    digit of a sub-1 or negative magnitude is a different law — take
    abs/scale upstream if wanted).

    Output law: ``share_ppm = 10⁶·n div total`` is one terminal
    floored BIGINT division under the family's named in-plan 9e12
    assert; ``p_benford = ln(1 + 1/d)/ln(10)`` and ``chi2_contrib =
    total·(p_obs − p_benford)²/p_benford`` (``p_obs = n/total``) are
    doubles with the expression tree replicated verbatim in the
    oracle, rounded 9.  Σ chi2_contrib against χ²(8) is the test;
    absent digits are genuinely absent rows (their contribution
    ``total·p_d`` is recoverable from the diagram if needed).

    Plan shape: ONE map-side-combinable ≤ 9-row count aggregate + one
    unordered totals window over those 9 counters.  Nothing but the
    scan touches rows.

    Returns per-digit rows ``(digit, n, share_ppm, p_benford,
    chi2_contrib)``.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    mag = F.floor(F.col(col)).cast("long")
    counts = (
        df.filter(F.col(col).isNotNull() & (mag >= 1))
        .groupBy(
            F.substring(mag.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .agg(F.count("*").alias("_c"))
    )
    base = counts.select(
        "digit", "_c", F.sum("_c").over(W.partitionBy()).alias("_n")
    )
    from radohydro_spark.laws import with_share_ppm

    d = F.col("digit").cast("double")
    p_obs = F.col("_c") / F.col("_n")
    p_ben = F.log(F.lit(1.0) + F.lit(1.0) / d) / F.log(F.lit(10.0))
    diff = p_obs - p_ben
    return with_share_ppm(base, "_c", "_n", "benford_digits").select(
        F.col("digit").cast("long").alias("digit"),
        F.col("_c").cast("long").alias("n"),
        "share_ppm",
        F.round(p_ben, 9).alias("p_benford"),
        F.round(F.col("_n") * (diff * diff) / p_ben, 9).alias(
            "chi2_contrib"
        ),
    )


def ttest_by(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    group_cols: list[str],
    scale: int = 100,
) -> DataFrame:
    """Per-group Welch two-sample t-test — the PARAMETRIC A/B leg of
    the drift/eval family (:func:`~radohydro_spark.operators.aggregate.
    poisson_bootstrap_ci_by` answers the same "did the mean move per
    arm?" question non-parametrically at ~32 passes; Welch answers it
    from ONE exact-moment pass when the normal approximation is
    acceptable — the screening order is t-test first, bootstrap on the
    survivors).

    Exactness across engines (the :func:`corr_by` / zscore law): float
    sums are order-dependent, so NOTHING float is ever aggregated —
    values quantize to ``round(v·scale)`` and per-side Σx, Σx²
    accumulate in wide decimal (Spark decimal(38,0), DuckDB HUGEINT)
    over ONE union-tagged group exchange; one correctly-rounded cast
    to double per moment AFTER summing, then the Welch formulas
    evaluate in doubles with the identical expression tree
    cross-engine, rounded 9:

    * ``m = Σx/n`` (cents), ``v = max(Σx² − n·m², 0)/(n−1)`` (sample
      variance, floored against cast ulp on constant columns)
    * ``se² = v1/n1 + v2/n2``; ``t = (m2 − m1)/√se²`` (scale cancels)
    * ``df = se⁴ / ((v1/n1)²/(n1−1) + (v2/n2)²/(n2−1))``
      (Welch–Satterthwaite)

    Validity: groups need n ≥ 2 on BOTH sides and ``se² > 0`` —
    otherwise ``t_stat``/``welch_df`` are NULL (means still report).
    Same per-row quantization contract as corr_by (≤ log10(scale)
    decimals; |x_c| ≤ ~10⁹ keeps Σx² inside decimal(38,0) at any n).

    Rows with a NULL group key or value are EXCLUDED up front.

    Plan shape: ONE union-tagged map-side-combinable aggregate — six
    counters per group on the wire (2×(n, Σx, Σx²)), never rows; no
    window, no second pass, no collect.

    Returns one row per group: ``(<group_cols>, n_old, n_new,
    mean_old, mean_new, mean_diff, t_stat, welch_df)``.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    if not group_cols:
        raise ValueError(
            "ttest_by: group_cols is empty — pass a constant group "
            "for a global test (operators/profile.py)"
        )

    def _side(df: DataFrame, tag: int) -> DataFrame:
        keep = F.col(value_col).isNotNull()
        for g in group_cols:
            keep = keep & F.col(g).isNotNull()
        return df.filter(keep).select(
            *group_cols,
            F.round(F.col(value_col) * scale)
            .cast("decimal(38,0)")
            .alias("_q"),
            F.lit(tag).alias("_s"),
        )

    u = _side(old, 0).unionByName(_side(new, 1))
    zero = F.lit(0).cast("decimal(38,0)")
    agg = u.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).alias("_n2"),
        F.sum(F.when(F.col("_s") == 0, F.col("_q")).otherwise(zero)).alias(
            "_s1"
        ),
        F.sum(F.when(F.col("_s") == 1, F.col("_q")).otherwise(zero)).alias(
            "_s2"
        ),
        F.sum(
            F.when(F.col("_s") == 0, F.col("_q") * F.col("_q")).otherwise(
                zero
            )
        ).alias("_sxx1"),
        F.sum(
            F.when(F.col("_s") == 1, F.col("_q") * F.col("_q")).otherwise(
                zero
            )
        ).alias("_sxx2"),
    )
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    sxx1 = F.col("_sxx1").cast("double")
    sxx2 = F.col("_sxx2").cast("double")
    # NULL-divisor guards: ANSI mode raises DIVIDE_BY_ZERO even under
    # a gating CASE (subexpression hoisting evaluates branches
    # eagerly), but division by NULL is NULL — so degenerate groups
    # (n = 0 for means, n < 2 for variances, se2 = 0 for t) divide by
    # NULL and flow NULL into the already-gated outputs, while valid
    # groups see the IDENTICAL doubles (the when picks n itself).
    n1m = F.when(F.col("_n1") >= 1, n1)
    n2m = F.when(F.col("_n2") >= 1, n2)
    n1v = F.when(F.col("_n1") >= 2, n1)
    n2v = F.when(F.col("_n2") >= 2, n2)
    m1 = s1 / n1m
    m2 = s2 / n2m
    v1 = F.greatest(sxx1 - n1 * m1 * m1, F.lit(0.0)) / (n1v - F.lit(1.0))
    v2 = F.greatest(sxx2 - n2 * m2 * m2, F.lit(0.0)) / (n2v - F.lit(1.0))
    se2 = v1 / n1v + v2 / n2v
    t_den = F.when(se2 > F.lit(0.0), F.sqrt(se2))
    t = (m2 - m1) / t_den
    df_den = F.when(
        se2 > F.lit(0.0),
        (v1 / n1v) * (v1 / n1v) / (n1v - F.lit(1.0))
        + (v2 / n2v) * (v2 / n2v) / (n2v - F.lit(1.0)),
    )
    dfw = (se2 * se2) / df_den
    valid = (
        (F.col("_n1") >= 2) & (F.col("_n2") >= 2) & (se2 > F.lit(0.0))
    )
    sc = F.lit(float(scale))
    return agg.select(
        *group_cols,
        F.col("_n1").cast("long").alias("n_old"),
        F.col("_n2").cast("long").alias("n_new"),
        F.when(F.col("_n1") >= 1, F.round(m1 / sc, 9)).alias("mean_old"),
        F.when(F.col("_n2") >= 1, F.round(m2 / sc, 9)).alias("mean_new"),
        F.when(
            (F.col("_n1") >= 1) & (F.col("_n2") >= 1),
            F.round((m2 - m1) / sc, 9),
        ).alias("mean_diff"),
        F.when(valid, F.round(t, 9)).otherwise(
            F.lit(None).cast("double")
        ).alias("t_stat"),
        F.when(valid, F.round(dfw, 9)).otherwise(
            F.lit(None).cast("double")
        ).alias("welch_df"),
    )


def schema_drift(
    old: DataFrame,
    new: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """Column-profile DIFF between two table snapshots — the "what
    changed in this drop?" report a pipeline reads before the
    distributional drift legs even run: columns appearing/disappearing,
    null-rate movement, and min/max support shifts, from ONE
    :func:`profile_columns` pass per side.

    Laws (all exact): ``null_ppm = 10⁶·n_nulls div n_rows`` per side
    (NULL when the side has 0 rows); ``status`` is ``'added'`` /
    ``'removed'`` when the column exists on one side only (profiling
    skips columns a side's schema lacks), else ``'changed'`` when the
    null ppm OR the min/max strings moved (NULL-safe compares), else
    ``'stable'``.  Distinct counts are REPORTED but excluded from the
    status law — they scale with |rows| and would flag every growing
    table.

    Plan shape: two single-aggregate profile jobs (each ONE scan, all
    measures map-side partial — the profile_columns plan) + a
    |columns|-row full-outer join.  Nothing driver-side scales with
    data.

    Returns one row per column: ``(column, status, n_rows_old,
    n_rows_new, null_ppm_old, null_ppm_new, n_distinct_old,
    n_distinct_new, min_old, max_old, min_new, max_new)``.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    cols = cols or sorted(set(old.columns) | set(new.columns))
    old_cols = [c for c in cols if c in old.columns]
    new_cols = [c for c in cols if c in new.columns]
    if not old_cols and not new_cols:
        raise ValueError(
            "schema_drift: none of the requested columns exist on "
            "either side (operators/profile.py)"
        )

    def _prof(df: DataFrame, side_cols: list[str], suffix: str):
        p = profile_columns(df.select(side_cols), side_cols)
        return p.select(
            "column",
            F.col("n_rows").alias(f"n_rows_{suffix}"),
            F.col("n_nulls").alias(f"_nulls_{suffix}"),
            F.col("n_distinct").alias(f"n_distinct_{suffix}"),
            F.col("min_value").alias(f"min_{suffix}"),
            F.col("max_value").alias(f"max_{suffix}"),
        )

    o = _prof(old, old_cols, "old") if old_cols else None
    n = _prof(new, new_cols, "new") if new_cols else None
    if o is None or n is None:
        raise ValueError(
            "schema_drift: one side has none of the requested columns "
            "(operators/profile.py)"
        )
    from radohydro_spark.laws import with_share_ppm

    j = o.join(n, "column", "full_outer")
    j = with_share_ppm(
        j, "_nulls_old", "n_rows_old", "schema_drift", "null_ppm_old"
    )
    j = with_share_ppm(
        j, "_nulls_new", "n_rows_new", "schema_drift", "null_ppm_new"
    )
    ppm_o = F.col("null_ppm_old")
    ppm_n = F.col("null_ppm_new")
    added = F.col("n_rows_old").isNull()
    removed = F.col("n_rows_new").isNull()
    changed = (
        ~ppm_o.eqNullSafe(ppm_n)
        | ~F.col("min_old").eqNullSafe(F.col("min_new"))
        | ~F.col("max_old").eqNullSafe(F.col("max_new"))
    )
    return j.select(
        "column",
        F.when(added, F.lit("added"))
        .when(removed, F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("stable"))
        .alias("status"),
        F.col("n_rows_old").cast("long").alias("n_rows_old"),
        F.col("n_rows_new").cast("long").alias("n_rows_new"),
        "null_ppm_old",
        "null_ppm_new",
        F.col("n_distinct_old").cast("long").alias("n_distinct_old"),
        F.col("n_distinct_new").cast("long").alias("n_distinct_new"),
        "min_old",
        "max_old",
        "min_new",
        "max_new",
    )


def qq_table(
    old: DataFrame,
    new: DataFrame,
    col: str,
    qs: tuple[int, ...] = (1, 5, 10, 25, 50, 75, 90, 95, 99),
) -> DataFrame:
    """Quantile–quantile drift table between two snapshots of a numeric
    column — the DIAGNOSTIC sibling of the KS statistic: KS says "the
    distributions differ (D = 0.18)"; the Q-Q table says WHERE ("p95
    moved from 41 s to 87 s, the body is unchanged") — the first thing
    an on-call engineer actually reads.

    EXACT cross-engine in pure BIGINT rank arithmetic — both sides
    evaluate the ``percentile_disc`` lower-boundary law (the
    :func:`quantiles_by` convention): quantile ``q`` is the SMALLEST
    value whose inclusive cumulative count satisfies ``100·cum >=
    q·n``.  No interpolation, no float rank — a boundary cannot move
    by an ulp.  ``diff = q_new − q_old`` is exact whenever the column
    is integer-typed (feed cents/micros; for doubles the difference is
    still the IEEE difference of two exactly-selected data values).

    NULL values are EXCLUDED per side; an EMPTY side reports NULL
    quantiles (and NULL diff) rather than raising.

    Plan shape: ONE union-tagged value-domain count aggregate (output
    = |combined domain| counters) + one ordered cumulative window per
    side sharing the SAME single exchange + one conditional-min
    aggregate; the per-percent rows come from a stateless ≤ |qs|-row
    unpivot.  At 100 TB the wire carries |domain| counters, never
    rows.  CONTRACT (the :func:`quantiles_by` trade): the COMBINED
    value domain must fit one task's sort — the cumulative window is
    unpartitioned, so a near-unique column (raw timestamps, unrounded
    doubles) funnels every domain counter through one reducer; bucket
    such columns first, or take each side's quantiles separately on
    the range-partitioned two-pass
    :func:`~radohydro_spark.operators.sketch.exact_quantiles`.

    Returns one row per requested percent: ``(percent, q_old, q_new,
    diff)``, value-typed quantile columns.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    if (
        not qs
        or not all(isinstance(q, int) and 1 <= q <= 100 for q in qs)
        or len(set(qs)) != len(qs)
    ):
        raise ValueError(
            "qq_table: qs must be DISTINCT integer percents in 1..100 "
            "(operators/profile.py)"
        )

    def _side(df: DataFrame, s1: int, s2: int) -> DataFrame:
        return df.filter(F.col(col).isNotNull()).select(
            F.col(col).alias("_v"),
            F.lit(s1).alias("_s1"),
            F.lit(s2).alias("_s2"),
        )

    counts = (
        _side(old, 1, 0)
        .unionByName(_side(new, 0, 1))
        .groupBy("_v")
        .agg(F.sum("_s1").alias("_c1"), F.sum("_s2").alias("_c2"))
    )
    wcum = (
        W.partitionBy()
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy()
    base = counts.select(
        "_v",
        F.sum("_c1").over(wcum).alias("_cum1"),
        F.sum("_c2").over(wcum).alias("_cum2"),
        F.sum("_c1").over(wall).alias("_n1"),
        F.sum("_c2").over(wall).alias("_n2"),
    )
    aggs = []
    for q in qs:
        aggs.append(
            F.min(
                F.when(
                    (F.col("_n1") > 0)
                    & (
                        F.lit(100) * F.col("_cum1")
                        >= F.lit(q) * F.col("_n1")
                    ),
                    F.col("_v"),
                )
            ).alias(f"_qo{q}")
        )
        aggs.append(
            F.min(
                F.when(
                    (F.col("_n2") > 0)
                    & (
                        F.lit(100) * F.col("_cum2")
                        >= F.lit(q) * F.col("_n2")
                    ),
                    F.col("_v"),
                )
            ).alias(f"_qn{q}")
        )
    one = base.agg(*aggs)
    stack = ", ".join(f"{q}, _qo{q}, _qn{q}" for q in qs)
    return one.select(
        F.expr(
            f"stack({len(qs)}, {stack}) AS (percent, q_old, q_new)"
        )
    ).select(
        F.col("percent").cast("long").alias("percent"),
        "q_old",
        "q_new",
        (F.col("q_new") - F.col("q_old")).alias("diff"),
    )


def rare_categories(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    max_ppm: int = 1000,
    min_n: int = 1,
) -> DataFrame:
    """Long-tail health screen: the categories holding LESS than
    ``max_ppm`` parts-per-million of their (group's) mass — the
    pre-flight check before stratified sampling, one-hot encoding, or
    per-category model heads (a 3-row category silently breaks all
    three), and the typo/near-duplicate-label detector ("en" vs "en-")
    that a top-k heavy-hitters view never shows.

    Laws (all exact): ``share_ppm`` is the family's floored-BIGINT
    division under the shared named 9e12 assert
    (:func:`radohydro_spark.laws.with_share_ppm`); a category is RARE
    when ``share_ppm < max_ppm`` and ``n >= min_n`` (min_n lets
    callers drop singletons when only systematic rarities matter).
    NULL categories / group keys are EXCLUDED (the family convention).

    Plan shape: ONE map-side-combinable count aggregate over the
    (group,) category domain + one (group-)totals window over
    counters + a stateless threshold filter — |groups|·|domain|
    counters on the wire, never rows.

    Returns ``(<group_cols>, cat, n, share_ppm)`` — rare rows only,
    callers sort/alert downstream.

    Reference analog: none — extends the data-quality family
    (SURVEY §2 extension table).
    """
    from radohydro_spark.laws import with_share_ppm

    if not (1 <= max_ppm <= 1_000_000):
        raise ValueError(
            "rare_categories: max_ppm must be in 1..1000000 "
            "(operators/profile.py)"
        )
    group_cols = group_cols or []
    keep = F.col(col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*group_cols, F.col(col).cast("string").alias("_cat"))
        .agg(F.count("*").alias("_c"))
    )
    wg = W.partitionBy(*group_cols)
    base = counts.select(
        *group_cols, "_cat", "_c", F.sum("_c").over(wg).alias("_n")
    )
    return (
        with_share_ppm(base, "_c", "_n", "rare_categories")
        .filter(
            (F.col("share_ppm") < F.lit(int(max_ppm)))
            & (F.col("_c") >= F.lit(int(min_n)))
        )
        .select(
            *group_cols,
            F.col("_cat").alias("cat"),
            F.col("_c").cast("long").alias("n"),
            "share_ppm",
        )
    )


def save_category_baseline(
    df: DataFrame, col: str, path: str
) -> DataFrame:
    """Persist a categorical column's exact count histogram — the
    BASELINE half of the production drift workflow: the reference
    snapshot is profiled ONCE at release time and every later drop
    compares against the STORE (``tvd_drift_vs_baseline``), never
    re-reading the reference corpus (which at 100 TB may already be
    archived or deleted).  The drift family's persisted-lifecycle
    member, next to the LSH and IVF index stores.

    The store is a plain parquet table ``(cat string, n long)`` —
    NULL categories excluded (the family convention) — readable by
    anything, mergeable by summing, and tiny (|category domain| rows).

    Returns the store read BACK from ``path`` (the audit convention:
    what you got is what later comparisons will see).
    """
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("cat"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    counts.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def tvd_drift_vs_baseline(
    new: DataFrame, col: str, baseline_path: str
) -> DataFrame:
    """Exact categorical TVD of a NEW snapshot against a PERSISTED
    baseline histogram (:func:`save_category_baseline`) — the
    production monitoring shape: one scan of the new drop, ZERO scans
    of the reference corpus, bit-identical to
    :func:`tvd_drift` run on both raw sides (the same ``_tvd`` core;
    round-trip pinned).

    Plan shape: one map-side-combinable count aggregate over the new
    side + a |domain|-row parquet read + the TVD scalar aggregate —
    at 100 TB the only row-scaling cost is the single new-side scan.

    Raises a named ValueError when the store's schema is not the
    ``(cat, n)`` contract (a wrong path fails loudly, not with a
    column-resolution error mid-plan).
    """
    spark = new.sparkSession
    base = spark.read.parquet(baseline_path)
    if set(base.columns) != {"cat", "n"}:
        raise ValueError(
            "tvd_drift_vs_baseline: the store at "
            f"{baseline_path!r} has columns {sorted(base.columns)}, "
            "expected the save_category_baseline (cat, n) contract "
            "(operators/profile.py)"
        )
    o = base.select(
        F.col("cat").alias("v_"), F.col("n").cast("long").alias("_c1")
    )
    n = (
        new.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("v_"))
        .agg(F.count("*").alias("_c2"))
    )
    return _tvd(_merge_counts(o, n), [], "tvd_drift_vs_baseline")


def save_decile_baseline(
    df: DataFrame, col: str, path: str, n_bins: int = 10
) -> None:
    """Persist a numeric column's reference-quantile PSI baseline —
    the NUMERIC half of the persisted drift lifecycle
    (:func:`save_category_baseline` holds the categorical half): the
    reference snapshot's exact decile EDGES (the percentile_disc
    BIGINT law) and per-bucket counts write once; every later drop
    compares against the STORE (:func:`psi_vs_baseline`) with zero
    reference-corpus scans — exactly how a deployed model's PSI
    monitor runs in production.

    The store is two tiny parquet tables under ``path``: ``edges/``
    (one row, columns ``_e{q}``, value-typed) and ``buckets/``
    (≤ n_bins rows ``(bucket, n)``) — both readable by anything and
    together sufficient to reproduce :func:`psi_quantile_bins`'s old
    side exactly (round-trip pinned).
    """
    if not (2 <= n_bins <= 100):
        raise ValueError(
            "save_decile_baseline: n_bins must be in 2..100 — the "
            "integer percentile edge law has 99 inner edges "
            "(operators/profile.py)"
        )
    qs = [100 * i // n_bins for i in range(1, n_bins)]
    edges = _qbin_edges(df, col, qs)
    edges.write.mode("overwrite").parquet(f"{path}/edges")
    spark = df.sparkSession
    stored_edges = spark.read.parquet(f"{path}/edges")
    buckets = _qbin_bucketize(df, col, stored_edges, qs).select(
        "bucket", F.col("n").cast("long").alias("n")
    )
    buckets.write.mode("overwrite").parquet(f"{path}/buckets")


def psi_vs_baseline(
    new: DataFrame, col: str, path: str, eps: float = 1e-6
) -> DataFrame:
    """Reference-decile PSI of a NEW snapshot against a PERSISTED
    baseline (:func:`save_decile_baseline`) — one scan of the new
    drop, zero scans of the reference corpus, bit-identical to
    :func:`psi_quantile_bins` run on both raw sides (the shared
    ``_qbin_bucketize`` / ``_psi_rows`` laws; round-trip pinned).
    The requested percents are recovered from the store's ``_e{q}``
    column names, so caller and store cannot disagree about the grid.

    Raises a named ValueError when either store table is missing its
    contract columns (a wrong path fails loudly, not mid-plan).
    """
    spark = new.sparkSession
    edges = spark.read.parquet(f"{path}/edges")
    qs = []
    for c in edges.columns:
        if not (c.startswith("_e") and c[2:].isdigit()):
            raise ValueError(
                f"psi_vs_baseline: the store at {path!r}/edges has "
                f"column {c!r}, expected only the save_decile_baseline "
                "_e<percent> contract (operators/profile.py)"
            )
        qs.append(int(c[2:]))
    qs.sort()
    buckets = spark.read.parquet(f"{path}/buckets")
    if set(buckets.columns) != {"bucket", "n"}:
        raise ValueError(
            f"psi_vs_baseline: the store at {path!r}/buckets has "
            f"columns {sorted(buckets.columns)}, expected the "
            "save_decile_baseline (bucket, n) contract "
            "(operators/profile.py)"
        )
    o = buckets.select(
        F.col("bucket").alias("v_"), F.col("n").cast("long").alias("_c1")
    )
    n = _qbin_bucketize(new, col, edges, qs).select(
        F.col("bucket").alias("v_"), F.col("n").alias("_c2")
    )
    return _psi_rows(_merge_counts(o, n), [], eps)