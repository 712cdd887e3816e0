"""Round-15 first batch: the four r14 ADVICE closures — negative-value
truncating-division pins for the bootstrap/EWMA integer laws, the
ewma_halving duplicate-order contract, calibration_bins' piecewise
pos_ppm law + 0/1 label domain, and kmv_overlap's k ceiling."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _ph(s: str) -> int:
    """Python twin of functions.text.portable_hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _poisson_w(b: int, key: str) -> int:
    from radohydro_spark.operators.aggregate import _POISSON1_CUM_T32

    if b == -1:
        return 1
    u = _ph(f"{b}:{key}")
    for j, t in enumerate(_POISSON1_CUM_T32):
        if u < t:
            return j
    return len(_POISSON1_CUM_T32)


def _trunc_div(a: int, b: int) -> int:
    """Spark `div` == DuckDB `//` (1.0.0): integer division truncating
    toward zero — NOT python floor // (they differ for negative a)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


# ------------------------------------- bootstrap: negative-value law


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-5_000, max_value=5_000),
        min_size=2,
        max_size=40,
    )
)
def test_bootstrap_negative_values_trunc_division(spark, xs):
    """The documented law for negative sums: Spark's div TRUNCATES
    toward zero (r14 ADVICE pin — a floor-based replay diverges
    whenever a replicate's weighted sum is negative)."""
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    rows = [(i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "id long, x long")
    r = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=12).collect()[0]
    assert r.point_micro == _trunc_div(1_000_000 * sum(xs), len(xs))
    means = []
    for b in range(12):
        swx = sum(_poisson_w(b, str(i)) * x for i, x in rows)
        sw = sum(_poisson_w(b, str(i)) for i, _ in rows)
        m = None if sw == 0 else _trunc_div(1_000_000 * swx, sw)
        means.append((m, b))
    # NULLS LAST, then (mean, b) ascending — the engine's rank law
    means.sort(key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]))
    lo = means[-(-25 * 12 // 1000) - 1][0]
    hi = means[-(-975 * 12 // 1000) - 1][0]
    assert (r.lo_micro, r.hi_micro) == (lo, hi)


# ------------------------------------------ ewma: negatives + dup law


def test_ewma_negative_values_trunc_division(spark):
    from radohydro_spark.operators.aggregate import ewma_halving

    rows = [("g", t, (-1) ** t * ((t * 31) % 100)) for t in range(30)]
    df = spark.createDataFrame(rows, "g string, t int, x long")
    got = {
        r.t: r.ewma_micro
        for r in ewma_halving(df, ["g"], "t", "x", lags=8).collect()
    }
    pts = sorted((t, x) for _, t, x in rows)
    for i, (t, _) in enumerate(pts):
        num = den = 0
        for j in range(8):
            if i - j < 0:
                break
            wt = 1 << (7 - j)
            num += pts[i - j][1] * wt
            den += wt
        assert got[t] == _trunc_div(1_000_000 * num, den), t


def test_ewma_duplicate_order_raises_named(spark):
    from radohydro_spark.operators.aggregate import ewma_halving

    dup = spark.createDataFrame(
        [("g", 1, 10), ("g", 1, 20), ("g", 2, 30)],
        "g string, t int, x long",
    )
    with pytest.raises(Exception, match="ewma_halving.*unique"):
        ewma_halving(dup, ["g"], "t", "x", lags=4).collect()


def test_ewma_dup_guard_keeps_single_window(spark):
    """The duplicate detector is one more lag on the SAME window — the
    plan must still contain exactly one Window node."""
    from radohydro_spark.operators.aggregate import ewma_halving

    ok = spark.createDataFrame(
        [("g", t, t) for t in range(5)], "g string, t int, x long"
    )
    out = ewma_halving(ok, ["g"], "t", "x", lags=12)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1
    # and the guard passes on unique keys
    assert out.count() == 5


# --------------------------------- calibration: label domain + ppm law


def test_calibration_label_outside_01_raises_named(spark):
    from radohydro_spark.operators.profile import calibration_bins

    bad = spark.createDataFrame(
        [(i, 2 if i == 5 else 1) for i in range(10)], "s long, y long"
    )
    with pytest.raises(Exception, match="calibration_bins.*0/1"):
        calibration_bins(bad, "s", "y", n_bins=4).collect()
    neg = spark.createDataFrame([(1, -1), (2, 0)], "s long, y long")
    with pytest.raises(Exception, match="calibration_bins.*0/1"):
        calibration_bins(neg, "s", "y", n_bins=4).collect()


def test_calibration_hand_case_still_exact_after_piecewise_law(spark):
    from radohydro_spark.operators.profile import calibration_bins

    # scores 0..9 into 2 bins, labels = score >= 5: bin0 0/5, bin1 5/5
    df = spark.createDataFrame(
        [(s, 1 if s >= 5 else 0) for s in range(10)], "s long, y long"
    )
    out = {
        r.bin: (r.n, r.n_pos, r.pos_ppm)
        for r in calibration_bins(df, "s", "y", n_bins=2).collect()
    }
    assert out == {0: (5, 0, 0), 1: (5, 5, 1_000_000)}


# ---------------------------------------------- kmv_overlap: k ceiling


def test_kmv_overlap_k_ceiling_raises_named(spark):
    from radohydro_spark.operators.sketch import kmv_overlap, kmv_sketch

    df = spark.createDataFrame([(str(i),) for i in range(50)], "k string")
    sk = kmv_sketch(df, "k", k=16)
    with pytest.raises(ValueError, match="kmv_overlap.*46340"):
        kmv_overlap(sk, sk, k=65536)
    with pytest.raises(ValueError, match="kmv_overlap"):
        kmv_overlap(sk, sk, k=1)
    # boundary k is accepted and still exact on identical sketches
    r = kmv_overlap(sk, sk, k=46340).collect()[0]
    assert r.jaccard_ppm == 1_000_000


# ------------------------------------------- per-group drift twins


def _tvd_by(spark, old_rows, new_rows):
    from radohydro_spark.operators.profile import tvd_drift_by

    o = spark.createDataFrame(old_rows, "g string, cat string")
    n = spark.createDataFrame(new_rows, "g string, cat string")
    return tvd_drift_by(o, n, "cat", ["g"])


def test_tvd_by_single_group_matches_global(spark):
    """Constant group ⇒ identical numbers to the global tvd_drift."""
    from radohydro_spark.operators.profile import tvd_drift

    old_c = ["a", "a", "b"]
    new_c = ["b", "b", "c"]
    o = spark.createDataFrame([(c,) for c in old_c], "cat string")
    n = spark.createDataFrame([(c,) for c in new_c], "cat string")
    g = tvd_drift(o, n, "cat").collect()[0]
    r = _tvd_by(
        spark, [("k", c) for c in old_c], [("k", c) for c in new_c]
    ).collect()[0]
    assert (r.n_old, r.n_new, r.tvd_num, r.tvd_ppm) == (
        g.n_old, g.n_new, g.tvd_num, g.tvd_ppm,
    )
    assert (r.top_category, r.top_num) == (g.top_category, g.top_num)
    assert r.g == "k"


def test_tvd_by_hand_case_two_groups(spark):
    # group k: the 666666-ppm hand case; group m: identical mixes -> 0
    old = [("k", "a"), ("k", "a"), ("k", "b"), ("m", "x"), ("m", "y")]
    new = [("k", "b"), ("k", "b"), ("k", "c"), ("m", "x"), ("m", "y")]
    out = {r.g: r for r in _tvd_by(spark, old, new).collect()}
    assert out["k"].tvd_ppm == 666666 and out["k"].top_category == "a"
    assert out["m"].tvd_ppm == 0 and out["m"].tvd_num == 0


def test_tvd_by_null_group_excluded_and_one_sided_group(spark):
    old = [("k", "a"), (None, "a"), ("only_old", "z")]
    new = [("k", "a"), (None, "b")]
    out = {r.g: r for r in _tvd_by(spark, old, new).collect()}
    assert set(out) == {"k", "only_old"}  # NULL group never appears
    assert out["k"].tvd_ppm == 0
    # group on one side only: rows counted, ppm undefined (global law)
    r = out["only_old"]
    assert (r.n_old, r.n_new, r.tvd_ppm) == (1, 0, None)


def test_tvd_by_matches_python_replay(spark):
    from collections import Counter

    old = [(f"g{i % 3}", f"c{(i * 7) % 5}") for i in range(200)]
    new = [(f"g{i % 3}", f"c{(i * 11) % 6}") for i in range(260)]
    got = {r.g: r for r in _tvd_by(spark, old, new).collect()}
    for g in ("g0", "g1", "g2"):
        c1 = Counter(c for gg, c in old if gg == g)
        c2 = Counter(c for gg, c in new if gg == g)
        n1, n2 = sum(c1.values()), sum(c2.values())
        num = sum(
            abs(c1.get(c, 0) * n2 - c2.get(c, 0) * n1)
            for c in set(c1) | set(c2)
        )
        r = got[g]
        assert (r.n_old, r.n_new, r.tvd_num) == (n1, n2, num)
        assert r.tvd_ppm == (1_000_000 * num) // (2 * n1 * n2)


def test_tvd_by_empty_group_cols_raises(spark):
    from radohydro_spark.operators.profile import tvd_drift_by

    df = spark.createDataFrame([("g", "a")], "g string, cat string")
    with pytest.raises(ValueError, match="tvd_drift_by"):
        tvd_drift_by(df, df, "cat", [])


def _ks_by(spark, old_rows, new_rows):
    from radohydro_spark.operators.profile import ks_drift_by

    o = spark.createDataFrame(old_rows, "g string, v long")
    n = spark.createDataFrame(new_rows, "g string, v long")
    return ks_drift_by(o, n, "v", ["g"])


# every global/_by twin of operators.profile: (global, by, argument
# columns after the frame(s), two snapshots?, scalar statistic?)
_TWINS = {
    "tvd": ("tvd_drift", "tvd_drift_by", ("c",), True, True),
    "ks": ("ks_drift", "ks_drift_by", ("v",), True, True),
    "gini": ("gini_coefficient", "gini_by", ("v",), False, True),
    "auc": ("auc_mann_whitney", "auc_by", ("v", "y"), False, True),
    "wasserstein": (
        "wasserstein_drift", "wasserstein_drift_by", ("v",), True, True,
    ),
    "psi": ("psi_drift", "psi_drift_by", ("v",), True, False),
    "calibration_bins": (
        "calibration_bins", "calibration_bins_by", ("v", "y"), False, False,
    ),
    "cusum": ("cusum_changepoint", "cusum_by", ("t", "v"), False, True),
    "chi2": ("chi2_drift", "chi2_drift_by", ("c",), True, False),
    "jsd": ("jsd_drift", "jsd_drift_by", ("c",), True, False),
    "entropy": ("entropy_profile", "entropy_by", ("c",), False, False),
    "mutual_info": ("mutual_info", "mutual_info_by", ("c", "d"), False, False),
}


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_by_single_group_matches_global(spark, twin, empty):
    """The twin contract: the global form on a frame equals the _by form
    on the same frame under one constant group key, column for column.
    On empty input a scalar global gives one all-NULL row, a diagram
    global zero rows, and every _by form zero rows."""
    import random

    from radohydro_spark.operators import profile as P

    glob, by, cols, two_sided, scalar = _TWINS[twin]
    rng = random.Random(15)

    def frame(n, lo, hi):
        rows = [
            (
                "k",
                t,
                None if t % 17 == 5 else rng.randrange(lo, hi),
                rng.randrange(0, 2),
                None if t % 13 == 7 else rng.choice("abcd"),
                rng.choice("xy"),
            )
            for t in range(0 if empty else n)
        ]
        schema = "g string, t long, v long, y long, c string, d string"
        return spark.createDataFrame(rows, schema)

    frames = (frame(120, 0, 40), frame(100, 10, 55))[: 2 if two_sided else 1]
    g = getattr(P, glob)(*frames, *cols)
    b = getattr(P, by)(*frames, *cols, ["g"])
    assert b.columns == ["g", *g.columns]
    got_g = sorted((tuple(r) for r in g.collect()), key=repr)
    got_b = b.collect()
    if empty:
        assert got_b == []
        assert got_g == ([(None,) * len(g.columns)] if scalar else [])
    else:
        assert got_g and all(r.g == "k" for r in got_b)
        assert sorted((tuple(r)[1:] for r in got_b), key=repr) == got_g


def test_ks_by_hand_case_and_tie_law(spark):
    # group k: old all below new -> D = 1 at the old max;
    # group m: identical -> D = 0, at_value = smallest value (tie law)
    old = [("k", 1), ("k", 2), ("m", 5), ("m", 6)]
    new = [("k", 10), ("k", 11), ("m", 5), ("m", 6)]
    out = {r.g: r for r in _ks_by(spark, old, new).collect()}
    assert out["k"].ks_ppm == 1_000_000 and out["k"].at_value == 2
    assert out["m"].d_num == 0 and out["m"].at_value == 5


def test_ks_by_matches_python_replay_and_null_group(spark):
    from collections import Counter

    old = [(f"g{i % 2}", (i * 13) % 37) for i in range(150)] + [(None, 1)]
    new = [(f"g{i % 2}", (i * 17) % 41) for i in range(170)] + [(None, 2)]
    got = {r.g: r for r in _ks_by(spark, old, new).collect()}
    assert set(got) == {"g0", "g1"}
    for g in ("g0", "g1"):
        c1 = Counter(v for gg, v in old if gg == g)
        c2 = Counter(v for gg, v in new if gg == g)
        n1, n2 = sum(c1.values()), sum(c2.values())
        dom = sorted(set(c1) | set(c2))
        f1 = f2 = 0
        best = (-1, None)
        for v in dom:
            f1 += c1.get(v, 0)
            f2 += c2.get(v, 0)
            d = abs(f1 * n2 - f2 * n1)
            if d > best[0]:
                best = (d, v)
        r = got[g]
        assert (r.n_old, r.n_new, r.d_num, r.at_value) == (
            n1, n2, best[0], best[1],
        )
        assert r.ks_ppm == (1_000_000 * best[0]) // (n1 * n2)


def test_drift_by_guards_live_in_plan_and_shuffle_count(spark):
    """The named overflow contracts are IN the plan (runtime totals
    can't be checked driver-side), and the whole per-group KS pipeline
    runs on TWO shuffles (count agg + group windows/final agg)."""
    old = [("k", 1), ("k", 2)]
    new = [("k", 3)]
    ks = _ks_by(spark, old, new)
    analyzed = ks._jdf.queryExecution().analyzed().toString()
    assert "ks_drift_by" in analyzed  # the named assert_true message
    tvd = _tvd_by(spark, [("k", "a")], [("k", "b")])
    assert "tvd_drift_by" in tvd._jdf.queryExecution().analyzed().toString()
    plan = ks._jdf.queryExecution().executedPlan().toString()
    n_exch = plan.count("Exchange hashpartitioning")
    assert n_exch <= 2, plan


# ------------------------------------------ streaming Count-Min


def test_stream_count_min_matches_batch_law(spark, tmp_path):
    """availableNow drain == the batch count_min_table hash law per
    window (python md5 replay), state bounded at depth*width."""
    import datetime

    from radohydro_spark.streaming import run_available_now, stream_count_min

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (base + datetime.timedelta(minutes=7 * i), str(i % 5))
        for i in range(40)
    ]
    src = tmp_path / "src"
    spark.createDataFrame(rows, "ts timestamp, k string").write.parquet(
        str(src)
    )
    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .parquet(str(src))
    )
    out = run_available_now(
        stream_count_min(
            stream, "ts", "k", "1 hour", depth=2, width=8,
            watermark="1 hour",
        ),
        "t_stream_cms",
        str(tmp_path / "ck"),
        "complete",
    ).collect()
    got = {(r.ts, r.d, r.bucket): r.n for r in out}
    want: dict = {}
    for ts, k in rows:
        w = ts.replace(minute=0, second=0)
        for d in range(2):
            b = _ph(f"{d}:{k}") % 8
            want[(w, d, b)] = want.get((w, d, b), 0) + 1
    assert got == want
    # bounded state: every window carries at most depth*width counters
    from collections import Counter

    per_w = Counter(w for w, _, _ in got)
    assert all(v <= 2 * 8 for v in per_w.values())


def test_stream_count_min_equals_batch_builder_per_window(spark, tmp_path):
    """The drained stream sketch for one window is bit-identical to the
    batch count_min_table over that window's rows."""
    import datetime

    from radohydro_spark.operators.sketch import count_min_table
    from radohydro_spark.streaming import run_available_now, stream_count_min

    base = datetime.datetime(2024, 3, 2, 5, 0, 0)
    rows = [
        (base + datetime.timedelta(minutes=i), str((i * 3) % 7))
        for i in range(50)
    ]
    src = tmp_path / "src2"
    df = spark.createDataFrame(rows, "ts timestamp, k string")
    df.write.parquet(str(src))
    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .parquet(str(src))
    )
    drained = run_available_now(
        stream_count_min(
            stream, "ts", "k", "1 hour", depth=3, width=16,
            watermark="1 hour",
        ),
        "t_stream_cms2",
        str(tmp_path / "ck2"),
        "complete",
    )
    first_hour = base.replace(minute=0)
    got = {
        (r.d, r.bucket): r.n
        for r in drained.collect()
        if r.ts == first_hour
    }
    batch = count_min_table(
        df.filter(
            (F.col("ts") >= F.lit(first_hour))
            & (F.col("ts") < F.lit(first_hour + datetime.timedelta(hours=1)))
        ),
        "k",
        depth=3,
        width=16,
    )
    want = {(r.d, r.bucket): r.n for r in batch.collect()}
    assert got == want


# ------------------------------------- mmr_select broadcast fallback


def _mmr_corpus(spark, n=30, dim=6, seed=7):
    import hashlib as _h

    def vec(i):
        hv = _h.md5(f"{seed}:{i}".encode()).digest()
        return [float(b - 128) / 37.0 for b in hv[:dim]]

    rows = [(i, vec(i)) for i in range(n)]
    return spark.createDataFrame(rows, "vid long, emb array<double>")


def test_mmr_broadcast_form_row_identical_to_literal(spark):
    """Forcing lit_budget=0 routes every round through the broadcast
    array form — output must be row-identical to the literal path."""
    from radohydro_spark.operators.sampling import mmr_select

    df = _mmr_corpus(spark)
    lit = mmr_select(df, "emb", "vid", query_id=0, k=6).collect()
    bc = mmr_select(
        df, "emb", "vid", query_id=0, k=6, lit_budget=0
    ).collect()
    assert [tuple(r) for r in lit] == [tuple(r) for r in bc]
    assert len(lit) == 6 and lit[0].sel_round == 1


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_mmr_broadcast_form_property(spark, seed):
    from radohydro_spark.operators.sampling import mmr_select

    df = _mmr_corpus(spark, n=14, dim=4, seed=seed)
    lit = mmr_select(df, "emb", "vid", query_id=1, k=4).collect()
    bc = mmr_select(
        df, "emb", "vid", query_id=1, k=4, lit_budget=0
    ).collect()
    assert [tuple(r) for r in lit] == [tuple(r) for r in bc]


# -------------------------- xxhash64 fast paths (sampling family)


def test_bottom_k_fast_path_deterministic_nested_takeordered(spark):
    from radohydro_spark.operators.sampling import bottom_k_sample

    df = spark.createDataFrame(
        [(f"doc{i}",) for i in range(400)], "id string"
    )
    a = bottom_k_sample(df, "id", 20, portable=False)
    b = bottom_k_sample(df.repartition(7), "id", 20, portable=False)
    ids_a = sorted(r.id for r in a.collect())
    ids_b = sorted(r.id for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 20  # deterministic
    big = sorted(
        r.id for r in bottom_k_sample(df, "id", 60, portable=False).collect()
    )
    assert set(ids_a) <= set(big)  # nested under growing k
    plan = (
        bottom_k_sample(df, "id", 20, portable=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # and the fast path picks a DIFFERENT (hash-order) sample than md5
    md5_ids = sorted(
        r.id for r in bottom_k_sample(df, "id", 20, portable=True).collect()
    )
    assert md5_ids != ids_a


def test_stratified_bottom_k_fast_path_nested_and_windowgrouplimit(spark):
    from radohydro_spark.operators.sampling import stratified_bottom_k

    df = spark.createDataFrame(
        [(f"d{i}", f"s{i % 4}") for i in range(200)], "id string, s string"
    )
    small = stratified_bottom_k(df, "id", "s", 3, portable=False)
    big = stratified_bottom_k(df, "id", "s", 10, portable=False)
    small_ids = {r.id for r in small.collect()}
    big_ids = {r.id for r in big.collect()}
    assert small_ids <= big_ids
    per = {}
    for r in small.collect():
        per[r.s] = per.get(r.s, 0) + 1
    assert per == {f"s{i}": 3 for i in range(4)}
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_split_assign_fast_path_stable_under_growth(spark):
    from radohydro_spark.operators.sampling import split_assign

    small = spark.createDataFrame(
        [(f"u{i}",) for i in range(300)], "id string"
    )
    grown = spark.createDataFrame(
        [(f"u{i}",) for i in range(600)], "id string"
    )
    s1 = {
        r.id: r.split
        for r in split_assign(small, "id", portable=False).collect()
    }
    s2 = {
        r.id: r.split
        for r in split_assign(grown, "id", portable=False).collect()
    }
    assert all(s2[i] == v for i, v in s1.items())  # growth never reassigns
    # all three splits populated and ~expected shares
    from collections import Counter

    c = Counter(s2.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_weighted_sample_fast_path_deterministic_and_weight_biased(spark):
    from radohydro_spark.operators.sampling import weighted_sample

    rows = [(f"d{i}", 100.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id string, w double")
    a = weighted_sample(df, "id", "w", 40, portable=False)
    b = weighted_sample(df.repartition(9), "id", "w", 40, portable=False)
    ids_a = sorted(r.id for r in a.collect())
    ids_b = sorted(r.id for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 40
    heavy = sum(1 for i in ids_a if int(i[1:]) < 50)
    assert heavy >= 25  # 10% of ids hold 100x weight: they dominate


# -------------------------------------------------- gini_by


def test_gini_by_single_group_matches_global_and_hand_cases(spark):
    from radohydro_spark.operators.profile import gini_by, gini_coefficient

    vals = [1, 1, 2, 5, 5, 10]
    g = gini_coefficient(
        spark.createDataFrame([(v,) for v in vals], "v long"), "v"
    ).collect()[0]
    r = gini_by(
        spark.createDataFrame([("k", v) for v in vals], "g string, v long"),
        "v",
        ["g"],
    ).collect()[0]
    assert (r.n_rows, r.total, r.gini_num, r.gini_ppm) == (
        g.n_rows, g.total, g.gini_num, g.gini_ppm,
    )
    # two groups: uniform -> 0; one-holder -> (n-1)/n
    df = spark.createDataFrame(
        [("u", 7), ("u", 7), ("u", 7), ("h", 0), ("h", 0), ("h", 9)],
        "g string, v long",
    )
    out = {x.g: x for x in gini_by(df, "v", ["g"]).collect()}
    assert out["u"].gini_ppm == 0
    assert out["h"].gini_ppm == 666666  # (3-1)/3 floored


def test_gini_by_null_group_excluded_negative_raises_empty_groups(spark):
    from radohydro_spark.operators.profile import gini_by

    df = spark.createDataFrame(
        [("k", 1), (None, 5), ("k", 3)], "g string, v long"
    )
    out = gini_by(df, "v", ["g"]).collect()
    assert len(out) == 1 and out[0].g == "k"
    neg = spark.createDataFrame([("k", -1)], "g string, v long")
    with pytest.raises(Exception, match="gini_by.*nonnegative"):
        gini_by(neg, "v", ["g"]).collect()
    with pytest.raises(ValueError, match="gini_by"):
        gini_by(df, "v", [])


def test_gini_by_matches_python_replay(spark):
    rows = [
        (f"g{i % 3}", ((i * 37) % 50) + (i % 3)) for i in range(300)
    ]
    from radohydro_spark.operators.profile import gini_by

    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in gini_by(df, "v", ["g"]).collect()}
    for gname in ("g0", "g1", "g2"):
        vs = sorted(v for g, v in rows if g == gname)
        n, t = len(vs), sum(vs)
        # rank formula: gini_num = n*T - B, B = sum over sorted with
        # ties grouped -> equivalently 2*sum(i*v_i) (1-based) - ... use
        # the trapezoid law directly on grouped values
        from collections import Counter

        c = Counter(vs)
        s_run = 0
        b = 0
        for v in sorted(c):
            cnt = c[v]
            s_run += cnt * v
            b += 2 * cnt * s_run - cnt * cnt * v
        r = got[gname]
        assert (r.n_rows, r.total) == (n, t)
        assert r.gini_num == n * t - b
        assert r.gini_ppm == (1_000_000 * (n * t - b)) // (n * t)


# ---------------------------------------------- auc_by / w1_by


def test_auc_by_single_group_matches_global(spark):
    from radohydro_spark.operators.profile import auc_by, auc_mann_whitney

    rows = [(i % 40, 1 if (i * 7) % 3 == 0 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, "s long, y long")
    g = auc_mann_whitney(df, "s", "y").collect()[0]
    r = auc_by(
        df.withColumn("grp", F.lit("k")), "s", "y", ["grp"]
    ).collect()[0]
    assert (r.n_pos, r.n_neg, r.rank_sum_pos_x2, r.auc_ppm) == (
        g.n_pos, g.n_neg, g.rank_sum_pos_x2, g.auc_ppm,
    )


def test_auc_by_hand_cases_and_one_class(spark):
    from radohydro_spark.operators.profile import auc_by

    # group sep: positives strictly above negatives -> AUC = 1.0;
    # group rev: reversed -> 0.0; group one: single class -> NULL
    rows = (
        [("sep", s, 1) for s in (10, 11)]
        + [("sep", s, 0) for s in (1, 2)]
        + [("rev", s, 0) for s in (10, 11)]
        + [("rev", s, 1) for s in (1, 2)]
        + [("one", s, 1) for s in (5, 6)]
    )
    df = spark.createDataFrame(rows, "g string, s long, y long")
    out = {r.g: r for r in auc_by(df, "s", "y", ["g"]).collect()}
    assert out["sep"].auc_ppm == 1_000_000
    assert out["rev"].auc_ppm == 0
    assert out["one"].auc_ppm is None and out["one"].n_neg == 0


def test_auc_by_matches_python_replay_with_ties(spark):
    from collections import Counter, defaultdict

    from radohydro_spark.operators.profile import auc_by

    rows = [
        (f"g{i % 2}", (i * 13) % 17, 1 if (i * 5) % 7 < 3 else 0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, s long, y long")
    got = {r.g: r for r in auc_by(df, "s", "y", ["g"]).collect()}
    for gname in ("g0", "g1"):
        ct: Counter = Counter()
        cp: dict = defaultdict(int)
        for g, s, y in rows:
            if g == gname:
                ct[s] += 1
                cp[s] += y
        c_run = 0
        r2 = 0
        for v in sorted(ct):
            r2 += cp[v] * (2 * c_run + ct[v] + 1)
            c_run += ct[v]
        n_pos = sum(cp.values())
        n_neg = sum(ct.values()) - n_pos
        r = got[gname]
        assert (r.n_pos, r.n_neg, r.rank_sum_pos_x2) == (n_pos, n_neg, r2)
        assert r.auc_ppm == (1_000_000 * (r2 - n_pos * (n_pos + 1))) // (
            2 * n_pos * n_neg
        )


def _w1_by(spark, old_rows, new_rows):
    from radohydro_spark.operators.profile import wasserstein_drift_by

    o = spark.createDataFrame(old_rows, "g string, v long")
    n = spark.createDataFrame(new_rows, "g string, v long")
    return wasserstein_drift_by(o, n, "v", ["g"])


def test_w1_by_single_group_matches_global(spark):
    from radohydro_spark.operators.profile import wasserstein_drift

    old_v = [1, 2, 2, 3, 10]
    new_v = [2, 3, 3, 9, 14]
    o = spark.createDataFrame([(v,) for v in old_v], "v long")
    n = spark.createDataFrame([(v,) for v in new_v], "v long")
    g = wasserstein_drift(o, n, "v").collect()[0]
    r = _w1_by(
        spark, [("k", v) for v in old_v], [("k", v) for v in new_v]
    ).collect()[0]
    assert (r.n_old, r.n_new, r.emd_num, r.emd_micro) == (
        g.n_old, g.n_new, g.emd_num, g.emd_micro,
    )


def test_w1_by_shift_law_and_one_sided_group(spark):
    # group k: constant shift +5 -> W1 exactly 5 (5e6 micro);
    # group only_old: one-sided -> micro NULL
    old = [("k", v) for v in (1, 3, 7, 20)] + [("only_old", 2)]
    new = [("k", v + 5) for v in (1, 3, 7, 20)]
    out = {r.g: r for r in _w1_by(spark, old, new).collect()}
    assert out["k"].emd_micro == 5_000_000
    assert out["only_old"].emd_micro is None
    assert out["only_old"].n_old == 1 and out["only_old"].n_new == 0


def test_w1_by_matches_python_replay_and_null_group(spark):
    from collections import Counter

    old = [(f"g{i % 2}", (i * 13) % 37) for i in range(140)] + [(None, 1)]
    new = [(f"g{i % 2}", (i * 17) % 53) for i in range(160)]
    got = {r.g: r for r in _w1_by(spark, old, new).collect()}
    assert set(got) == {"g0", "g1"}
    for gname in ("g0", "g1"):
        c1 = Counter(v for g, v in old if g == gname)
        c2 = Counter(v for g, v in new if g == gname)
        n1, n2 = sum(c1.values()), sum(c2.values())
        dom = sorted(set(c1) | set(c2))
        f1 = f2 = 0
        emd = 0
        for i, v in enumerate(dom):
            f1 += c1.get(v, 0)
            f2 += c2.get(v, 0)
            gap = dom[i + 1] - v if i + 1 < len(dom) else 0
            emd += abs(f1 * n2 - f2 * n1) * gap
        r = got[gname]
        assert (r.n_old, r.n_new, r.emd_num) == (n1, n2, emd)
        d = n1 * n2
        assert r.emd_micro == 1_000_000 * (emd // d) + (
            1_000_000 * (emd % d)
        ) // d


def test_w1_by_range_contract_raises_named(spark):
    from radohydro_spark.operators.profile import wasserstein_drift_by

    old = spark.createDataFrame(
        [("k", 0), ("k", 10_000_000_000_000)], "g string, v long"
    )
    new = spark.createDataFrame([("k", 5)], "g string, v long")
    with pytest.raises(Exception, match="wasserstein_drift_by"):
        wasserstein_drift_by(old, new, "v", ["g"]).collect()
