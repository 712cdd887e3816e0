"""Round-14 second batch: categorical TVD drift, the Bloom membership
sketch, the KMV bottom-k overlap sketch, and the deterministic
Poisson-bootstrap CI."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


def _ph(s: str) -> int:
    """Python twin of functions.text.portable_hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# ------------------------------------------------------------ TVD drift


def _tvd(spark, old_rows, new_rows):
    from radohydro_spark.operators.profile import tvd_drift

    o = spark.createDataFrame([(c,) for c in old_rows], "cat string")
    n = spark.createDataFrame([(c,) for c in new_rows], "cat string")
    return tvd_drift(o, n, "cat").collect()[0]


def test_tvd_hand_case(spark):
    # old {a:2, b:1}, new {b:2, c:1}: num = |2*3-0| + |3-6| + |0-3| = 12
    # den = 2*3*3 = 18 -> tvd = 2/3 -> 666666 ppm (floored)
    r = _tvd(spark, ["a", "a", "b"], ["b", "b", "c"])
    assert (r.n_old, r.n_new, r.tvd_num, r.tvd_ppm) == (3, 3, 12, 666666)
    assert (r.top_category, r.top_num) == ("a", 6)


def test_tvd_identical_and_disjoint(spark):
    r = _tvd(spark, ["x", "y", "y"], ["x", "y", "y"])
    assert r.tvd_num == 0 and r.tvd_ppm == 0
    r = _tvd(spark, ["a", "a"], ["b", "b"])
    # disjoint support: tvd = 1.0 exactly
    assert r.tvd_ppm == 1000000


def test_tvd_tie_law_smallest_category(spark):
    # both categories drift by the same numerator: the smaller one wins
    r = _tvd(spark, ["a", "b"], ["b", "a"])
    assert r.tvd_num == 0  # same counts both sides
    r = _tvd(spark, ["a"], ["b"])
    assert r.top_category == "a" and r.tvd_ppm == 1000000


def test_tvd_one_side_empty_and_both_empty(spark):
    from radohydro_spark.operators.profile import tvd_drift

    o = spark.createDataFrame([], "cat string")
    n = spark.createDataFrame([("x",), ("y",)], "cat string")
    r = tvd_drift(o, n, "cat").collect()[0]
    assert r.n_old == 0 and r.n_new == 2 and r.tvd_ppm is None
    r = tvd_drift(o, spark.createDataFrame([], "cat string"), "cat").collect()[0]
    assert all(
        r[c] is None
        for c in ["n_old", "n_new", "tvd_num", "tvd_ppm", "top_category"]
    )


def test_tvd_nulls_excluded_and_matches_python(spark):
    import random

    rng = random.Random(7)
    cats = ["de", "en", "fr", "it", None]
    old = [rng.choice(cats) for _ in range(400)]
    new = [rng.choice(cats[:3]) for _ in range(300)]
    r = _tvd(spark, old, new)
    from collections import Counter

    c1 = Counter(c for c in old if c is not None)
    c2 = Counter(c for c in new if c is not None)
    n1, n2 = sum(c1.values()), sum(c2.values())
    num = sum(
        abs(c1.get(c, 0) * n2 - c2.get(c, 0) * n1) for c in set(c1) | set(c2)
    )
    assert (r.n_old, r.n_new, r.tvd_num) == (n1, n2, num)
    assert r.tvd_ppm == (1_000_000 * num) // (2 * n1 * n2)


# ----------------------------------------------------- Bloom membership


def _bloom(spark, keys, probes, num_bits=1024, num_hashes=4):
    from radohydro_spark.operators.sketch import bloom_membership, bloom_table

    kdf = spark.createDataFrame([(k,) for k in keys], "k string")
    pdf = spark.createDataFrame([(p,) for p in probes], "k string")
    sk = bloom_table(kdf, "k", num_bits=num_bits, num_hashes=num_hashes)
    return {
        r.k: r.bloom_hit
        for r in bloom_membership(
            sk, pdf, "k", num_bits=num_bits, num_hashes=num_hashes
        ).collect()
    }


def test_bloom_no_false_negatives(spark):
    keys = [f"key{i}" for i in range(200)]
    hits = _bloom(spark, keys, keys, num_bits=2048)
    assert all(hits[k] == 1 for k in keys)


def test_bloom_absent_keys_mostly_miss_when_sized(spark):
    keys = [f"key{i}" for i in range(50)]
    absent = [f"other{i}" for i in range(200)]
    # m/n = 4096/50 -> fp rate ~ 1e-5: expect zero hits among 200 probes
    hits = _bloom(spark, keys, absent, num_bits=4096)
    assert sum(hits.values()) == 0
    # saturated filter: 32 bits for 50 keys x 4 hashes -> everything hits
    sat = _bloom(spark, keys, absent, num_bits=32)
    assert all(v == 1 for v in sat.values())


def test_bloom_words_mergeable_and_bounded(spark):
    from radohydro_spark.operators.sketch import bloom_table

    a = spark.createDataFrame([(f"a{i}",) for i in range(80)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(80)], "k string")
    full = a.union(b)
    merged = (
        bloom_table(a, "k", 512, 4)
        .union(bloom_table(b, "k", 512, 4))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    want = {
        (r.word, r.bits) for r in bloom_table(full, "k", 512, 4).collect()
    }
    got = {(r.word, r.bits) for r in merged.collect()}
    assert got == want
    assert len(want) <= 512 // 32
    # 32-bit lanes: no word ever sets the BIGINT sign region
    assert all(0 <= bits < (1 << 32) for _, bits in want)


# ------------------------------------------------------- KMV overlap


def test_kmv_exact_below_k(spark):
    from radohydro_spark.operators.sketch import kmv_overlap, kmv_sketch

    a = spark.createDataFrame([(i,) for i in range(60)], "k long")
    b = spark.createDataFrame([(i,) for i in range(40, 90)], "k long")
    sa, sb = kmv_sketch(a, "k", k=256), kmv_sketch(b, "k", k=256)
    r = kmv_overlap(sa, sb, k=256).collect()[0]
    # fewer distinct than k on both sides: everything is exact
    assert (r.n_a, r.n_b) == (60, 50)
    assert r.n_union_sketch == 90 and r.union_est == 90
    assert r.n_common == 20 and r.inter_est == 20
    assert r.jaccard_ppm == (1_000_000 * 20) // 90


def test_kmv_estimates_above_k(spark):
    from radohydro_spark.operators.sketch import kmv_overlap, kmv_sketch

    a = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    b = spark.createDataFrame([(i,) for i in range(2500, 7500)], "k long")
    sa, sb = kmv_sketch(a, "k", k=256), kmv_sketch(b, "k", k=256)
    r = kmv_overlap(sa, sb, k=256).collect()[0]
    assert r.n_a == 256 and r.n_b == 256 and r.n_union_sketch == 256
    # true union 7500, intersection 2500, jaccard 1/3: KMV with k=256
    # has ~1/sqrt(k) ~ 6% relative error; allow 25%
    assert abs(r.union_est - 7500) / 7500 < 0.25
    assert abs(r.inter_est - 2500) / 2500 < 0.35
    assert abs(r.jaccard_ppm - 333333) / 333333 < 0.35


def test_kmv_sketch_mergeable_and_takeordered(spark):
    from radohydro_spark.operators.sketch import kmv_sketch

    a = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    b = spark.createDataFrame([(i,) for i in range(500, 1500)], "k long")
    direct = [r.hv for r in kmv_sketch(a.union(b), "k", k=64).collect()]
    merged = (
        kmv_sketch(a, "k", k=64)
        .union(kmv_sketch(b, "k", k=64))
        .distinct()
        .orderBy("hv")
        .limit(64)
    )
    assert [r.hv for r in merged.collect()] == direct
    # bottom-k plans TakeOrderedAndProject, never a global Sort+Limit
    plan = kmv_sketch(a, "k", k=64)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_kmv_hash_matches_python(spark):
    from radohydro_spark.operators.sketch import kmv_sketch

    vals = [f"tok{i}" for i in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    got = [r.hv for r in kmv_sketch(df, "k", k=10).collect()]
    want = sorted({_ph(v) for v in vals})[:10]
    assert got == want


# --------------------------------------------- Poisson bootstrap CI


def _poisson_w(b: int, key: str) -> int:
    from radohydro_spark.operators.aggregate import _POISSON1_CUM_T32

    if b == -1:
        return 1
    u = _ph(f"{b}:{key}")
    for j, t in enumerate(_POISSON1_CUM_T32):
        if u < t:
            return j
    return len(_POISSON1_CUM_T32)


def test_bootstrap_point_is_exact_mean_and_replicates_match_python(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    rows = [(i, 100 + (i * 37) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x long")
    r = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=20).collect()[0]
    xs = [x for _, x in rows]
    assert r.n_rows == 500 and r.n_replicates == 20
    assert r.point_micro == (1_000_000 * sum(xs)) // len(xs)
    # replay every replicate in python and pick the same ranks
    means = []
    for b in range(20):
        swx = sum(_poisson_w(b, str(i)) * x for i, x in rows)
        sw = sum(_poisson_w(b, str(i)) for i, _ in rows)
        means.append(((1_000_000 * swx) // sw, b))
    means.sort()
    lo = means[-(-25 * 20 // 1000) - 1][0]
    hi = means[-(-975 * 20 // 1000) - 1][0]
    assert (r.lo_micro, r.hi_micro) == (lo, hi)
    assert r.lo_micro <= r.point_micro <= r.hi_micro


def test_bootstrap_partitioning_invariant_and_weights_poisson_like(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    rows = [(i, (i * 13) % 97) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, x long")
    r1 = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=30).collect()[0]
    r2 = poisson_bootstrap_ci(
        df.repartition(17), "x", ["id"], n_replicates=30
    ).collect()[0]
    assert r1 == r2
    # the deterministic weights behave like Poisson(1): mean ~ 1
    total_w = sum(_poisson_w(b, str(i)) for b in range(5) for i, _ in rows)
    assert abs(total_w / (5 * 800) - 1.0) < 0.05


def test_bootstrap_empty_input_all_null_row(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    df = spark.createDataFrame([], "id long, x long")
    r = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=10).collect()[0]
    assert r.n_rows == 0 and r.point_micro is None
    assert r.lo_micro is None and r.hi_micro is None


# ----------------------------------------------------- EWMA (halving)


def test_ewma_hand_case(spark):
    from radohydro_spark.operators.aggregate import ewma_halving

    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 2), ("g", 3, 4)], "g string, t int, x long"
    )
    out = {
        r.t: r.ewma_micro
        for r in ewma_halving(df, ["g"], "t", "x", lags=3).collect()
    }
    # weights 4,2,1; present-lag denominator
    assert out[1] == 1_000_000            # 4/4
    assert out[2] == (1_000_000 * 10) // 6   # (2*4+1*2)/6
    assert out[3] == 3_000_000            # (4*4+2*2+1)/7 = 21/7


def test_ewma_matches_python_and_null_excluded(spark):
    from radohydro_spark.operators.aggregate import ewma_halving

    rows = [
        ("a", t, None if t % 7 == 3 else (t * 31) % 100) for t in range(40)
    ] + [("b", t, (t * 17) % 50) for t in range(25)]
    df = spark.createDataFrame(rows, "g string, t int, x long")
    got = {
        (r.g, r.t): r.ewma_micro
        for r in ewma_halving(df, ["g"], "t", "x", lags=12).collect()
    }
    series = {}
    for g, t, x in rows:
        if x is not None:
            series.setdefault(g, []).append((t, x))
    want = {}
    for g, pts in series.items():
        pts.sort()
        for i, (t, _) in enumerate(pts):
            num = den = 0
            for j in range(12):
                if i - j < 0:
                    break
                wt = 1 << (11 - j)
                num += pts[i - j][1] * wt
                den += wt
            want[(g, t)] = (1_000_000 * num) // den
    assert got == want


def test_ewma_domain_assert_and_single_window(spark):
    from radohydro_spark.operators.aggregate import ewma_halving

    bad = spark.createDataFrame(
        [("g", 1, 1 << 52)], "g string, t int, x long"
    )
    with pytest.raises(Exception, match="ewma_halving"):
        ewma_halving(bad, ["g"], "t", "x", lags=12).collect()
    ok = spark.createDataFrame(
        [("g", t, t) for t in range(5)], "g string, t int, x long"
    )
    plan = (
        ewma_halving(ok, ["g"], "t", "x", lags=12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # all 12 lags share ONE Window node (one exchange, one sort)
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1


# ------------------------------------------- streaming TVD monitor


def test_stream_category_drift_matches_batch_law(spark, tmp_path):
    import datetime

    from radohydro_spark.streaming import (
        run_available_now,
        stream_category_drift,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # hour 0: uniform mix -> tvd 0; hour 1: all 'a' -> tvd = 1 - 1/3
    for i, c in enumerate(["a", "b", "c"] * 4):
        rows.append((base + datetime.timedelta(minutes=i), c))
    for i in range(6):
        rows.append((base + datetime.timedelta(hours=1, minutes=i), "a"))
    # out-of-reference category: excluded entirely
    rows.append((base + datetime.timedelta(hours=1, minutes=30), "zz"))
    df = spark.createDataFrame(rows, "ts timestamp, cat string")
    src = str(tmp_path / "cat_events")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    drift = stream_category_drift(
        stream, "ts", "cat", "1 hour", {"a": 1, "b": 1, "c": 1}
    )
    got = {
        r.ts: (r.n, r.tvd_num, r.tvd_ppm)
        for r in run_available_now(
            drift, "tvd_mon", str(tmp_path / "ck"), "complete"
        ).collect()
    }
    assert got[base] == (12, 0, 0)
    # hour 1: counts (6,0,0), n=6, R=3: num = |18-6| + 6 + 6 = 24
    # tvd = 24 / (2*6*3) = 2/3
    h1 = base + datetime.timedelta(hours=1)
    assert got[h1] == (6, 24, 666666)
    assert len(got) == 2


# ------------------------------------------- Wasserstein-1 drift


def _w1(spark, old_vals, new_vals, n_parts=None, collect=lambda df: df.collect()):
    from radohydro_spark.operators.profile import wasserstein_drift

    o = spark.createDataFrame([(v,) for v in old_vals], "v long")
    n = spark.createDataFrame([(v,) for v in new_vals], "v long")
    return collect(wasserstein_drift(o, n, "v", n_parts=n_parts))[0]


def test_w1_hand_case_and_shift_sensitivity(spark):
    # point mass at 1 vs point mass at 3: W1 = 2 exactly
    r = _w1(spark, [1, 1], [3])
    assert (r.n_old, r.n_new, r.emd_num) == (2, 1, 4)
    assert r.emd_micro == 2_000_000
    # KS cannot tell these apart (both D=1); W1 scales with the move
    far = _w1(spark, [1, 1], [1003])
    assert far.emd_micro == 1_002_000_000  # moved 1002 units


def test_w1_identical_and_n_parts_invariance(spark, cache_free_collect):
    vals = [(i * 37) % 1000 for i in range(500)]
    assert _w1(spark, vals, vals).emd_num == 0
    # the second domain (35 values) has fewer values than 48 ranges
    for vals, parts in ((vals, (1, 3, 32)), ([i % 30 for i in range(200)], (1, 3, 48))):
        shifted = [v + 5 for v in vals]
        rs = [
            _w1(spark, vals, shifted, n_parts=p, collect=cache_free_collect)
            for p in parts
        ]
        assert len({(r.emd_num, r.emd_micro) for r in rs}) == 1
        # constant shift by 5: W1 = 5 exactly
        assert rs[0].emd_micro == 5_000_000
    r = _w1(spark, [], [], n_parts=48, collect=cache_free_collect)
    assert all(v is None for v in r)


def test_w1_matches_python_and_empty(spark):
    import random

    from radohydro_spark.operators.profile import wasserstein_drift

    rng = random.Random(11)
    old = [rng.randrange(0, 200) for _ in range(300)]
    new = [rng.randrange(50, 300) for _ in range(200)]
    r = _w1(spark, old, new)
    n1, n2 = len(old), len(new)
    dom = sorted(set(old) | set(new))
    from collections import Counter

    c1, c2 = Counter(old), Counter(new)
    f1 = f2 = num = 0
    for i, v in enumerate(dom[:-1]):
        f1 += c1.get(v, 0)
        f2 += c2.get(v, 0)
        num += abs(f1 * n2 - f2 * n1) * (dom[i + 1] - v)
    assert (r.n_old, r.n_new, r.emd_num) == (n1, n2, num)
    assert r.emd_micro == (1_000_000 * num) // (n1 * n2)
    e = spark.createDataFrame([], "v long")
    out = wasserstein_drift(e, e, "v").collect()[0]
    assert all(out[c] is None for c in out.asDict())


# ----------------------------------------------------- Gini


def _gini(spark, vals, n_parts=None, collect=lambda df: df.collect()):
    from radohydro_spark.operators.profile import gini_coefficient

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    return collect(gini_coefficient(df, "v", n_parts=n_parts))[0]


def test_gini_hand_cases(spark):
    # [1,1,2]: gini = 1/6
    r = _gini(spark, [1, 1, 2])
    assert (r.n_rows, r.total) == (3, 4)
    assert r.gini_ppm == 1_000_000 // 6
    # perfectly uniform -> 0
    assert _gini(spark, [7] * 20).gini_ppm == 0
    # one row holds everything: gini = (n-1)/n
    r = _gini(spark, [0] * 9 + [100])
    assert r.gini_ppm == 900_000


def test_gini_matches_python_and_invariance(spark, cache_free_collect):
    import random

    rng = random.Random(13)
    # the second domain (40 values) has fewer values than 64 ranges
    for hi, parts in ((10_000, (1, 5, 32)), (40, (1, 5, 64))):
        vals = [rng.randrange(0, hi) for _ in range(400)]
        rs = [
            _gini(spark, vals, n_parts=p, collect=cache_free_collect)
            for p in parts
        ]
        assert len({(r.gini_num, r.gini_ppm) for r in rs}) == 1
        xs = sorted(vals)
        n, t = len(xs), sum(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        assert rs[0].gini_num == num
        assert rs[0].gini_ppm == (1_000_000 * num) // (n * t)
    r = _gini(spark, [], n_parts=64, collect=cache_free_collect)
    assert all(v is None for v in r)


def test_gini_negative_asserts_and_empty(spark):
    from radohydro_spark.operators.profile import gini_coefficient

    bad = spark.createDataFrame([(1,), (-2,)], "v long")
    with pytest.raises(Exception, match="gini_coefficient"):
        gini_coefficient(bad, "v").collect()
    e = spark.createDataFrame([], "v long")
    out = gini_coefficient(e, "v").collect()[0]
    assert all(out[c] is None for c in out.asDict())


# ---------------------------------------- r14 review regression pins


def test_w1_wide_range_small_n_no_div_zero(spark):
    # r14 review #1: emd_num > 9e12 with n1*n2 < 1e6 hit 'div 0' in the
    # old else branch; the decomposed law is exact here
    r = _w1(spark, [0] * 100, [10**12] * 100)
    assert r.emd_num == 100 * 100 * 10**12
    assert r.emd_micro == 10**12 * 1_000_000  # W1 = 10^12 units exactly


def test_w1_range_contract_named(spark):
    from radohydro_spark.operators.profile import wasserstein_drift

    o = spark.createDataFrame([(0,)], "v long")
    n = spark.createDataFrame([(10**13,)], "v long")
    with pytest.raises(ValueError, match="wasserstein_drift.*range"):
        wasserstein_drift(o, n, "v").collect()


def test_bootstrap_zero_weight_replicate_nulls_last(spark):
    # r14 review #2: tiny n makes zero-weight replicates (mean NULL)
    # likely; the rank-pick must sort them LAST (the oracle's order)
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    rows = [(i, 10) for i in range(3)]
    df = spark.createDataFrame(rows, "id long, x long")
    r = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=200).collect()[0]
    # python replay with NULLs-last ordering
    means = []
    for b in range(200):
        sw = sum(_poisson_w(b, str(i)) for i, _ in rows)
        swx = sum(_poisson_w(b, str(i)) * x for i, x in rows)
        means.append(
            (1, 0, b) if sw == 0 else (0, (1_000_000 * swx) // sw, b)
        )
    means.sort()  # (null_flag, value, b): nulls last
    assert any(m[0] == 1 for m in means), "fixture lost its zero-weight case"

    def pick(rank):
        t = means[rank - 1]
        return None if t[0] else t[1]

    assert (r.lo_micro, r.hi_micro) == (pick(5), pick(195))


def test_gini_guard_is_2nt_and_top_half_domain_works(spark):
    from radohydro_spark.operators.profile import gini_coefficient

    # 2nT in [2^62, 2^63): must raise the NAMED error, not ANSI overflow
    bad = spark.createDataFrame([(1 << 60,), (1 << 60,)], "v long")
    with pytest.raises(ValueError, match="gini_coefficient.*2\\*n\\*T"):
        gini_coefficient(bad, "v").collect()
    # just under the (corrected) bound: runs clean
    ok = spark.createDataFrame([(1 << 59,), (1 << 59,)], "v long")
    r = gini_coefficient(ok, "v").collect()[0]
    assert r.gini_ppm == 0


def test_stream_drift_reference_weight_guard():
    from radohydro_spark.streaming import stream_category_drift

    with pytest.raises(ValueError, match="stream_category_drift"):
        stream_category_drift(
            None, "ts", "cat", "1 hour", {"a": 10**10, "b": 10**10}
        )


def test_bloom_null_probe_key_is_zero_not_null(spark):
    from radohydro_spark.operators.sketch import bloom_membership, bloom_table

    kdf = spark.createDataFrame([("x",), ("y",)], "k string")
    sk = bloom_table(kdf, "k", num_bits=1024, num_hashes=4)
    probes = spark.createDataFrame([("x",), (None,)], "k string")
    got = {
        r.k: r.bloom_hit
        for r in bloom_membership(sk, probes, "k", 1024, 4).collect()
    }
    assert got["x"] == 1 and got[None] == 0


def test_bootstrap_fast_path_deterministic_and_poisson_like(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    rows = [(i, 100 + (i * 7) % 31) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x long")
    fast = lambda d: poisson_bootstrap_ci(
        d, "x", ["id"], n_replicates=30, portable=False
    ).collect()[0]
    r1, r2 = fast(df), fast(df.repartition(13))
    assert r1 == r2  # deterministic + partitioning-invariant
    # same point estimate as the portable path (weight-1 replicate)
    slow = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=30).collect()[0]
    assert r1.point_micro == slow.point_micro
    # xxhash64 weights are Poisson(1)-like too: CI brackets the mean
    assert r1.lo_micro <= r1.point_micro <= r1.hi_micro
    # and the interval is in the same ballpark as the portable one
    assert abs(r1.lo_micro - slow.lo_micro) < 5 * (slow.hi_micro - slow.lo_micro)


def test_bootstrap_by_group_matches_global_on_single_group(spark):
    from radohydro_spark.operators.aggregate import (
        poisson_bootstrap_ci,
        poisson_bootstrap_ci_by,
    )

    rows = [("g", i, 100 + (i * 37) % 50) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, id long, x long")
    by = poisson_bootstrap_ci_by(
        df, "x", ["id"], ["g"], n_replicates=20
    ).collect()[0]
    glob = poisson_bootstrap_ci(
        df.drop("g"), "x", ["id"], n_replicates=20
    ).collect()[0]
    # one group == the global operator (same hash keys, same ranks)
    assert (by.point_micro, by.lo_micro, by.hi_micro, by.n_rows) == (
        glob.point_micro,
        glob.lo_micro,
        glob.hi_micro,
        glob.n_rows,
    )
    assert by.g == "g"


def test_bootstrap_by_group_independent_arms(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci_by

    rows = [("a", i, 100) for i in range(300)] + [
        ("b", i + 1000, 500 + (i % 9)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, id long, x long")
    out = {
        r.g: r
        for r in poisson_bootstrap_ci_by(
            df, "x", ["id"], ["g"], n_replicates=40
        ).collect()
    }
    assert set(out) == {"a", "b"}
    # constant arm: every replicate mean is exactly 100
    assert (
        out["a"].point_micro
        == out["a"].lo_micro
        == out["a"].hi_micro
        == 100_000_000
    )
    # arms do not bleed into each other
    assert out["b"].lo_micro <= out["b"].point_micro <= out["b"].hi_micro
    assert out["b"].point_micro > 500_000_000
    assert (out["a"].n_rows, out["b"].n_rows) == (300, 300)


# -------------------------------------------------- calibration bins


def test_calibration_hand_case_and_edges(spark):
    from radohydro_spark.operators.profile import calibration_bins

    # scores 0..99, label = score >= 50: bucket law s*10 div 99 puts
    # 0..49 in bins 0-4 and 50..99 in bins 5-9 — a clean step function
    rows = [(s, 1 if s >= 50 else 0) for s in range(100)]
    df = spark.createDataFrame(rows, "s long, y long")
    out = {r.bin: r for r in calibration_bins(df, "s", "y", 10).collect()}
    assert len(out) == 10
    assert all(out[b].pos_ppm == 0 for b in range(5))
    assert all(out[b].pos_ppm == 1_000_000 for b in range(5, 10))
    assert out[0].bin_lo == 0 and out[9].bin_hi == 99
    assert sum(out[b].n for b in out) == 100


def test_calibration_constant_score_and_empty(spark):
    from radohydro_spark.operators.profile import calibration_bins

    const = spark.createDataFrame([(7, 1), (7, 0)], "s long, y long")
    r = calibration_bins(const, "s", "y", 10).collect()
    assert len(r) == 1 and r[0].bin == 0 and r[0].pos_ppm == 500_000
    empty = spark.createDataFrame([], "s long, y long")
    assert calibration_bins(empty, "s", "y", 10).collect() == []


def test_calibration_matches_python(spark):
    import random

    from radohydro_spark.operators.profile import calibration_bins

    rng = random.Random(5)
    rows = [
        (rng.randrange(-50, 1000), rng.randrange(0, 2)) for _ in range(700)
    ]
    df = spark.createDataFrame(rows, "s long, y long")
    got = {
        r.bin: (r.n, r.n_pos, r.pos_ppm)
        for r in calibration_bins(df, "s", "y", 10).collect()
    }
    lo = min(s for s, _ in rows)
    hi = max(s for s, _ in rows)
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for s, y in rows:
        b = min((s - lo) * 10 // (hi - lo), 9)
        agg[b][0] += 1
        agg[b][1] += y
    want = {
        b: (n, p, 1_000_000 * p // n) for b, (n, p) in agg.items()
    }
    assert got == want


# ------------------------------------ r14 second-review regression pins


def test_bootstrap_by_null_group_excluded_not_silently_joined_away(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci_by

    rows = [("a", i, 10) for i in range(50)] + [
        (None, i + 100, 99) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, id long, x long")
    out = poisson_bootstrap_ci_by(
        df, "x", ["id"], ["g"], n_replicates=10
    ).collect()
    # NULL group keys are excluded by contract (not silently dropped
    # AFTER the full pipeline by a null-unsafe join)
    assert [r.g for r in out] == ["a"] and out[0].n_rows == 50


def test_bootstrap_by_reserved_group_name_raises(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci_by

    df = spark.createDataFrame([(1, 2, 3)], "b long, id long, x long")
    with pytest.raises(ValueError, match="poisson_bootstrap.*collide"):
        poisson_bootstrap_ci_by(df, "x", ["id"], ["b"], n_replicates=5)


def test_bootstrap_mean_law_invalid_branch_raises_named(spark):
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    # |swx| > 9e12 with sw < 10^6: the old law divided by zero; now the
    # named raise_error fires
    rows = [(i, 10**12) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, x long")
    with pytest.raises(Exception, match="poisson_bootstrap"):
        poisson_bootstrap_ci(df, "x", ["id"], n_replicates=10).collect()


def test_bootstrap_global_unchanged_after_refactor(spark):
    # the shared-helper refactor must be value-identical to the
    # pre-refactor law (pinned by the python replay test above; here a
    # cheap cross-check that global == by-with-constant-group)
    from radohydro_spark.operators.aggregate import (
        poisson_bootstrap_ci,
        poisson_bootstrap_ci_by,
    )

    rows = [(i, 100 + (i * 13) % 40) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, x long")
    g = poisson_bootstrap_ci(df, "x", ["id"], n_replicates=15).collect()[0]
    by = poisson_bootstrap_ci_by(
        df.withColumn("arm", F.lit("only")),
        "x",
        ["id"],
        ["arm"],
        n_replicates=15,
    ).collect()[0]
    assert (g.point_micro, g.lo_micro, g.hi_micro) == (
        by.point_micro,
        by.lo_micro,
        by.hi_micro,
    )


def test_calibration_bounds_are_true_preimage(spark):
    from radohydro_spark.operators.profile import calibration_bins

    rows = [(s, 0) for s in range(100)]
    df = spark.createDataFrame(rows, "s long, y long")
    out = calibration_bins(df, "s", "y", 10).collect()
    lo, hi, rng, n = 0, 99, 99, 10
    for r in out:
        # bin_lo must itself belong to the bin; bin_lo-1 must not
        assert min((r.bin_lo - lo) * n // rng, n - 1) == r.bin
        if r.bin_lo > lo:
            assert min((r.bin_lo - 1 - lo) * n // rng, n - 1) == r.bin - 1
        # exclusive hi: the last member is bin_hi-1 (last bin closed)
        top = r.bin_hi if r.bin == 9 else r.bin_hi - 1
        assert min((top - lo) * n // rng, n - 1) == r.bin


# --------------------------- hypothesis property pins (integer laws)

from hypothesis import given, settings, strategies as st

_cats = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=30
)


@settings(max_examples=20, deadline=None)
@given(old=_cats, new=_cats)
def test_tvd_law_property(spark, old, new):
    from collections import Counter

    r = _tvd(spark, old, new)
    c1, c2 = Counter(old), Counter(new)
    n1, n2 = len(old), len(new)
    if n1 == 0 and n2 == 0:
        assert r.tvd_num is None
        return
    num = sum(
        abs(c1.get(c, 0) * n2 - c2.get(c, 0) * n1) for c in set(c1) | set(c2)
    )
    assert (r.n_old, r.n_new, r.tvd_num) == (n1, n2, num)
    if n1 and n2:
        assert r.tvd_ppm == (1_000_000 * num) // (2 * n1 * n2)
    else:
        assert r.tvd_ppm is None


_vals = st.lists(st.integers(min_value=-500, max_value=500), max_size=25)


@settings(max_examples=20, deadline=None)
@given(old=_vals, new=_vals)
def test_w1_law_property(spark, old, new):
    from collections import Counter

    r = _w1(spark, old, new)
    n1, n2 = len(old), len(new)
    if n1 == 0 and n2 == 0:
        assert r.emd_num is None
        return
    dom = sorted(set(old) | set(new))
    c1, c2 = Counter(old), Counter(new)
    f1 = f2 = num = 0
    for i, v in enumerate(dom[:-1]):
        f1 += c1.get(v, 0)
        f2 += c2.get(v, 0)
        num += abs(f1 * n2 - f2 * n1) * (dom[i + 1] - v)
    assert (r.n_old, r.n_new, r.emd_num) == (n1, n2, num)
    if n1 and n2:
        d = n1 * n2
        assert r.emd_micro == 1_000_000 * (num // d) + (
            1_000_000 * (num % d)
        ) // d
    else:
        assert r.emd_micro is None


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=1000), max_size=25)
)
def test_gini_law_property(spark, vals):
    r = _gini(spark, vals)
    if not vals:
        assert r.gini_ppm is None
        return
    xs = sorted(vals)
    n, t = len(xs), sum(xs)
    num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
    assert (r.n_rows, r.total, r.gini_num) == (n, t, num)
    assert r.gini_ppm == ((1_000_000 * num) // (n * t) if t else None)


# ------------------------------------------------ CUSUM change-point


def _cusum(spark, pairs, n_parts=None, collect=lambda df: df.collect()):
    from radohydro_spark.operators.profile import cusum_changepoint

    df = spark.createDataFrame(pairs, "t long, x long")
    return collect(cusum_changepoint(df, "t", "x", n_parts=n_parts))[0]


def test_cusum_finds_the_step(spark):
    # mean 10 for t<50, mean 30 for t>=50: the scan peaks at t=49
    pairs = [(t, 10 if t < 50 else 30) for t in range(100)]
    r = _cusum(spark, pairs)
    assert r.at_value == 49
    # |n*S(49) - c*T| = |100*500 - 50*2000| = 50000
    assert r.cusum_num == 50_000 and (r.n_rows, r.total) == (100, 2000)
    assert r.cusum_micro == (1_000_000 * 50_000) // (100 * 2000)


def test_cusum_constant_series_and_invariance(spark, cache_free_collect):
    pairs = [(t, 7) for t in range(60)]
    assert _cusum(spark, pairs).cusum_num == 0
    import random

    rng = random.Random(3)
    # the second series repeats each of its 40 instants 5 times, under
    # more ranges than instants
    for ts, parts in ((range(200), (1, 4, 32)), ([t % 40 for t in range(200)], (1, 4, 64))):
        data = [(t, rng.randrange(-50, 100)) for t in ts]
        rs = [
            _cusum(spark, data, n_parts=p, collect=cache_free_collect)
            for p in parts
        ]
        assert len({(r.cusum_num, r.at_value, r.cusum_micro) for r in rs}) == 1
        # python replay: one scan boundary per distinct instant
        n = len(data)
        tot = sum(x for _, x in data)
        s = c = best = 0
        at = None
        for t in sorted({t for t, _ in data}):
            s += sum(x for u, x in data if u == t)
            c += sum(1 for u, _ in data if u == t)
            d = abs(n * s - c * tot)
            if d > best:
                best, at = d, t
        assert (rs[0].cusum_num, rs[0].at_value) == (best, at)
    r = _cusum(spark, [], n_parts=64, collect=cache_free_collect)
    assert all(v is None for v in r)


def test_cusum_mixed_sign_zero_total_and_contract(spark):
    from radohydro_spark.operators.profile import cusum_changepoint

    # T = 0 but Sigma|x| > 0: the n*|T| normalization would have been
    # degenerate; the n*Sigma|x| law stays finite
    pairs = [(0, -5), (1, -5), (2, 5), (3, 5)]
    r = _cusum(spark, pairs)
    assert r.total == 0 and r.cusum_num == 40 and r.at_value == 1
    assert r.cusum_micro == (1_000_000 * 40) // (4 * 20)
    bad = spark.createDataFrame([(1, 1 << 61), (2, 1 << 61)], "t long, x long")
    with pytest.raises(ValueError, match="cusum_changepoint"):
        cusum_changepoint(bad, "t", "x").collect()
    e = spark.createDataFrame([], "t long, x long")
    out = cusum_changepoint(e, "t", "x").collect()[0]
    assert all(out[c] is None for c in out.asDict())


def test_cusum_timestamp_order_column(spark):
    import datetime

    from radohydro_spark.operators.profile import cusum_changepoint

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), 1 if h < 10 else 3)
        for h in range(20)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, x long")
    r = cusum_changepoint(df, "ts", "x").collect()[0]
    # the argmin tie law must survive a non-negatable order type
    assert r.at_value == base + datetime.timedelta(hours=9)
