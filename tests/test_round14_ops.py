"""Round-14 additions: batched-selection BPE training, the
perplexity-cutpoint calibration helper, and the ks_drift /
dedup_paragraphs reworks (whose tests live next to their r13 siblings
in test_round13_ops.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radohydro_spark.functions.text import bpe_train_merges


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------ Count-Min sketch


def test_cms_one_sided_and_exact_without_collisions(spark):
    import random

    from radohydro_spark.operators.sketch import (
        count_min_estimate,
        count_min_table,
    )

    rng = random.Random(3)
    rows = [(rng.randrange(0, 40),) for _ in range(2000)]
    df = spark.createDataFrame(rows, "k long")
    exact = {}
    for (v,) in rows:
        exact[v] = exact.get(v, 0) + 1
    keys = spark.createDataFrame([(v,) for v in exact], "k long")
    # narrow sketch: estimates must be one-sided overestimates
    sk = count_min_table(df, "k", depth=4, width=16)
    est = {
        r.k: r.cms_n
        for r in count_min_estimate(sk, keys, "k", depth=4, width=16).collect()
    }
    assert all(est[v] >= exact[v] for v in exact)
    # wide sketch: 40 keys in 4x4096 counters -> collisions vanishingly
    # unlikely with the md5 hash; estimates equal exact counts
    skw = count_min_table(df, "k", depth=4, width=4096)
    estw = {
        r.k: r.cms_n
        for r in count_min_estimate(
            skw, keys, "k", depth=4, width=4096
        ).collect()
    }
    assert estw == exact


def test_cms_sketch_size_bounded_and_absent_key_zero(spark):
    from radohydro_spark.operators.sketch import (
        count_min_estimate,
        count_min_table,
    )

    df = spark.createDataFrame([(i % 7,) for i in range(500)], "k long")
    sk = count_min_table(df, "k", depth=3, width=8)
    assert sk.count() <= 3 * 8
    ghost = spark.createDataFrame([(999_999,)], "k long")
    est = count_min_estimate(sk, ghost, "k", depth=3, width=8).collect()[0]
    # an absent key can only overcount via collisions; with 7 live keys
    # in 8 buckets the min over 3 rows is very likely 0, but the
    # GUARANTEE is only est >= 0 — pin determinism instead
    again = count_min_estimate(sk, ghost, "k", depth=3, width=8).collect()[0]
    assert est.cms_n == again.cms_n >= 0


def test_cms_merge_is_counter_sum(spark):
    # sketches of two corpus halves sum counter-wise to the full sketch
    from radohydro_spark.operators.sketch import count_min_table

    df = spark.createDataFrame([(i % 11,) for i in range(400)], "k long")
    a = df.filter(F.col("k") < 5)
    b = df.filter(F.col("k") >= 5)
    full = {
        (r.d, r.bucket): r.n
        for r in count_min_table(df, "k", 4, 32).collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in count_min_table(part, "k", 4, 32).collect():
            merged[(r.d, r.bucket)] = merged.get((r.d, r.bucket), 0) + r.n
    assert merged == full


# ----------------------------------------------------- Mann-Whitney AUC


def test_auc_hand_case_with_ties(spark):
    from radohydro_spark.operators.profile import auc_mann_whitney

    # scores [1,2,2,3], labels [0,0,1,1]: ranks 1, 2.5, 2.5, 4 ->
    # R+ = 6.5, 2R+ = 13, AUC = (6.5 - 3)/(2*2) = 0.875
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (2, 1), (3, 1)], "s long, y long"
    )
    r = auc_mann_whitney(df, "s", "y").collect()[0]
    assert tuple(r) == (2, 2, 13, 875_000)


def test_auc_matches_brute_force_pair_count(spark):
    import random

    from radohydro_spark.operators.profile import auc_mann_whitney

    rng = random.Random(7)
    rows = [(rng.randrange(0, 50), rng.randrange(0, 2)) for _ in range(500)]
    df = spark.createDataFrame(rows, "s long, y long")
    r = auc_mann_whitney(df, "s", "y").collect()[0]
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    conc2 = 2 * sum(1 for p in pos for n in neg if p > n) + sum(
        1 for p in pos for n in neg if p == n
    )
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert r.auc_ppm == (conc2 * 1_000_000) // (2 * len(pos) * len(neg))


def test_auc_perfect_and_reversed_separation(spark):
    from radohydro_spark.operators.profile import auc_mann_whitney

    df = spark.createDataFrame(
        [(i, 1 if i >= 50 else 0) for i in range(100)], "s long, y long"
    )
    assert auc_mann_whitney(df, "s", "y").collect()[0].auc_ppm == 1_000_000
    rev = df.select((-F.col("s")).alias("s"), "y")
    assert auc_mann_whitney(rev, "s", "y").collect()[0].auc_ppm == 0


def test_auc_single_class_null_ppm_and_empty_row(spark):
    from radohydro_spark.operators.profile import auc_mann_whitney

    ones = spark.createDataFrame([(1, 1), (2, 1)], "s long, y long")
    r = auc_mann_whitney(ones, "s", "y").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc_ppm) == (2, 0, None)
    empty = spark.createDataFrame([], "s long, y long")
    e = auc_mann_whitney(empty, "s", "y").collect()
    assert len(e) == 1 and tuple(e[0]) == (None, None, None, None)


def test_auc_invariant_to_n_parts(spark, cache_free_collect):
    import random

    from radohydro_spark.operators.profile import auc_mann_whitney

    rng = random.Random(99)
    for hi, parts in ((1000, (1, 3, 32)), (20, (1, 3, 32))):
        # the second domain has fewer distinct scores than 32 ranges
        rows = [(rng.randrange(0, hi), rng.randrange(0, 2)) for _ in range(400)]
        df = spark.createDataFrame(rows, "s long, y long")
        got = {
            p: tuple(cache_free_collect(auc_mann_whitney(df, "s", "y", n_parts=p))[0])
            for p in parts
        }
        assert len(set(got.values())) == 1
    e = cache_free_collect(auc_mann_whitney(df.limit(0), "s", "y", n_parts=32))
    assert [tuple(r) for r in e] == [(None, None, None, None)]


def test_auc_domain_guard_raises_named(spark):
    from unittest import mock

    from radohydro_spark.operators import profile as P

    df = spark.createDataFrame([(1, 0), (2, 1)], "s long, y long")
    fake = [dict(_t=[], _ct=1 << 32, _cp=1 << 31)]

    class _R(dict):
        pass

    with mock.patch(
        "pyspark.sql.classic.dataframe.DataFrame.collect",
        return_value=[_R(fake[0])],
    ):
        with pytest.raises(ValueError, match=r"auc_mann_whitney: 2\*n_pos"):
            P.auc_mann_whitney(df, "s", "y")


# --------------------------------------------- perplexity cut calibration


def test_calibrate_perplexity_cuts_reproduces_target_fractions(spark):
    """The CCNet recipe: derive (lo, hi) from a quantile pass, pin them,
    and the bucketer's fixed-threshold split reproduces the target
    head/middle/tail fractions on the calibration corpus."""
    from radohydro_spark.functions.text import (
        calibrate_perplexity_cuts,
        perplexity_buckets,
    )

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    lo, hi = calibrate_perplexity_cuts(df)
    assert isinstance(lo, int) and isinstance(hi, int) and lo < hi
    out = perplexity_buckets(df, cuts_micro=(lo, hi))
    counts = {
        r["ppl_bucket"]: r["n"]
        for r in out.groupBy("ppl_bucket").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    for bucket in ("head", "middle", "tail"):
        frac = counts.get(bucket, 0) / total
        assert abs(frac - 1 / 3) < 0.05, (bucket, frac, counts)


def test_calibrate_perplexity_cuts_custom_fractions(spark):
    from radohydro_spark.functions.text import (
        calibrate_perplexity_cuts,
        perplexity_buckets,
    )

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    lo, hi = calibrate_perplexity_cuts(df, head_frac=0.1, tail_frac=0.2)
    out = perplexity_buckets(df, cuts_micro=(lo, hi))
    counts = {
        r["ppl_bucket"]: r["n"]
        for r in out.groupBy("ppl_bucket").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert abs(counts.get("head", 0) / total - 0.1) < 0.05
    assert abs(counts.get("tail", 0) / total - 0.2) < 0.05


def test_calibrate_perplexity_cuts_degenerate_raises(spark):
    from radohydro_spark.functions.text import calibrate_perplexity_cuts

    # every document identical -> one score value -> lo == hi
    df = _docs(spark, [(i, "a b a b a b") for i in range(20)])
    with pytest.raises(ValueError, match="degenerate"):
        calibrate_perplexity_cuts(df)


# ------------------------------------------------------- batched BPE train


def test_bpe_batch_top1_path_unchanged(spark):
    # batch_top=1 must be EXACTLY the serial trainer: same schema (no
    # `round` column), same table
    df = _docs(spark, [(1, "banana bandana"), (2, "ananas banana")])
    serial = bpe_train_merges(df, n_merges=3)
    assert serial.columns == ["merge_rank", "pa", "pb", "n"]
    assert [tuple(r) for r in serial.collect()] == [
        (1, "a", "n", 8),
        (2, "an", "a", 4),
        (3, "an", "ana", 3),
    ]


def test_bpe_batched_schema_and_hand_case(spark):
    # "aa bb aa cc": pairs (a,a)x2, (b,b), (c,c) — all symbol-disjoint
    # except none conflict, so one round of batch_top=3 accepts all 3
    df = _docs(spark, [(1, "aa bb aa cc")])
    out = bpe_train_merges(df, n_merges=3, batch_top=3)
    assert out.columns == ["merge_rank", "round", "pa", "pb", "n"]
    rows = [tuple(r) for r in out.orderBy("merge_rank").collect()]
    assert rows == [
        (1, 1, "a", "a", 2),
        (2, 1, "b", "b", 1),
        (3, 1, "c", "c", 1),
    ]


def test_bpe_batched_accepted_pairs_are_symbol_disjoint(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bpe_train_merges(df, n_merges=12, batch_top=4).collect()
    by_round: dict[int, list] = {}
    for r in out:
        by_round.setdefault(r["round"], []).append((r["pa"], r["pb"]))
    for rnd, pairs in by_round.items():
        seen: set[str] = set()
        for pa, pb in pairs:
            assert pa not in seen and pb not in seen, (rnd, pairs)
            seen.update((pa, pb))


def test_bpe_batched_static_rounds_conflict_starved(spark):
    # "banana": every top pair shares 'a'/'n' symbols, so each round
    # accepts ONE pair despite batch_top=2 — static rounds mean fewer
    # TOTAL merges (2 rounds -> 2 merges), never extra rounds
    df = _docs(spark, [(1, "banana banana")])
    out = [
        tuple(r)
        for r in bpe_train_merges(df, n_merges=4, batch_top=2)
        .orderBy("merge_rank")
        .collect()
    ]
    assert [r[1] for r in out] == sorted({r[1] for r in out} | set())  # rounds ascend
    assert max(r[1] for r in out) <= 2  # ceil(4/2) static rounds
    assert len(out) < 4  # conflict-starved: under-fills, no extra rounds


def test_bpe_batched_deterministic_across_runs(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = [tuple(r) for r in bpe_train_merges(df, n_merges=8, batch_top=4).collect()]
    b = [tuple(r) for r in bpe_train_merges(df, n_merges=8, batch_top=4).collect()]
    assert a == b


def test_bpe_batched_prefix_consistent_with_candidate_law(spark):
    # round-1 acceptance must equal the law computed by hand from the
    # round-1 pair counts: top-C by (n DESC, pa, pb), greedy in rank
    # order against the already-ACCEPTED symbol set
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    B, CF = 4, 4
    out = bpe_train_merges(df, n_merges=B, batch_top=B, cand_factor=CF)
    got = [
        (r["pa"], r["pb"]) for r in out.orderBy("merge_rank").collect()
    ]
    # recompute round-1 candidates relationally
    toks = (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.array_join(F.split(F.col("w"), ""), " ").alias("sym"), "cnt"
        )
    )
    s = F.split(F.col("sym"), " ")
    cands = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("pa"),
                        F.element_at(s, i + 1).alias("pb"),
                    ),
                )
            ).alias("p"),
            "cnt",
        )
        .filter(F.size(s) >= 2)
        .groupBy("p.pa", "p.pb")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), "pa", "pb")
        .limit(B * CF)
        .collect()
    )
    want, taken = [], set()
    for r in cands:
        if len(want) >= B:
            break
        if r["pa"] in taken or r["pb"] in taken:
            continue
        want.append((r["pa"], r["pb"]))
        taken.update((r["pa"], r["pb"]))
    assert got[: len(want)] == want
