"""Round-13 fixes: executable global-window size contracts
(plans/contracts.bounded_global), the single-evaluation cosine guard,
and mmr_select's one-job-per-round selection loop.
"""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from radohydro_spark.plans.contracts import bounded_global
from radohydro_spark.operators.similarity import cosine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- contracts


def test_bounded_global_matches_unpartitioned_window(spark):
    df = spark.range(1000).withColumn("v", (F.col("id") * 37) % 101)
    rn = bounded_global(
        F.row_number(),
        lambda w: w.orderBy(F.col("v").asc(), F.col("id").asc()),
        "int",
        "test",
    )
    got = {r.id: r.rn for r in df.withColumn("rn", rn).collect()}
    ref_w = W.orderBy(F.col("v").asc(), F.col("id").asc())
    ref = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(ref_w)).collect()
    }
    assert got == ref


def test_bounded_global_partition_spec_survives_optimizer(spark):
    # the session excludes EliminateWindowPartitions so the constant key
    # (the declared single-partition intent) reaches the physical plan —
    # WindowExec only warns when the partition spec is EMPTY
    df = spark.range(10)
    rn = bounded_global(F.row_number(), lambda w: w.orderBy("id"), "int", "t")
    plan = _plan(df.withColumn("rn", rn))
    assert "windowspecdefinition(0," in plan or "Window [" in plan
    # the partition spec list after the window exprs must be non-empty
    import re

    m = re.search(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert m is not None and m.group(1).strip() != "", plan


def test_bounded_global_cap_raises_loudly(spark):
    df = spark.range(100)
    rn = bounded_global(
        F.row_number(), lambda w: w.orderBy("id"), "int", "cap_test", cap=50
    )
    with pytest.raises(SparkRuntimeException, match="cap_test"):
        df.withColumn("rn", rn).collect()


def test_bounded_global_frame_and_aggregate(spark):
    # the skyline shape: running max over a preceding-rows frame
    df = spark.range(6).withColumn("v", F.col("id") % 3)
    mx = bounded_global(
        F.max("v"),
        lambda w: w.orderBy("id").rowsBetween(W.unboundedPreceding, -1),
        "bigint",
        "t",
    )
    rows = {r.id: r.m for r in df.withColumn("m", mx).collect()}
    assert rows[0] is None and rows[1] == 0 and rows[3] == 2 and rows[5] == 2


# ------------------------------------------------------------------ cosine


def test_cosine_zero_norm_scores_zero(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [0.0, 1.0]


def test_cosine_null_vector_propagates_null(spark):
    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), ([1.0, 0.0], None)],
        "a array<double>, b array<double>",
    )
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [None, None]


def test_cosine_single_norm_evaluation_in_plan(spark):
    # the r12 when-guard named the denominator twice (5 aggregate nodes;
    # interpreted subexpr elimination recovered most of the cost at run
    # time — measured ~6% in an isolated A/B).  The try_divide form
    # names each aggregate exactly once — pin the plan at 3 nodes.
    df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>")
    plan = _plan(df.select(cosine(F.col("a"), F.col("b")).alias("c")))
    assert plan.count("aggregate(") == 3, plan  # dot + norm(a) + norm(b)


# -------------------------------------------------------------- mmr_select


def test_mmr_select_one_job_per_round(spark):
    from radohydro_spark.operators.sampling import mmr_select

    df = spark.createDataFrame(
        [(i, [float((i * 7) % 5 + 1), float((i * 3) % 4 + 1)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    k = 4
    sc = spark.sparkContext
    sc.setJobGroup("mmr13", "job-count contract")
    try:
        out = mmr_select(
            df, "embedding", "vec_id", query_id=0, k=k, scorer="sql"
        )
        rows = out.collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == k
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == k and 0 not in ids
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("mmr13")
    # forced-sql path: 1 query-row fetch + k argmax rounds (+1 slack
    # for cache materialization folding); the r12 form ran 2 jobs per
    # round
    assert len(jobs) <= k + 2, jobs
    # the r16 auto default adds ONE JVM-side corpus count per
    # SELECTION (never per round) to price the arrow-vs-sql decision;
    # AQE may split that count into 2-3 counter-sized stage jobs (an
    # rdd.count would be 1 job but serializes the whole quantized
    # corpus into Python — the wrong trade; r16 review)
    sc.setJobGroup("mmr13auto", "job-count contract (auto)")
    try:
        out = mmr_select(df, "embedding", "vec_id", query_id=0, k=k)
        rows = out.collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == k
    jobs_auto = tracker.getJobIdsForGroup("mmr13auto")
    assert len(jobs_auto) <= k + 4, jobs_auto


# -------------------------------------------------------- dedup_paragraphs


def _pd_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_paragraphs_first_occurrence_and_reassembly(spark):
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = _pd_rows(
        spark,
        [
            (1, "alpha beta\n\nshared block\n\ngamma"),
            (2, "shared block\n\ndelta"),  # shared block first seen in doc 1
            (3, "shared block\n\nalpha beta\n\nepsilon"),
        ],
    )
    out = {
        r.doc_id: (r.n_paras, r.n_kept, r.text_dedup)
        for r in dedup_paragraphs(df).collect()
    }
    assert out[1] == (3, 3, "alpha beta\n\nshared block\n\ngamma")
    assert out[2] == (2, 1, "delta")
    assert out[3] == (3, 1, "epsilon")  # order preserved for survivors


def test_dedup_paragraphs_all_duplicates_yields_empty_text(spark):
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = _pd_rows(spark, [(1, "x y"), (2, "x y")])
    out = {r.doc_id: (r.n_kept, r.text_dedup) for r in dedup_paragraphs(df).collect()}
    assert out[1] == (1, "x y")
    assert out[2] == (0, "")


def test_dedup_paragraphs_whitespace_only_doc_vanishes(spark):
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = _pd_rows(spark, [(1, "a\n\nb"), (2, "   \n\n  ")])
    ids = {r.doc_id for r in dedup_paragraphs(df).collect()}
    assert ids == {1}


def test_dedup_paragraphs_fingerprint_row_identical_random(spark):
    """r14 (VERDICT r13 #7): fingerprint=True swaps the paragraph-text
    exchange key for xxhash64 with exact text as the in-partition
    tie-law — property-tested row-identical to the default path on
    random duplicate-heavy corpora."""
    import random

    from radohydro_spark.operators.dedup import dedup_paragraphs

    rng = random.Random(1414)
    pool = [f"para {i} " + "w" * rng.randrange(1, 9) for i in range(12)]
    rows = []
    for doc in range(60):
        k = rng.randrange(0, 5)
        paras = [rng.choice(pool) for _ in range(k)]
        if rng.random() < 0.2:
            paras.append("   ")  # whitespace-only segment
        rng.shuffle(paras)
        rows.append((doc, "\n\n".join(paras)))
    df = _pd_rows(spark, rows)
    base = sorted(map(tuple, dedup_paragraphs(df).collect()))
    fp = sorted(
        map(tuple, dedup_paragraphs(df, fingerprint=True).collect())
    )
    assert base == fp


def test_dedup_paragraphs_fingerprint_matches_on_driver_corpus(spark):
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = sorted(map(tuple, dedup_paragraphs(df, sep=r"\. ").collect()))
    fp = sorted(
        map(
            tuple,
            dedup_paragraphs(df, sep=r"\. ", fingerprint=True).collect(),
        )
    )
    assert base == fp


def test_dedup_paragraphs_fingerprint_exchange_keys_are_hash(spark):
    # the first exchange must hash the 8-byte fingerprint, not the
    # paragraph text
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = _pd_rows(spark, [(1, "a\n\nb"), (2, "b\n\nc")])
    plan = _plan(dedup_paragraphs(df, fingerprint=True))
    assert "xxhash64(para" in plan


def test_dedup_paragraphs_plan_two_exchanges_no_udf(spark):
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = _pd_rows(spark, [(1, "a\n\nb"), (2, "b\n\nc")])
    plan = _plan(dedup_paragraphs(df))
    # paragraph-key window exchange + doc-key aggregate exchange only
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------------------- bpe_encode


def test_bpe_encode_hand_case_and_train_fold_agreement(spark):
    from radohydro_spark.functions.text import bpe_encode, bpe_train_merges

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "aaa low")], "doc_id long, text string"
    )
    m = bpe_train_merges(df, "text", 3)
    got = {(r.pa, r.pb) for r in m.collect()}
    assert got == {("l", "o"), ("lo", "w"), ("a", "a")}
    out = {r.doc_id: (r.n_words, r.n_tokens, r.encoded) for r in bpe_encode(df, m).collect()}
    assert out[1] == (3, 8, "low low e r low e s t")
    # overlapping repeats merge LEFT-to-right: aaa + (a,a) -> "aa a"
    assert out[2] == (2, 3, "aa a low")


def test_bpe_encode_accepts_list_and_empty_doc(spark):
    from radohydro_spark.functions.text import bpe_encode

    df = spark.createDataFrame([(1, "abab"), (2, "   ")], "doc_id long, text string")
    out = {
        r.doc_id: (r.n_words, r.n_tokens, r.encoded)
        for r in bpe_encode(df, [("a", "b"), ("ab", "ab")]).collect()
    }
    assert out[1] == (1, 1, "abab")
    assert out[2] == (0, 0, "")


def test_bpe_encode_zero_shuffle_plan(spark):
    from radohydro_spark.functions.text import bpe_encode

    df = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    plan = _plan(bpe_encode(df, [("x", "y")]))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------------ perplexity_buckets


def test_perplexity_buckets_hand_case(spark):
    from radohydro_spark.functions.text import perplexity_buckets
    import math

    # corpus: "a b" x2, "a c", "z" -> V=4 (vocab counts ALL tokens, z
    # included), c1(a)=3, c2(a,b)=2, c2(a,c)=1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_bigrams, r.avg_lp_micro, r.ppl_bucket)
           for r in perplexity_buckets(df, cuts_micro=(-900_000, -700_000)).collect()}
    lp_ab = round(math.log((2 + 0.5) / (3 + 0.5 * 4)) * 1e6)  # -693147
    lp_ac = round(math.log((1 + 0.5) / (3 + 0.5 * 4)) * 1e6)  # -1203973
    assert out[1] == (1, lp_ab, "head") and out[2] == (1, lp_ab, "head")
    assert out[3] == (1, lp_ac, "tail")
    assert 4 not in out  # single-token doc has no perplexity


def test_perplexity_buckets_matches_bigram_logprob_law(spark):
    # same law, two consumers: avg_lp_micro must track avg_logprob*1e6
    # within the true worst case ~2.0 (<= 0.5 mean per-bigram rounding
    # + < 1 toward-zero truncation of sum div n + <= 0.5 from the
    # float side's round(avg, 6); r13 review corrected the bound)
    from radohydro_spark.functions.text import bigram_logprob, perplexity_buckets

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    a = {r.doc_id: r.avg_logprob for r in bigram_logprob(df).collect()}
    b = {r.doc_id: r.avg_lp_micro for r in perplexity_buckets(df).collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(b[k] - a[k] * 1e6) <= 2.0 + 1e-6, (k, a[k], b[k])


def test_bigram_lp_boundary_margin_on_driver_corpora(spark):
    """The FOURTH quantize-after-ln op under the boundary-margin audit
    (BM25 / TF-IDF / PMI precedent): pin every scored bigram's distance
    from its rounding boundary >> the 1-ulp cross-engine ln risk."""
    from radohydro_spark.functions.text import bigram_lp_boundary_margin

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        m = bigram_lp_boundary_margin(d)
        assert m > 1e-6, (sf, m)


# ------------------------------------------------- cluster_balanced_sample


def test_cluster_balanced_sample_shape_and_plan(spark):
    from radohydro_spark.operators.sampling import cluster_balanced_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    out = cluster_balanced_sample(emb, k_per_cluster=3, n_centroids=4)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r.centroid_id, []).append(r.strat_rank)
    assert set().union(*per.values()) <= {1, 2, 3}
    for cid, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # nested-sample property: bottom-3 per cluster contains bottom-1
    out1 = {(r.centroid_id, r.vec_id) for r in cluster_balanced_sample(
        emb, k_per_cluster=1, n_centroids=4).collect()}
    out3 = {(r.centroid_id, r.vec_id) for r in rows}
    assert out1 <= out3
    plan = _plan(out)
    assert "WindowGroupLimit" in plan, plan          # pre-exchange k-trim
    assert "BroadcastNestedLoopJoin" in plan, plan   # dimension-sized centroids


# --------------------------------------------------- temperature_shares


def test_temperature_shares_hand_case_largest_remainder(spark):
    import math
    from radohydro_spark.operators.sampling import temperature_shares

    # weights 100 / 400 / 1600: sqrt -> 10/20/40 (exact), shares 1000 *
    # s_i / 70 = 142.857 / 285.714 / 571.428 -> bases 142/285/571,
    # leftover 2 goes to the two largest remainders (.857, .714)
    df = spark.createDataFrame(
        [("a", 100), ("b", 400), ("c", 1600)], "lang string, w long"
    )
    out = {r.stratum: (r.scaled_micro, r.share_mille)
           for r in temperature_shares(df, "lang", "w").collect()}
    assert out["a"] == (10_000_000, 143)
    assert out["b"] == (20_000_000, 286)
    assert out["c"] == (40_000_000, 571)
    assert sum(v[1] for v in out.values()) == 1000


def test_temperature_shares_alpha_identity_and_flattening(spark):
    from radohydro_spark.operators.sampling import temperature_shares

    df = spark.createDataFrame(
        [("a", 100), ("b", 900)], "lang string, w long"
    )
    raw = {r.stratum: r.share_mille
           for r in temperature_shares(df, "lang", "w", alpha_exp2=0).collect()}
    assert raw == {"a": 100, "b": 900}  # alpha=1 reproduces raw mass
    flat = {r.stratum: r.share_mille
            for r in temperature_shares(df, "lang", "w", alpha_exp2=1).collect()}
    assert flat == {"a": 250, "b": 750}  # sqrt: 10/30, 30/40 -> flattened
    flatter = {r.stratum: r.share_mille
               for r in temperature_shares(df, "lang", "w", alpha_exp2=2).collect()}
    assert flatter["a"] > flat["a"]  # more temperature, flatter mix


def test_temperature_shares_drops_zero_strata_and_sums_exact(spark):
    from radohydro_spark.operators.sampling import temperature_shares

    df = spark.createDataFrame(
        [("a", 7), ("b", 13), ("c", 0), ("d", 29)], "lang string, w long"
    )
    out = {r.stratum: r.share_mille
           for r in temperature_shares(df, "lang", "w").collect()}
    assert "c" not in out
    assert sum(out.values()) == 1000


# ----------------------------------------------------- r13 review fixes


def test_cosine_null_element_propagates_null(spark):
    # a vector CONTAINING a null element is corrupt data -> NULL, never
    # "orthogonal" 0.0 (r13 review: coalesce was swallowing it)
    df = spark.createDataFrame(
        [([1.0, None], [1.0, 1.0]), ([1.0, 1.0], [None, 1.0])],
        "a array<double>, b array<double>",
    )
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [None, None]


def test_temperature_shares_alpha1_no_overflow_at_large_weights(spark):
    # alpha=1 skips the 1e6 quantization: a 1e10-char stratum (the r13
    # review's overflow repro) must work and reproduce raw mass
    from radohydro_spark.operators.sampling import temperature_shares

    df = spark.createDataFrame(
        [("a", 10_000_000_000), ("b", 30_000_000_000)], "lang string, w long"
    )
    out = {r.stratum: r.share_mille
           for r in temperature_shares(df, "lang", "w", alpha_exp2=0).collect()}
    assert out == {"a": 250, "b": 750}


def test_temperature_shares_weight_cap_raises_loudly(spark):
    from radohydro_spark.operators.sampling import temperature_shares

    df = spark.createDataFrame([("a", (1 << 53) + 2)], "lang string, w long")
    # AQE may surface the USER_RAISED_EXCEPTION directly or wrapped in a
    # STAGE_MATERIALIZATION_MULTIPLE_FAILURES SparkException depending on
    # which stage materializes first — match the message, not the type
    with pytest.raises(Exception, match="temperature_shares"):
        temperature_shares(df, "lang", "w").collect()


def test_temperature_shares_total_mille_folded_into_cap(spark):
    # r14 ADVICE: alpha=1 with a near-2^53 weight and total_mille=10^4
    # previously overflowed total_mille*scaled_micro as an opaque ANSI
    # ARITHMETIC_OVERFLOW — now the operator's own named contract fires
    from radohydro_spark.operators.sampling import temperature_shares

    df = spark.createDataFrame(
        [("a", 1 << 52), ("b", 7)], "lang string, w long"
    )
    with pytest.raises(Exception, match="temperature_shares"):
        temperature_shares(
            df, "lang", "w", alpha_exp2=0, total_mille=10_000
        ).collect()
    # and a big-but-in-domain total_mille still apportions exactly
    small = spark.createDataFrame(
        [("a", 1), ("b", 3)], "lang string, w long"
    )
    out = {
        r.stratum: r.share_mille
        for r in temperature_shares(
            small, "lang", "w", alpha_exp2=0, total_mille=10_000
        ).collect()
    }
    assert out == {"a": 2_500, "b": 7_500}


def test_mmr_select_past_budget_takes_broadcast_form(spark):
    # r14 ADVICE capped k*dim with a loud ValueError; r15 replaced the
    # refusal with the broadcast array form (VERDICT r14 #4) — a
    # past-budget request now SUCCEEDS on the O(1)-analysis path and
    # returns the same rows the literal law would pick
    from radohydro_spark.operators.sampling import mmr_select

    dim = 64
    rows = [(i, [float(i == j) for j in range(dim)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # k*dim = 4000*64 far past any budget; only 5 candidates exist so
    # selection stops early — the call must not raise
    out = mmr_select(df, "embedding", "vec_id", query_id=0, k=4_000)
    got = out.collect()
    assert len(got) == 5  # everything but the query row
    lit = mmr_select(
        df, "embedding", "vec_id", query_id=0, k=5, lit_budget=10**9
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in lit]


def test_bpe_encode_chunked_equals_single_projection(spark):
    # batch_size=2 over 5 merges (3 chunks + 2 checkpoints) must equal
    # the single-chunk form bit-for-bit
    from radohydro_spark.functions.text import bpe_encode

    df = spark.createDataFrame(
        [(1, "banana bandana"), (2, "ananas")], "doc_id long, text string"
    )
    merges = [("a", "n"), ("b", "an"), ("ban", "an"), ("an", "a"), ("ana", "s")]
    one = sorted(map(tuple, bpe_encode(df, merges, batch_size=99).collect()))
    chunked = sorted(map(tuple, bpe_encode(df, merges, batch_size=2).collect()))
    assert one == chunked


def test_dedup_paragraphs_tab_only_segment_drops(spark):
    # whitespace-only means ANY \s (trim strips only ASCII spaces)
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "a\n\n\t\n\nb")], "doc_id long, text string"
    )
    out = dedup_paragraphs(df).collect()[0]
    assert (out.n_paras, out.n_kept, out.text_dedup) == (2, 2, "a\n\nb")


def test_bigram_lp_margin_accepts_custom_id_col(spark):
    from radohydro_spark.functions.text import bigram_lp_boundary_margin

    df = spark.createDataFrame(
        [(1, "x y z x y"), (2, "y z y x")], "page_id long, text string"
    )
    m = bigram_lp_boundary_margin(df, id_col="page_id")
    assert 0.0 <= m <= 0.5


# ---------------------------------------------------------------- ks_drift


def test_ks_drift_hand_case(spark):
    from radohydro_spark.operators.profile import ks_drift

    old = spark.createDataFrame([(v,) for v in [1, 2, 2, 3, 4]], "x long")
    new = spark.createDataFrame([(v,) for v in [2, 3, 3, 4, 5, 5]], "x long")
    r = ks_drift(old, new, "x").collect()[0]
    # f1: 1,3,4,5,5 ; f2: 0,1,3,4,6 over v=1..5; d=|f1*6-f2*5| max 13 @ v=2
    assert (r.n_old, r.n_new, r.d_num, r.at_value) == (5, 6, 13, 2)
    assert r.ks_ppm == (1_000_000 * 13) // 30


def test_ks_drift_identical_distributions_zero(spark):
    from radohydro_spark.operators.profile import ks_drift

    df = spark.createDataFrame([(v,) for v in range(100)], "x long")
    r = ks_drift(df, df, "x").collect()[0]
    assert r.d_num == 0 and r.ks_ppm == 0


def test_ks_drift_empty_side_degenerates_to_null_ppm(spark):
    from radohydro_spark.operators.profile import ks_drift

    old = spark.createDataFrame([(1,), (2,)], "x long")
    empty = spark.createDataFrame([], "x long")
    r = ks_drift(old, empty, "x").collect()[0]
    assert r.n_new == 0 and r.ks_ppm is None


def test_ks_drift_both_sides_empty_all_null_row(spark):
    from radohydro_spark.operators.profile import ks_drift

    empty = spark.createDataFrame([], "x long")
    rows = ks_drift(empty, empty, "x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_old, r.n_new, r.d_num, r.ks_ppm, r.at_value) == (
        None,
        None,
        None,
        None,
        None,
    )


def test_ks_drift_output_invariant_to_n_parts(spark, cache_free_collect):
    """The r14 range-partition rework: the cumulation is a pure function
    of the total v-order, so ANY n_parts (including the degenerate
    single-partition form, and more ranges than the 55 distinct values)
    yields the identical row, with no cache to lean on — the
    global_rank determinism argument, pinned."""
    import random

    from radohydro_spark.operators.profile import ks_drift

    rng = random.Random(14)
    old = spark.createDataFrame(
        [(rng.randrange(0, 40),) for _ in range(300)], "x long"
    )
    new = spark.createDataFrame(
        [(rng.randrange(10, 55),) for _ in range(250)], "x long"
    )
    rows = {
        p: tuple(cache_free_collect(ks_drift(old, new, "x", n_parts=p))[0])
        for p in (1, 3, 32, 64)
    }
    assert rows[1] == rows[3] == rows[32] == rows[64]
    assert rows[1][0] == 300 and rows[1][1] == 250
    empty = old.limit(0)
    assert [tuple(r) for r in cache_free_collect(ks_drift(empty, empty, "x", n_parts=64))] == [
        (None,) * 5
    ]


def test_ks_drift_no_single_partition_window_in_plan(spark):
    """The r13 weak spot: the cumulative counts must NOT run on a
    constant-keyed (single-partition) window — the plan partitions the
    window by the driver-fixed range bucket, one bucket per shuffle
    partition."""
    import re

    from radohydro_spark.operators.profile import ks_drift

    old = spark.createDataFrame([(v,) for v in range(50)], "x long")
    new = spark.createDataFrame([(v,) for v in range(10, 60)], "x long")
    plan = ks_drift(old, new, "x")._jdf.queryExecution().executedPlan().toString()
    assert "direct_shuffle_partition_id(_b" in plan
    assert re.search(r"windowspecdefinition\(_b#\d+, v_#\d+L? ASC", plan)
    assert "partitionbyexpression=[0]" not in plan.lower().replace(" ", "")


def test_ks_drift_cross_mult_domain_guard_raises_named(spark):
    """r13 ADVICE #3: past n1*n2 >= 2^63 the operator must raise its
    OWN named contract, not an opaque ANSI overflow mid-task.  Totals
    are driver-side longs, so the guard is a plain ValueError."""
    import pytest
    from unittest import mock

    from radohydro_spark.operators import profile as P

    old = spark.createDataFrame([(1,), (2,)], "x long")
    new = spark.createDataFrame([(2,), (3,)], "x long")
    # the guard fires on the collected totals — fake the boundary job's
    # one row with 2^32 rows per side (n1*n2 = 2^64) without generating
    # them
    real_collect = None

    class _FakeRow(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    fake = [_FakeRow(_t=[], _c1=1 << 32, _c2=1 << 32)]
    with mock.patch(
        "pyspark.sql.classic.dataframe.DataFrame.collect",
        return_value=fake,
    ):
        with pytest.raises(ValueError, match="ks_drift: n1\\*n2"):
            P.ks_drift(old, new, "x")


def test_cosine_oracle_alignment_with_zero_norm_vector(spark, tmp_path):
    """The r13 latent-alignment pin: with a ZERO-NORM vector present,
    the engine's cosine() scores it 0.0 while an unguarded DuckDB
    division yields NULL (sorts last under DESC) — the guarded oracles
    must now agree with the engine on ranking."""
    import duckdb
    import __spark_entry__ as E
    from radohydro_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),   # zero-norm
        (2, [-1.0, 0.0, 0.0, 0.0]),  # negative cosine to query
        (3, [0.5, 0.5, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)

    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in SIM.cosine_topk(df, q, k=5).collect()
    )
    # zero-norm vec 1 scores 0.0 -> ranks ABOVE the negative vec 2
    ranks = {v: rk for (_, v, rk) in got}
    assert ranks[1] < ranks[2]

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{p}/*.parquet'")
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0),
scored AS (
  SELECT query_id, e.vec_id, {E._COSINE_SQL.replace('cv', 'e.v')} AS cosine
  FROM q, e
)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
FROM scored
"""
    orows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == orows, (got, orows)


# ------------------------------------------------- second review-pass fixes


def test_dedup_paragraphs_vertical_tab_law_matches_duckdb(spark):
    # Java \s matches \x0B, RE2's does not — the explicit class must
    # drop a vertical-tab-only segment IDENTICALLY on both engines
    import duckdb
    from radohydro_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "a\n\n\x0b\n\nb")], "doc_id long, text string"
    )
    out = dedup_paragraphs(df).collect()[0]
    assert (out.n_paras, out.n_kept, out.text_dedup) == (2, 2, "a\n\nb")
    got = duckdb.sql(
        "SELECT regexp_replace(chr(11), '[ \\t\\n\\f\\r\\x0B]', '', 'g') = ''"
    ).fetchone()[0]
    assert got is True  # the oracle's class also strips \x0B


def test_ks_drift_large_n_ppm_branch(spark):
    # past 9e12 pair-products the ppm law switches to d div ((n1*n2) div
    # 1e6) — feed counts that exercise the branch via pre-aggregated
    # duplicates (5e6 rows per side would be slow; weight via repeats of
    # two values with big multiplicity is equivalent for the law)
    from radohydro_spark.operators.profile import ks_drift

    # n1 = n2 = 4_000_000 via two values repeated — too big to build as
    # rows; instead verify branch equivalence directly in SQL on both
    # engines with synthetic totals
    n1, n2, d = 4_000_000, 4_000_000, 8_000_000_000_000  # d = n1*n2/2
    spark_val = spark.sql(
        f"SELECT CASE WHEN {n1}L * {n2}L <= 9000000000000 "
        f"THEN (1000000 * {d}L) div ({n1}L * {n2}L) "
        f"ELSE {d}L div (({n1}L * {n2}L) div 1000000) END AS p"
    ).collect()[0]["p"]
    import duckdb
    duck_val = duckdb.sql(
        f"SELECT CASE WHEN {n1}::BIGINT * {n2} <= 9000000000000 "
        f"THEN (1000000 * {d}::BIGINT) // ({n1}::BIGINT * {n2}) "
        f"ELSE {d}::BIGINT // (({n1}::BIGINT * {n2}) // 1000000) END"
    ).fetchone()[0]
    assert spark_val == duck_val == 500_000  # exactly half


def test_embedding_norms_zero_length_and_zero_norm_vectors(spark):
    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, [])],
        "vec_id long, embedding array<double>",
    )
    # exercise the query's projection law directly (q_embedding_norms
    # reads a fixed table layout; the law is what the fix changed)
    from radohydro_spark.operators import similarity as SIM
    e = df.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    n = SIM.norm(F.col("v"))
    rows = {r.vec_id: (r.dim, r.l2, r.u0) for r in e.select(
        "vec_id", F.size("v").alias("dim"), F.round(n, 6).alias("l2"),
        F.round(F.try_divide(F.get("v", 0), n), 6).alias("u0")).collect()}
    assert rows[0] == (2, 5.0, 0.6)
    assert rows[1] == (2, 0.0, None)   # zero-norm -> NULL, no ANSI crash
    assert rows[2] == (0, 0.0, None)   # zero-length -> NULL, no ANSI crash
