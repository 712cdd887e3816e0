"""Round-12 second-wave operators: winnowing fingerprint selection
(Schleimer-Wilkerson-Aiken SIGMOD'03 / MOSS), DSIR hashed importance
weights (Xie et al. NeurIPS'23), and graded contamination coverage.

Each operator gets (a) a brute-force / hand-computed reference check,
(b) boundary-condition sweeps (empty docs, docs shorter than k or the
winnow window), and (c) a plan-shape assertion for the 100-TB contract.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from radohydro_spark.operators.dedup import (
    WINNOW_POS_CAP,
    contamination_check,
    contamination_coverage,
    winnow_fingerprints,
    winnow_pairs,
)
from radohydro_spark.operators.sampling import (
    dsir_boundary_margin,
    dsir_importance_weights,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _brute_winnow(docs, k, window):
    """Reference winnowing: positional k-gram hashes, per-window min with
    rightmost tie-break, adjacent duplicate selections collapsed."""
    P = WINNOW_POS_CAP
    out = {}
    for did, text in docs:
        toks = text.strip().split() if text.strip() else [""]
        n = len(toks)
        shingles = [
            " ".join(toks[i : i + k]) for i in range(0, max(n - k, 0) + 1)
        ]
        pairs = [(p, s) for p, s in enumerate(shingles) if s != ""]
        if not pairs:
            continue
        n_sh = len(shingles)
        keys = [(p, _phash(s) * P + (P - 1 - p)) for p, s in pairs]
        sel = {}
        for j, (p, _) in enumerate(keys):
            if p <= max(n_sh - window, 0):
                m = min(key for _, key in keys[j : j + window])
                fp = (m // P, P - 1 - (m % P))
                sel[fp] = sel.get(fp, 0) + 1
        if sel:
            out[did] = sel
    return out


WINNOW_DOCS = [
    (1, "a b c d e f g h a b c d"),
    (2, "x y a b c d e f g h end"),
    (3, "totally different words here nothing shared at all ok"),
    (4, ""),  # empty doc: no fingerprints
    (5, "one two"),  # fewer tokens than k: one short shingle, one window
    (6, "a a a a a a"),  # all-equal hashes: rightmost tie-break everywhere
    (7, "solo"),  # single token
]


def test_winnow_fingerprints_match_bruteforce(spark):
    df = spark.createDataFrame(WINNOW_DOCS, ["doc_id", "text"])
    for k, w in ((3, 4), (2, 3), (1, 2)):
        exp = _brute_winnow(WINNOW_DOCS, k, w)
        got = {}
        for r in winnow_fingerprints(df, "text", "doc_id", k=k, window=w).collect():
            got.setdefault(r["doc_id"], {})[(r["fp_hash"], r["fp_pos"])] = r[
                "n_windows"
            ]
        assert got == exp, (k, w)


def test_winnow_guarantee_shared_substring_yields_shared_fingerprint(spark):
    """The winnowing guarantee: any shared token run of length
    >= k + window - 1 produces at least one shared fingerprint (the
    window that fits inside the run selects the same (hash, offset-
    aligned) minimum on both sides)."""
    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k + w - 1
    docs = [
        (1, "p q r " + shared + " s t u"),
        (2, shared + " completely other tail words"),
        (3, "no overlap with anything here at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fps = {}
    for r in winnow_fingerprints(df, "text", "doc_id", k=k, window=w).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert fps[1] & fps[2], "guarantee violated: no shared fingerprint"
    assert not (fps[1] & fps[3])


def test_winnow_density_reduction(spark):
    """Winnowing keeps ~2/(w+1) of positions — assert the selected count
    on a long random-ish doc sits well under half the shingle count."""
    text = " ".join(f"tok{(i * 7919) % 501}" for i in range(400))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    n_fp = winnow_fingerprints(df, "text", "doc_id", k=3, window=4).count()
    n_sh = 400 - 3 + 1
    assert n_fp < 0.55 * n_sh
    assert n_fp > 0.2 * n_sh


def test_winnow_fingerprints_single_exchange(spark):
    """One doc-key Exchange total: the dedup groupBy's keys are a
    superset of the window's partitioning, so Catalyst reuses it."""
    df = spark.createDataFrame(WINNOW_DOCS, ["doc_id", "text"])
    plan = _plan(winnow_fingerprints(df, "text", "doc_id"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_winnow_pairs_hot_guard_and_min_shared(spark):
    boiler = "common boilerplate header words every doc repeats verbatim"
    docs = [(i, boiler + f" unique tail {i} {i * 31} {i * 37}") for i in range(8)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # without the guard the boilerplate minima pair everything
    loose = winnow_pairs(
        df, "text", "doc_id", k=3, window=4, min_shared=1, max_fp_freq=None
    ).count()
    # a fingerprint in >3 docs is dropped: only incidental tail overlaps remain
    tight = winnow_pairs(
        df, "text", "doc_id", k=3, window=4, min_shared=1, max_fp_freq=3
    ).count()
    assert loose == 28  # all C(8,2) pairs share the boilerplate fingerprints
    assert tight < loose


def test_winnow_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert winnow_fingerprints(df, "text", "doc_id").count() == 0
    assert winnow_pairs(df, "text", "doc_id").count() == 0


# ---------------------------------------------------------------------------
# DSIR importance weights


def _brute_dsir(corpus, target, k, B, scale):
    import math

    def grams(text):
        toks = text.strip().split() if text.strip() else [""]
        n = len(toks)
        gs = [
            " ".join(toks[i : i + k]) for i in range(0, max(n - k, 0) + 1)
        ]
        return [g for g in gs if g != ""]

    def buckets(rows):
        out = {}
        tot = 0
        for _, text in rows:
            for g in grams(text):
                b = _phash(g) % B
                out[b] = out.get(b, 0) + 1
                tot += 1
        return out, tot

    cs, ns = buckets(corpus)
    ct, nt = buckets(target)
    lrq = {
        b: round(
            math.log(((ct.get(b, 0) + 1) / (c + 1)) * ((ns + B) / (nt + B)))
            * scale
        )
        for b, c in cs.items()
    }
    out = {}
    for did, text in corpus:
        feats = [_phash(g) % B for g in grams(text)]
        if feats:
            out[did] = (len(feats), sum(lrq[b] for b in feats))
    return out


def test_dsir_weights_match_bruteforce(spark):
    corpus = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "der schnelle braune fuchs springt ueber den faulen hund"),
        (3, "la rapida zorra marron salta sobre el perro perezoso"),
        (4, "der hund und der fuchs laufen durch den wald"),
        (5, "mixed der words the and el languages"),
    ]
    target = [(101, "der hund springt ueber den fuchs im wald")]
    k, B, scale = 2, 256, 1_000_000
    exp = _brute_dsir(corpus, target, k, B, scale)
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    tdf = spark.createDataFrame(target, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_micro"])
        for r in dsir_importance_weights(
            cdf, tdf, "text", "doc_id", k=k, n_buckets=B, scale=scale
        ).collect()
    }
    assert got == exp
    # among the equal-length docs (1-4, 8 bigrams each — raw DSIR sums
    # carry a length bias, so compare like with like) the German docs
    # must out-rank the English/Spanish ones under a German target
    ranked = sorted((1, 2, 3, 4), key=lambda d: -got[d][1])
    assert set(ranked[:2]) == {2, 4}


def test_dsir_boundary_margin_on_driver_corpora(spark):
    """Seam-class audit (the BM25/TF-IDF treatment): the per-bucket
    log-ratio quantizes round(ln(...)·1e6) AFTER a cross-engine
    transcendental; pin the minimum distance to a rounding boundary
    over the driver fixture's bucket points far above the ~1e-8 1-ulp
    perturbation, at all three pinned scales."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        m = dsir_boundary_margin(
            d, d.filter(F.col("lang") == "de"), k=2, n_buckets=4096
        )
        assert m > 1e-6, (sf, m)


def test_dsir_empty_target_and_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    cdf = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    # empty target: every bucket gets ct=0; weights are finite and defined
    w = dsir_importance_weights(cdf, empty, k=2, n_buckets=16).collect()
    assert len(w) == 1 and w[0]["n_feats"] == 2
    # empty corpus: no output rows
    assert dsir_importance_weights(empty, cdf, k=2, n_buckets=16).count() == 0


# ---------------------------------------------------------------------------
# Contamination coverage


def test_contamination_coverage_golden(spark):
    corpus = [
        (1, "a b c d e f"),      # 4 shingles, shares 'b c d' 'c d e' with bench
        (2, "x y z w v u"),      # no overlap
        (3, "b c d e q r"),      # shares 'b c d' 'c d e'
    ]
    bench = [(100, "b c d e")]   # shingles: 'b c d', 'c d e'
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    bdf = spark.createDataFrame(bench, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_sh"], r["n_shared"], r["coverage_ppm"])
        for r in contamination_coverage(cdf, bdf, k=3).collect()
    }
    assert got == {1: (4, 2, 500000), 3: (4, 2, 500000)}


def test_contamination_coverage_consistent_with_boolean_gate(spark, tmp_path):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    cov = {
        r["doc_id"]: r["n_shared"]
        for r in contamination_coverage(corpus, bench, k=3).collect()
    }
    flagged = {
        r["doc_id"]: r["n_shared"]
        for r in contamination_check(corpus, bench, k=3, min_shared=3).collect()
    }
    # the boolean gate is exactly the coverage rows with n_shared >= 3
    assert flagged == {k: v for k, v in cov.items() if v >= 3}
    # ppm is a true floor division of integers
    for r in contamination_coverage(corpus, bench, k=3).collect():
        assert r["coverage_ppm"] == (1_000_000 * r["n_shared"]) // r["n_sh"]
        assert 0 <= r["coverage_ppm"] <= 1_000_000


# ---------------------------------------------------------------------------
# Per-stratum bottom-k


def test_stratified_bottom_k_properties(spark):
    from radohydro_spark.operators.sampling import stratified_bottom_k

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s5 = {
        (r["lang"], r["doc_id"])
        for r in stratified_bottom_k(d, "doc_id", "lang", 5).collect()
    }
    s20 = {
        (r["lang"], r["doc_id"])
        for r in stratified_bottom_k(d, "doc_id", "lang", 20).collect()
    }
    # exact size per stratum and nesting: bottom-5 ⊂ bottom-20
    assert len(s5) == 5 * d.select("lang").distinct().count()
    assert s5 <= s20
    # growth stability: adding documents never evicts a survivor whose
    # stratum didn't receive a smaller key — drop half the corpus and the
    # survivors of the kept half are exactly the original picks minus
    # dropped rows' effects within each stratum (brute re-rank check)
    import hashlib

    rows = [(r["doc_id"], r["lang"]) for r in d.select("doc_id", "lang").collect()]
    by_lang = {}
    for did, lang in rows:
        by_lang.setdefault(lang, []).append(did)
    exp = set()
    for lang, ids in by_lang.items():
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        exp.update((lang, i) for i in ranked[:5])
    assert s5 == exp


def test_stratified_bottom_k_plan_pretrims(spark):
    from radohydro_spark.operators.sampling import stratified_bottom_k

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(stratified_bottom_k(d, "doc_id", "lang", 5))
    # rank-limit pushdown: a Partial WindowGroupLimit BEFORE the exchange
    # pre-trims each task to k rows per stratum
    assert "WindowGroupLimit" in plan
    assert plan.split("Exchange hashpartitioning")[1].count("WindowGroupLimit") >= 1


# ---------------------------------------------------------------------------
# IVF-PQ composite ANN


def test_ivfpq_matches_component_semantics(spark):
    """The composite must equal 'PQ-ADC scoring restricted to the IVF
    probe set': reproduce it from the two published components."""
    from radohydro_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
        pq_adc_topk,
        pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["vec_id"]): (r["adc_dist"], r["rank"])
        for r in ivf_pq_topk(
            emb, q, n_centroids=16, nprobe=4, m=8, n_codes=16, k=5
        ).collect()
    }
    # probe set from the IVF component (k large enough to keep all
    # probed candidates), ADC scores from the PQ component
    probed = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(
            emb, q, n_centroids=16, nprobe=4, k=10**6
        ).collect()
    }
    books = pq_codebooks(emb, m=8, k=16)
    adc_all = {
        (r["query_id"], r["vec_id"]): r["adc_dist"]
        for r in pq_adc_topk(emb, q, books, k=10**6).collect()
    }
    import heapq

    for qid in (0, 1, 2):
        cands = [
            (adc_all[(qid, v)], v)
            for (qq, v) in probed
            if qq == qid
        ]
        exp5 = heapq.nsmallest(5, cands)
        got5 = sorted(
            ((d, v) for (qq, v), (d, _) in got.items() if qq == qid)
        )
        assert got5 == exp5, qid


def test_ivfpq_plan_broadcasts_and_no_cartesian(spark):
    from radohydro_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(ivf_pq_topk(emb, q, n_centroids=16, nprobe=4, m=8, n_codes=16, k=5))
    # candidate selection is a broadcast join on centroid_id; the only
    # corpus-side cross join is the broadcast centroid assignment
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---------------------------------------------------------------------------
# Multi-round BPE training


def _brute_bpe(texts, n):
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    out = []
    for r in range(1, n + 1):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (pa, pb), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((r, pa, pb, cnt))
        new = {}
        for syms, c in vocab.items():
            res = []
            for s in syms:
                if res and res[-1] == pa and s == pb:
                    res[-1] = pa + pb
                else:
                    res.append(s)
            new[tuple(res)] = new.get(tuple(res), 0) + c
        vocab = new
    return out


def test_bpe_train_matches_reference(spark):
    from radohydro_spark.functions.text import bpe_train_merges

    docs = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "Low NEWEST widest widest"),
    ]
    exp = _brute_bpe([t for _, t in docs], 6)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [
        (r["merge_rank"], r["pa"], r["pb"], r["n"])
        for r in bpe_train_merges(df, "text", 6).orderBy("merge_rank").collect()
    ]
    assert got == exp


def test_bpe_train_greedy_overlap_and_merged_symbol_reuse(spark):
    """Left-to-right greedy application: 'aaaa' under (a,a) becomes
    [aa, aa] (never [a, aa, a]); a later round can merge the MERGED
    symbol (aa,aa) -> aaaa."""
    from radohydro_spark.functions.text import bpe_train_merges

    df = spark.createDataFrame([(1, "aaaa aaaa aaaa bc")], ["doc_id", "text"])
    got = [
        (r["merge_rank"], r["pa"], r["pb"], r["n"])
        for r in bpe_train_merges(df, "text", 2).orderBy("merge_rank").collect()
    ]
    # round 1: (a,a) appears 3x3=9 times; after rewrite each word is [aa,aa]
    # round 2: (aa,aa) appears 3 times and beats (b,c)=1
    assert got == [(1, "a", "a", 9), (2, "aa", "aa", 3)]


def test_bpe_train_stops_when_pairs_run_out(spark):
    from radohydro_spark.functions.text import bpe_train_merges

    df = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    got = bpe_train_merges(df, "text", 5).collect()
    # one merge exhausts the vocabulary (single-symbol words have no pairs)
    assert len(got) == 1


def test_ivfpq_index_roundtrip_and_pruning(spark, tmp_path):
    """build → persist → probe must equal the in-memory composite
    exactly, and the probe plan must carry the centroid_id partition
    filter (the storage-level inverted-list seek)."""
    import re

    from radohydro_spark.operators.similarity import (
        build_ivfpq_index,
        ivf_pq_topk,
        query_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mem = sorted(tuple(r) for r in ivf_pq_topk(emb, q).collect())
    path = str(tmp_path / "index")
    build_ivfpq_index(emb, path)
    per = query_ivfpq_index(spark, path, q)
    assert sorted(tuple(r) for r in per.collect()) == mem
    plan = _plan(per)
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan)


def test_ivfpq_trained_quantizers_path(spark):
    """Production path: Lloyd-refined centroids + trained codebooks plug
    into the same plan; contract shape holds and the probe set obeys
    nprobe."""
    from radohydro_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_train,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_train(emb, n_centroids=8, iterations=1)
    books = pq_train(emb, m=8, k=8, iterations=1)
    out = ivf_pq_topk(emb, q, nprobe=3, k=5, centroids=cents, books=books).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    for qid in (0, 1):
        ranks = sorted(r["rank"] for r in out if r["query_id"] == qid)
        assert ranks == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# General polygon x polygon overlay (geometry/overlay.py)


def _star_ring(rng, nmin=3, nmax=14, rmax=3.0, cbox=5.0):
    """Random SIMPLE polygon: star-shaped around a center — sorted
    angles (max gap < pi so no edge crosses other wedges), ONE radius
    per vertex (two independent radii per vertex silently produces
    self-intersecting rings — the kernel's contract is simple
    polygons, like the reference's make_valid'd inputs)."""
    import math

    while True:
        n = rng.randint(nmin, nmax)
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        gaps = [angs[i + 1] - angs[i] for i in range(n - 1)] + [
            angs[0] + 2 * math.pi - angs[-1]
        ]
        if max(gaps) < 3.0 and len(set(angs)) == n:
            break
    cx, cy = rng.uniform(-cbox, cbox), rng.uniform(-cbox, cbox)
    ring = []
    for t in angs:
        rr = rng.uniform(0.5, rmax)
        ring.append((cx + rr * math.cos(t), cy + rr * math.sin(t)))
    ring.append(ring[0])
    if rng.random() < 0.5:
        ring = ring[::-1]
    return ring


def test_overlay_kernel_closed_forms():
    from radohydro_spark.geometry.overlay import polygon_intersection_area
    from radohydro_spark.geometry.wkb import wkb_polygon

    def poly(pts, holes=()):
        return wkb_polygon([list(pts)] + [list(h) for h in holes])

    sq = lambda x0, y0, s: [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
    # offset unit squares
    assert abs(polygon_intersection_area(poly(sq(0, 0, 1)), poly(sq(0.5, 0.5, 1))) - 0.25) < 1e-12
    # diamond fully inside square
    sq2 = poly([(-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1)])
    diam = poly([(1, 0), (0, 1), (-1, 0), (0, -1), (1, 0)])
    assert abs(polygon_intersection_area(sq2, diam) - 2.0) < 1e-12
    # concave L x square: 0.75, both orders
    L = poly([(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2), (0, 0)])
    c = poly(sq(0.5, 0.5, 1))
    assert abs(polygon_intersection_area(L, c) - 0.75) < 1e-12
    assert abs(polygon_intersection_area(c, L) - 0.75) < 1e-12
    # donut (hole) x square
    donut = poly(sq(0, 0, 4), holes=[sq(1, 1, 2)])
    assert abs(polygon_intersection_area(donut, poly(sq(0.5, 0.5, 3))) - 5.0) < 1e-12
    # C-shape x bar
    C = poly([(0, 0), (4, 0), (4, 1), (1, 1), (1, 2), (4, 2), (4, 3), (0, 3), (0, 0)])
    bar = poly([(2, -1), (3, -1), (3, 4), (2, 4), (2, -1)])
    assert abs(polygon_intersection_area(C, bar) - 2.0) < 1e-12
    # disjoint
    assert polygon_intersection_area(poly(sq(0, 0, 1)), poly(sq(5, 5, 1))) == 0.0


def test_overlay_kernel_matches_rect_kernel_on_random_polygons():
    """150 random simple star polygons x random rects: the general
    kernel must equal the specialized Sutherland-Hodgman rect kernel to
    float precision, in BOTH argument orders (fan-the-polygon and
    fan-the-rect exercise different code paths)."""
    import random

    from radohydro_spark.geometry.clip import rect_clip_polygon_area
    from radohydro_spark.geometry.overlay import polygon_intersection_area
    from radohydro_spark.geometry.wkb import wkb_polygon

    rng = random.Random(7)
    for trial in range(150):
        ring = _star_ring(rng)
        l, bt = rng.uniform(-6, 4), rng.uniform(-6, 4)
        r, tp = l + rng.uniform(0.5, 5), bt + rng.uniform(0.5, 5)
        rect_ring = [(l, bt), (r, bt), (r, tp), (l, tp), (l, bt)]
        exp = rect_clip_polygon_area(wkb_polygon([ring]), l, bt, r, tp)
        got = polygon_intersection_area(wkb_polygon([ring]), wkb_polygon([rect_ring]))
        assert abs(got - exp) < 1e-9 * max(1.0, exp), (trial, got, exp)
        got2 = polygon_intersection_area(wkb_polygon([rect_ring]), wkb_polygon([ring]))
        assert abs(got2 - exp) < 1e-9 * max(1.0, exp), (trial, got2, exp)


def test_overlay_kernel_symmetric_and_bounded():
    import random

    from radohydro_spark.geometry.clip import polygon_area
    from radohydro_spark.geometry.overlay import polygon_intersection_area
    from radohydro_spark.geometry.wkb import wkb_polygon

    rng = random.Random(11)
    for _ in range(40):
        r1 = _star_ring(rng, cbox=1.0, rmax=2.5)
        r2 = _star_ring(rng, cbox=1.0, rmax=2.5)
        a = polygon_intersection_area(wkb_polygon([r1]), wkb_polygon([r2]))
        b = polygon_intersection_area(wkb_polygon([r2]), wkb_polygon([r1]))
        assert abs(a - b) < 1e-9
        assert a <= min(polygon_area([r1[:-1]]), polygon_area([r2[:-1]])) + 1e-9
        assert a >= 0.0


def test_polygon_overlay_operator_matches_spatial_intersect(spark):
    """The general operator on the reference's own shape (rect cells as
    WKB polygons x basin boxes) == the specialized J1 path."""
    import pandas as pd

    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import polygon_overlay, spatial_intersect
    from radohydro_spark.sources.synthetic import synthetic_basins, synthetic_cells

    cells = synthetic_cells(spark)
    basins = synthetic_basins(spark)

    def to_wkb(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "cell_id": pdf["cell_row"] * 10000 + pdf["cell_col"],
                    "geom": [
                        wkb_box(l, b, r, t)
                        for l, b, r, t in zip(
                            pdf["left"], pdf["bottom"], pdf["right"], pdf["top"]
                        )
                    ],
                }
            )

    cpoly = cells.mapInPandas(to_wkb, schema="cell_id long, geom binary")
    got = {
        (r["a_id"], r["b_id"]): round(r["frag_area"], 6)
        for r in polygon_overlay(cpoly, basins, a_id="cell_id", b_id="basin_id").collect()
    }
    exp = {
        (r["cell_row"] * 10000 + r["cell_col"], r["basin_id"]): round(r["frag_area"], 6)
        for r in spatial_intersect(cells, basins).collect()
    }
    assert got == exp


def test_overlay_kernel_identity_adjacency_containment():
    import random

    from radohydro_spark.geometry.clip import polygon_area
    from radohydro_spark.geometry.overlay import polygon_intersection_area
    from radohydro_spark.geometry.wkb import wkb_polygon

    rng = random.Random(23)
    for _ in range(20):
        r1 = _star_ring(rng)
        a_self = polygon_intersection_area(wkb_polygon([r1]), wkb_polygon([r1]))
        assert abs(a_self - polygon_area([r1[:-1]])) < 1e-9 * max(1.0, a_self)
    # edge-adjacent squares intersect in a zero-area segment
    sq1 = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
    sq2 = [(1, 0), (2, 0), (2, 1), (1, 1), (1, 0)]
    assert polygon_intersection_area(wkb_polygon([sq1]), wkb_polygon([sq2])) < 1e-12
    # full containment: inner polygon's own area
    outer = [(-5, -5), (5, -5), (5, 5), (-5, 5), (-5, -5)]
    inner = [(0, 0), (1, 0), (1, 2), (0, 2), (0, 0)]
    got = polygon_intersection_area(wkb_polygon([outer]), wkb_polygon([inner]))
    assert abs(got - 2.0) < 1e-12


# ---------------------------------------------------------------------------
# PMI collocation mining


def test_pmi_collocations_match_bruteforce(spark):
    import math
    from collections import Counter

    from radohydro_spark.functions.text import pmi_collocations

    docs = [
        (1, "new york is a big city and new york never sleeps"),
        (2, "los angeles and new york share big city problems"),
        (3, "the city of new york has a big harbor"),
        (4, "big data and big models need big city power"),
    ]
    uni, bi = Counter(), Counter()
    for _, t in docs:
        ws = t.split()
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    n1, n2 = sum(uni.values()), sum(bi.values())
    exp = []
    for (a, b), cab in bi.items():
        if cab >= 2:
            pmi = math.log((cab / uni[a]) * (n1 / n2) * (n1 / uni[b]))
            exp.append((a, b, cab, round(pmi * 1_000_000)))
    exp.sort(key=lambda r: (-r[3], r[0], r[1]))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [
        (r["pa"], r["pb"], r["cab"], r["pmi_micro"])
        for r in pmi_collocations(df, "text", min_count=2, k=10).collect()
    ]
    assert got == exp[:10]
    # 'new york' must out-rank 'big city' (york follows new always;
    # city follows big only sometimes)
    ranks = {(r[0], r[1]): i for i, r in enumerate(got)}
    assert ranks[("new", "york")] < ranks[("big", "city")]


def test_pmi_boundary_margin_on_driver_corpora(spark):
    from radohydro_spark.functions.text import pmi_boundary_margin

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        m = pmi_boundary_margin(d)
        assert m > 1e-6, (sf, m)


def test_pmi_short_and_empty_documents_do_not_crash(spark):
    """r12 review finding: sequence(1, greatest(n-1, 0)) on a <=1-token
    document is the DESCENDING array [1, 0] and element_at aborted the
    job — the bigram index must be the empty array instead."""
    from radohydro_spark.functions.text import pmi_collocations

    docs = [
        (1, "hello"),
        (2, ""),
        (3, "   "),
        (4, "big city big city big city big city big city"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [
        (r["pa"], r["pb"]) for r in pmi_collocations(df, "text", min_count=2).collect()
    ]
    assert ("big", "city") in got


def test_overlay_kernel_random_holes_match_rect_kernel():
    """Random star polygons WITH a scaled star hole x random rects — the
    hole inclusion-exclusion path against the rect kernel's independent
    hole handling."""
    import random

    from radohydro_spark.geometry.clip import rect_clip_polygon_area
    from radohydro_spark.geometry.overlay import polygon_intersection_area
    from radohydro_spark.geometry.wkb import wkb_polygon

    rng = random.Random(31)
    for trial in range(60):
        outer = _star_ring(rng, nmin=5, nmax=12, rmax=3.0, cbox=2.0)
        # hole: the same ring scaled toward its centroid (stays inside —
        # star-shaped w.r.t. the centroid of its own vertex set)
        pts = outer[:-1]
        cx = sum(p[0] for p in pts) / len(pts)
        cy = sum(p[1] for p in pts) / len(pts)
        s = rng.uniform(0.2, 0.45)
        hole = [(cx + (x - cx) * s, cy + (y - cy) * s) for x, y in pts]
        hole.append(hole[0])
        poly = [outer, hole]
        l, bt = rng.uniform(-5, 3), rng.uniform(-5, 3)
        r, tp = l + rng.uniform(0.5, 5), bt + rng.uniform(0.5, 5)
        rect_ring = [(l, bt), (r, bt), (r, tp), (l, tp), (l, bt)]
        exp = rect_clip_polygon_area(wkb_polygon(poly), l, bt, r, tp)
        got = polygon_intersection_area(wkb_polygon(poly), wkb_polygon([rect_ring]))
        assert abs(got - exp) < 1e-9 * max(1.0, exp), (trial, got, exp)


def test_winnow_window_one_selects_every_position(spark):
    """Degenerate window=1: every positional shingle is its own window
    minimum — selection density 1.0 (the no-winnowing identity)."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y z")], ["doc_id", "text"]
    )
    out = winnow_fingerprints(df, "text", "doc_id", k=2, window=1).collect()
    # doc 1: 7 positional 2-grams, doc 2: 2
    per = {}
    for r in out:
        per[r["doc_id"]] = per.get(r["doc_id"], 0) + 1
    assert per == {1: 7, 2: 2}


# ---------------------------------------------------------------------------
# r12 review fixes (spatial layer)


def test_spatial_intersect_negative_xres_matches_theta_path(spark):
    """r12 review: the grid_meta equi-join path handled yres<0 but
    silently computed a wrong candidate window for xres<0 — fragments
    must match the theta path on a west-positive grid."""
    from radohydro_spark.operators.spatial import (
        create_cell_grid,
        grid_fragments,
        spatial_intersect,
    )
    from radohydro_spark.geometry.wkb import wkb_box

    # west-positive grid: x decreases with cell_col
    cells = create_cell_grid(spark, 4, 6, ulx=100.0, uly=0.0, xres=-10.0, yres=10.0)
    basins = spark.createDataFrame(
        [(1, wkb_box(55.0, 5.0, 85.0, 35.0)), (2, wkb_box(92.0, 12.0, 98.0, 18.0))],
        "basin_id long, geom binary",
    )
    theta = {
        (r["basin_id"], r["cell_row"], r["cell_col"], round(r["frag_area"], 6))
        for r in spatial_intersect(cells, basins).collect()
    }
    fast = {
        (r["basin_id"], r["cell_row"], r["cell_col"], round(r["frag_area"], 6))
        for r in spatial_intersect(
            cells, basins, grid_meta=(100.0, 0.0, -10.0, 10.0)
        ).collect()
    }
    assert theta and fast == theta
    # grid_fragments, with no cell table, gives the theta rows bit for bit
    meta = dict(n_rows=4, n_cols=6, ulx=100.0, uly=0.0, xres=-10.0, yres=10.0)
    key = ["basin_id", "cell_row", "cell_col"]
    want = [tuple(r) for r in spatial_intersect(cells, basins).orderBy(*key).collect()]
    assert [tuple(r) for r in grid_fragments(basins, meta).orderBy(*key).collect()] == want


def test_geom_bbox_empty_geometry_rows_drop_not_crash(spark):
    """r12 review: one empty geometry used to ValueError inside the bbox
    UDF and kill the whole pipeline — it must yield NULL bounds and drop
    out of the join."""
    import struct

    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import spatial_intersect
    from radohydro_spark.sources.synthetic import synthetic_cells

    # WKB MULTIPOLYGON with zero polygons
    empty_mp = struct.pack("<BII", 1, 6, 0)
    from radohydro_spark.sources.synthetic import GRID

    x0, y0 = GRID.x0, GRID.y0
    cells = synthetic_cells(spark)
    basins = spark.createDataFrame(
        [(1, wkb_box(x0, y0, x0 + 2000.0, y0 + 2000.0)), (2, empty_mp)],
        "basin_id long, geom binary",
    )
    rows = spatial_intersect(cells, basins).collect()
    assert rows and {r["basin_id"] for r in rows} == {1}
    # and through the grid_meta path too
    rows2 = spatial_intersect(
        cells, basins, grid_meta=(x0, y0, GRID.cell, GRID.cell)
    ).collect()
    assert {tuple(r) for r in rows2} == {tuple(r) for r in rows}


def test_rasterize_passthrough_attribute(spark):
    """r12 review: rasterize on a non-key basin attribute used to crash
    (spatial_intersect strips passthrough attrs); it must re-join them."""
    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import rasterize
    from radohydro_spark.sources.synthetic import synthetic_cells

    from radohydro_spark.sources.synthetic import GRID

    x0, y0 = GRID.x0, GRID.y0
    basins = spark.createDataFrame(
        [
            (1, "alpha", wkb_box(x0, y0, x0 + 1500.0, y0 + 1500.0)),
            (2, "beta", wkb_box(x0 + 1500.0, y0 + 1500.0, x0 + 4000.0, y0 + 4000.0)),
        ],
        "basin_id long, name string, geom binary",
    )
    out = rasterize(synthetic_cells(spark), basins, "name").collect()
    burned = {r["burn"] for r in out if r["burn"] is not None}
    assert burned == {"alpha", "beta"}


def test_polygon_overlay_string_ids(spark):
    """r12 review: the overlay operator's output schema must follow the
    input id types (string-keyed shapefile layers)."""
    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import polygon_overlay

    a = spark.createDataFrame(
        [("A1", wkb_box(0.0, 0.0, 2.0, 2.0)), ("A2", wkb_box(10.0, 10.0, 12.0, 12.0))],
        "code string, geom binary",
    )
    b = spark.createDataFrame(
        [("B7", wkb_box(1.0, 1.0, 3.0, 3.0))], "zone string, geom binary"
    )
    rows = polygon_overlay(a, b, a_id="code", b_id="zone").collect()
    assert [(r["a_id"], r["b_id"], round(r["frag_area"], 6)) for r in rows] == [
        ("A1", "B7", 1.0)
    ]


# ---------------------------------------------------------------------------
# r12 review fixes (dedup/text modules)


def test_query_lsh_index_rejects_wrong_geometry(spark, tmp_path):
    from radohydro_spark.operators.dedup import build_lsh_index, query_lsh_index

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with words {i * 7} {i * 13}") for i in range(20)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "idx")
    build_lsh_index(docs, path, n_hashes=8, rows_per_band=2)
    with pytest.raises(ValueError, match="length-8 signatures"):
        query_lsh_index(spark, path, docs.limit(2), n_hashes=4, rows_per_band=2)
    with pytest.raises(ValueError, match="band partitions"):
        query_lsh_index(spark, path, docs.limit(2), n_hashes=8, rows_per_band=4)


def test_update_lsh_index_rejects_intra_batch_duplicates(spark, tmp_path):
    from radohydro_spark.operators.dedup import build_lsh_index, update_lsh_index

    docs = spark.createDataFrame(
        [(i, f"base doc {i} tokens {i * 3}") for i in range(10)], ["doc_id", "text"]
    )
    path = str(tmp_path / "idx")
    build_lsh_index(docs, path, n_hashes=8, rows_per_band=2)
    batch = spark.createDataFrame(
        [(100, "new text one"), (100, "retried message different text")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="WITHIN the batch"):
        update_lsh_index(spark, path, batch, n_hashes=8, rows_per_band=2)


def test_lang_id_single_language_list(spark):
    from radohydro_spark.functions.text import lang_id

    df = spark.createDataFrame([(1, "whatever text")], ["doc_id", "text"])
    rows = df.select(lang_id("text", langs=["en"]).alias("lang")).collect()
    assert rows[0]["lang"] == "en"


def test_pack_sequences_offset_is_position_in_bin(spark):
    """r12 review: after a bin overflows, the next document STARTS its
    bin — offset must be 0, not cum_before % budget."""
    from radohydro_spark.functions.text import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 150)),  # overflows bin 0
            (2, " ".join(["w"] * 40)),   # first doc of bin 1
            (3, " ".join(["w"] * 30)),   # second doc of bin 1
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["bin"], r["offset"])
        for r in pack_sequences(docs, budget=100).collect()
    }
    assert got == {1: (0, 0), 2: (1, 0), 3: (1, 40)}


def test_quality_score_empty_docs_zero(spark):
    from radohydro_spark.functions.text import text_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a genuine sentence with several distinct words")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["quality"] for r in text_stats(df).collect()}
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] > 0.3


def test_html_to_text_uppercase_script_content_dropped(spark):
    from radohydro_spark.functions.text import html_to_text

    df = spark.createDataFrame(
        [(1, "<SCRIPT>var tracker = init();</SCRIPT><P>Hello</P>")],
        ["doc_id", "text"],
    )
    out = df.select(html_to_text("text").alias("t")).collect()[0]["t"]
    assert out == "Hello"


def test_inverted_index_uses_shared_token_law(spark):
    from radohydro_spark.functions.text import inverted_index

    df = spark.createDataFrame([(1, "foo\tbar\nbaz")], ["doc_id", "text"])
    terms = {r["term"] for r in inverted_index(df).collect()}
    assert terms == {"foo", "bar", "baz"}


# ---------------------------------------------------------------------------
# r12 review fixes (similarity/sampling modules)


def test_cosine_zero_vector_scores_zero_not_crash(spark):
    """Spark 4 ANSI mode: an all-zero embedding used to DIVIDE_BY_ZERO
    every cosine operator (reproduced live); it must score 0.0."""
    from radohydro_spark.operators.similarity import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    rows = {r["vec_id"]: r["cosine"] for r in cosine_topk(corpus, q, k=5).collect()}
    assert rows[2] == 0.0 and rows[1] > 0


def test_pq_path_string_ids(spark):
    """The PQ/ADC path must accept non-integer ids end to end (schemas
    follow the inputs; LUTs key by raw id)."""
    from radohydro_spark.operators.similarity import pq_adc_topk, pq_codebooks

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(32)
    corpus = base.select(
        F.concat(F.lit("v-"), F.col("vec_id").cast("string")).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = pq_codebooks(corpus, m=8, k=16, id_col="vec_id")
    out = pq_adc_topk(corpus, q, books, k=3, id_col="vec_id").collect()
    assert len(out) == 6
    assert all(r["vec_id"].startswith("v-") and r["query_id"].startswith("v-") for r in out)


def test_ivfpq_index_custom_id_col(spark, tmp_path):
    from radohydro_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = emb.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path, id_col="doc_id")
    out = query_ivfpq_index(spark, path, q, id_col="doc_id", k=5).collect()
    assert {r["query_id"] for r in out} == {0, 1}


def test_ivf_train_keeps_empty_clusters(spark):
    """A centroid that attracts zero vectors keeps its previous position
    instead of silently vanishing (the centroid table must never shrink)."""
    from radohydro_spark.operators.similarity import ivf_train

    # two duplicate seed vectors: one of the two identical centroids
    # attracts everything, the other attracts nothing
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0])] + [
        (i, [1.0 + 0.001 * i, 0.01 * i]) for i in range(2, 20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(emb, n_centroids=2, iterations=2)
    assert cents.count() == 2


def test_pq_codebooks_too_few_rows_raises(spark):
    from radohydro_spark.operators.similarity import pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(5)
    with pytest.raises(ValueError, match="only 5 vectors"):
        pq_codebooks(emb, m=8, k=16)


def test_hash_sample_half_bucket_matches_stratified(spark):
    """hash_sample and stratified_hash_sample must keep the SAME rows for
    the same rate (the half-bucket rounding used to differ)."""
    from radohydro_spark.operators.sampling import hash_sample, stratified_hash_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").withColumn(
        "s", F.lit("all")
    )
    plain = {r["doc_id"] for r in hash_sample(d, "doc_id", 0.25, mod=1000).collect()}
    strat = {
        r["doc_id"]
        for r in stratified_hash_sample(d, "doc_id", "s", {"all": 0.25}, mod=1000).collect()
    }
    assert plain == strat
