"""SemDeDup semantic dedup (operators/dedup.py, round 7)."""


def test_semdedup_drops_planted_near_duplicate(spark):
    """A planted paraphrase-level duplicate (same direction, scaled) must
    be dropped; the orthogonal vector survives; the keep-one policy keeps
    the LOWEST id of a duplicate group."""
    from radohydro_spark.operators.dedup import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [2.0, 0.1, 0.0, 0.0]),   # near-dup of 0 (cos ~0.999)
        (11, [0.0, 0.0, 1.0, 0.0]),   # orthogonal — survives
        (12, [4.0, 0.2, 0.0, 0.0]),   # near-dup of 0 AND 10
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r["vec_id"] for r in semdedup(df, n_clusters=2, threshold=0.95).collect()}
    assert 0 in kept and 1 in kept and 11 in kept
    assert 10 not in kept and 12 not in kept


def test_semdedup_pair_stage_is_cluster_equijoin(spark):
    """The pair stage must join on centroid_id — no corpus-wide cross
    product in the plan."""
    from radohydro_spark.operators.dedup import semdedup

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        semdedup(df, n_clusters=4, threshold=0.99)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_lsh_index_persist_roundtrip_equals_in_memory(spark, tmp_path):
    """r9: probing the persisted LSH index with the corpus itself must
    reproduce minhash_lsh_pairs exactly (same pairs, same est_jaccard) —
    the build->persist->probe round-trip loses nothing."""
    from radohydro_spark.operators.dedup import (
        build_lsh_index,
        minhash_lsh_pairs,
        query_lsh_index,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "a completely different sentence about spark partitions and shuffles"),
        (4, "the quick brown fox jumps over the lazy cat again and again"),
        (5, "another unrelated line mentioning parquet row group statistics"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mem = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(df, "text", "doc_id").collect()
    }
    path = str(tmp_path / "lsh")
    build_lsh_index(df, path, "text", "doc_id")
    idx = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in query_lsh_index(spark, path, df, "text", "doc_id").collect()
    }
    assert mem and idx == mem


def test_lsh_index_query_new_docs_against_corpus(spark, tmp_path):
    """A brand-new probe document (not in the index) must match its
    corpus near-duplicate via the persisted band join."""
    from radohydro_spark.operators.dedup import build_lsh_index, query_lsh_index

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally different words live in this second document here"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lsh2")
    build_lsh_index(corpus, path, "text", "doc_id")
    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    got = query_lsh_index(spark, path, probe, "text", "doc_id").collect()
    assert [(r["id_a"], r["id_b"], r["est_jaccard"]) for r in got] == [(1, 100, 1.0)]


def test_ngram_containment_finds_fragment_jaccard_misses(spark):
    """r9: a 5-token prefix fragment of a 40-token doc has containment
    1.0 but Jaccard ~0.1 — the inclusion-duplicate class the asymmetric
    metric exists for."""
    from radohydro_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    frag = " ".join(f"w{i}" for i in range(5))
    df = spark.createDataFrame(
        [(1, long_text), (2, frag)], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(
        df, "text", "doc_id", k=3, threshold=0.9, max_doc_freq=None
    ).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["cont_b"] == 1.0  # all fragment shingles inside the long doc
    assert r["cont_a"] < 0.2
    # the symmetric metric at the same bar sees nothing
    jac = ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.9, max_doc_freq=None
    ).collect()
    assert jac == []


def test_ngram_containment_matches_bruteforce_random(spark):
    """Randomized referee: every (pair, cont_a, cont_b) the operator
    emits — and nothing else above threshold — must match a plain-Python
    shingle-set computation over a seeded random corpus with planted
    prefixes, suffixes and infixes."""
    import random

    from radohydro_spark.operators.dedup import ngram_containment_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = {}
    for i in range(12):
        docs[i] = [rng.choice(vocab) for _ in range(rng.randint(6, 25))]
    docs[100] = docs[0][:7]          # prefix fragment
    docs[101] = docs[1][-8:]         # suffix fragment
    docs[102] = docs[2][3:11]        # infix fragment
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id long, text string"
    )

    def shingles(toks, k=3):
        return {
            " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))
        } - {""}

    want = {}
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sa, sb = shingles(docs[a]), shingles(docs[b])
            common = len(sa & sb)
            if not common:
                continue
            ca, cb = round(common / len(sa), 6), round(common / len(sb), 6)
            if ca >= 0.8 or cb >= 0.8:
                want[(a, b)] = (ca, cb)

    got = {
        (r["id_a"], r["id_b"]): (r["cont_a"], r["cont_b"])
        for r in ngram_containment_pairs(
            df, "text", "doc_id", k=3, threshold=0.8, max_doc_freq=None
        ).collect()
    }
    assert got == want
    # the planted fragments must all have been caught with containment 1.0
    assert want[(0, 100)][1] == 1.0
    assert want[(1, 101)][1] == 1.0
    assert want[(2, 102)][1] == 1.0


def test_update_lsh_index_equals_full_rebuild(spark, tmp_path):
    """r11: build on a base corpus, fold a disjoint batch in with
    update_lsh_index, probe with the union — must equal both the
    from-scratch rebuild AND the in-memory operator on the union."""
    from radohydro_spark.operators.dedup import (
        build_lsh_index,
        minhash_lsh_pairs,
        query_lsh_index,
        update_lsh_index,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "a completely different sentence about spark partitions and shuffles"),
        (4, "the quick brown fox jumps over the lazy cat again and again"),
        (5, "another unrelated line mentioning parquet row group statistics"),
        (6, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = df.filter("doc_id <= 4")
    batch = df.filter("doc_id > 4")
    upath = str(tmp_path / "updated")
    build_lsh_index(base, upath, "text", "doc_id")
    update_lsh_index(spark, upath, batch, "text", "doc_id")
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in query_lsh_index(spark, upath, df, "text", "doc_id").collect()
    }
    mem = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(df, "text", "doc_id").collect()
    }
    assert got and got == mem
    # the updated index must answer probes for BOTH cohorts without
    # re-signing (both ids present in the signature cache)
    from pyspark.sql import functions as F

    sigs = spark.read.parquet(f"{upath}/signatures")
    assert sigs.count() == 6


def test_update_lsh_index_rejects_duplicate_ids(spark, tmp_path):
    import pytest

    from radohydro_spark.operators.dedup import build_lsh_index, update_lsh_index

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "eta theta iota kappa mu nu")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(df, path, "text", "doc_id")
    with pytest.raises(ValueError, match="already indexed"):
        update_lsh_index(spark, path, df.filter("doc_id = 1"), "text", "doc_id")


def test_update_lsh_index_rejects_mismatched_geometry(spark, tmp_path):
    """r12 (ADVICE): the hash geometry is an argument, not persisted —
    an update signed with different n_hashes / rows_per_band must fail
    LOUDLY against the existing artifacts instead of silently writing
    mixed-length signatures or band partitions probes never read."""
    import pytest

    from radohydro_spark.operators.dedup import build_lsh_index, update_lsh_index

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "eta theta iota kappa mu nu")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(3, "xi omicron pi rho sigma tau")], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    build_lsh_index(df, path, "text", "doc_id", n_hashes=8, rows_per_band=2)
    with pytest.raises(ValueError, match="n_hashes"):
        update_lsh_index(
            spark, path, batch, "text", "doc_id", n_hashes=4, rows_per_band=2
        )
    # same n_hashes, different banding: signature length agrees but the
    # band partition layout would not — caught by the directory check
    with pytest.raises(ValueError, match="band partitions"):
        update_lsh_index(
            spark, path, batch, "text", "doc_id", n_hashes=8, rows_per_band=4
        )
    # the index is untouched: a correctly-parameterized update still lands
    update_lsh_index(
        spark, path, batch, "text", "doc_id", n_hashes=8, rows_per_band=2
    )


def test_global_rank_matches_single_task_window(spark, cache_free_collect):
    """The ranged global rank must equal the naive global row_number for
    any data and any range count — including more ranges than distinct
    order tuples, ties on the order key, and empty input — with every
    cache dropped before the rows are computed."""
    import random
    from collections import defaultdict

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from radohydro_spark.operators.dedup import global_rank

    rng = random.Random(7)
    rows = [(i, f"k{rng.randrange(50)}") for i in range(1, 500)]
    df = spark.createDataFrame(rows, "doc_id long, k string").repartition(13)
    ref = {
        r["doc_id"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(W.orderBy("k", "doc_id"))
        ).collect()
    }
    for n_parts in (7, 512):
        got = {
            r["doc_id"]: r["rank"]
            for r in cache_free_collect(global_rank(df, ["k", "doc_id"], n_parts=n_parts))
        }
        assert got == ref
    # ranked by k alone, ~10 rows tie on each of 50 keys: each tie group
    # holds exactly the reference's block of ranks
    by_k = defaultdict(set)
    for r in cache_free_collect(global_rank(df, ["k"], n_parts=64)):
        by_k[r["k"]].add(r["rank"])
    key_of, ref_k = dict(rows), defaultdict(set)
    for d, rank in ref.items():
        ref_k[key_of[d]].add(rank)
    assert by_k == ref_k
    empty = spark.createDataFrame([], "doc_id long, k string")
    assert cache_free_collect(global_rank(empty, ["k"], n_parts=4)) == []


def test_sorted_neighborhood_matches_bruteforce_definition(spark):
    """SNM pairs == (pairs within `window` ranks of the (text, id) sort)
    verified at exact Jaccard >= threshold, per the Hernandez-Stolfo
    definition."""
    import itertools
    import random

    from radohydro_spark.operators.dedup import sorted_neighborhood_pairs

    def brute(rows, w, k, t):
        order = sorted(rows, key=lambda r: (r[1], r[0]))
        sh = {}
        for i, txt in rows:
            toks = txt.split()
            sh[i] = {
                " ".join(toks[j : j + k]) for j in range(max(len(toks) - k + 1, 1))
            } - {""}
        out = {}
        for x in range(len(order)):
            for y in range(x + 1, min(x + w + 1, len(order))):
                a, b = order[x][0], order[y][0]
                a, b = min(a, b), max(a, b)
                inter = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - inter
                j = round(inter / union, 6) if union else 0.0
                if j >= t:
                    out[(a, b)] = j
        return out

    rng = random.Random(23)
    rows = []
    for i in range(1, 60):
        if i % 5 == 0:
            base = rows[-1][1].split()
            base[-1] = f"w{rng.randrange(8)}"
            rows.append((i, " ".join(base)))
        else:
            rows.append(
                (i, " ".join(f"w{rng.randrange(8)}" for _ in range(10)))
            )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=4, k=3, threshold=0.4
        ).collect()
    }
    assert got == brute(rows, 4, 3, 0.4)


def test_sorted_neighborhood_finds_adjacent_copies_only(spark):
    """Exact copies sort adjacent and are always found; a near-dup
    pushed outside the window by unrelated rows is NOT examined — the
    blocking property, stated and tested, not hidden."""
    from radohydro_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(1, "aaa bbb ccc ddd eee"), (2, "aaa bbb ccc ddd eee")]
    # 5 sorted-between rows separate doc 3 (a copy of 1/2 with a suffix
    # sorting far away only by its first token)
    rows += [(10 + i, f"bbb filler{i} x y z") for i in range(5)]
    rows += [(3, "zzz aaa bbb ccc ddd eee")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=2, k=3, threshold=0.5
        ).collect()
    }
    assert (1, 2) in got
    assert not any(3 in p for p in got)  # outside every 2-row window


def test_sorted_neighborhood_block_join_property(spark):
    """r12 hypothesis-style sweep of the rank-block verify's boundary
    conditions: random corpora across (window, corpus size, duplicate
    density) — including window=1, corpora smaller than a block,
    identical texts (rank ties broken by id), and docs landing exactly
    on block boundaries — must all match the Hernandez-Stolfo
    brute-force definition on the (64-prefix key, id) order.  The
    block join's pair-uniqueness argument (home×home in the shared
    block, boundary pairs via the left row's forward copy only) is
    exactly what this exercises."""
    import random

    from radohydro_spark.operators.dedup import sorted_neighborhood_pairs

    def brute(rows, w, k, t):
        order = sorted(rows, key=lambda r: (r[1][:64], r[0]))
        sh = {}
        for i, txt in rows:
            toks = txt.split()
            sh[i] = {
                " ".join(toks[j : j + k])
                for j in range(max(len(toks) - k + 1, 1))
            } - {""}
        out = {}
        for x in range(len(order)):
            for y in range(x + 1, min(x + w + 1, len(order))):
                a, b = order[x][0], order[y][0]
                a, b = min(a, b), max(a, b)
                inter = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - inter
                j = round(inter / union, 6) if union else 0.0
                if j >= t:
                    out[(a, b)] = j
        return out

    rng = random.Random(99)
    cases = [
        (1, 3, 0.3),   # window=1, tiny corpus (smaller than any block)
        (2, 0, 0.3),   # empty corpus
        (3, 70, 0.4),  # docs span block boundaries at B=64 (8*w=24 -> B=64)
        (9, 130, 0.5), # B=72; multiple blocks; bigger window
        (4, 65, 0.2),  # exactly one row past the first block
    ]
    for w, n, t in cases:
        rows = []
        for i in range(1, n + 1):
            if rows and i % 4 == 0:
                # duplicate / near-duplicate of an earlier row (ties +
                # adjacent sort ranks)
                base = rows[rng.randrange(len(rows))][1]
                rows.append((i, base if i % 8 else base + " x9"))
            else:
                rows.append(
                    (i, " ".join(f"w{rng.randrange(6)}" for _ in range(8)))
                )
        df = spark.createDataFrame(
            rows, "doc_id long, text string"
        ) if rows else spark.createDataFrame([], "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in sorted_neighborhood_pairs(
                df, "text", "doc_id", window=w, k=3, threshold=t
            ).collect()
        }
        assert got == brute(rows, w, 3, t), (w, n, t)


def test_sorted_neighborhood_prefix_key_matches_full_text_on_prefix_equivalent_corpus(
    spark,
):
    """On a corpus whose 64-char-prefix order equals its full-text order
    (every pair of texts diverges inside the first 64 chars), the bounded
    blocking key (r12 default) and the raw-text key (key_prefix_len=None,
    the r11 form) must produce IDENTICAL pairs — the key bound changes
    shuffle bytes, not the neighborhood."""
    import random

    from radohydro_spark.operators.dedup import sorted_neighborhood_pairs

    rng = random.Random(7)
    rows = []
    for i in range(1, 80):
        # texts are LONG (>64 chars) but start with a discriminating
        # token, so prefix order == full-text order
        head = f"h{rng.randrange(30):03d}"
        body = " ".join(f"w{rng.randrange(6)}" for _ in range(40))
        rows.append((i, f"{head} {body}"))
        if i % 7 == 0:
            rows.append((i + 1000, f"{head} {body} extra"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert all(len(t) > 64 for _, t in rows)

    def run(**kw):
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in sorted_neighborhood_pairs(
                df, "text", "doc_id", window=4, k=3, threshold=0.4, **kw
            ).collect()
        }

    assert run() == run(key_prefix_len=None)


def test_sorted_neighborhood_custom_key_col(spark):
    """key_col overrides the text prefix: blocking on a caller-computed
    domain key (classic SNM sorts on e.g. name+zip) must define the
    neighborhood on THAT key's order."""
    from radohydro_spark.operators.dedup import sorted_neighborhood_pairs

    # docs 1 and 2 are near-dups but sort FAR apart by text; their
    # custom keys are adjacent, so key_col blocking finds the pair
    rows = [
        (1, "zzz aaa bbb ccc ddd eee", "k1"),
        (2, "aaa bbb ccc ddd eee zzz", "k2"),
        (3, "unrelated text one two three", "m9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=1, k=3, threshold=0.4, key_col="blk"
        ).collect()
    }
    assert got == {(1, 2)}
    # text-prefix blocking (the default) does NOT find it at window=1:
    # doc 3's text does not sort between them, but 1 sorts last ('zzz')
    got_txt = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=1, k=3, threshold=0.4
        ).collect()
    }
    assert (1, 2) not in got_txt
