"""Round-6 operators: CDC apply, interval sweep, JL projection, file
skipping, word-chunk UDTF."""

import numpy as np
import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------------- apply_changes


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k int, price double, status string")


def test_apply_changes_inverts_snapshot_diff(spark):
    from radohydro_spark.operators.merge import apply_changes, snapshot_diff

    v1 = _snap(spark, [(1, 10.0, "O"), (2, 20.0, "F"), (3, 30.0, "O")])
    v2 = _snap(spark, [(2, 25.0, "F"), (3, 30.0, "P"), (4, 40.0, "O")])
    d = snapshot_diff(v1, v2, ["k"])
    got = {tuple(r) for r in apply_changes(v1, d, ["k"]).collect()}
    want = {tuple(r) for r in v2.collect()}
    assert got == want


def test_apply_changes_null_payloads(spark):
    from radohydro_spark.operators.merge import apply_changes, snapshot_diff

    v1 = _snap(spark, [(1, None, "O"), (2, 20.0, None)])
    v2 = _snap(spark, [(1, 5.0, "O"), (2, None, None)])
    d = snapshot_diff(v1, v2, ["k"])
    got = {tuple(r) for r in apply_changes(v1, d, ["k"]).collect()}
    assert got == {tuple(r) for r in v2.collect()}


def test_apply_changes_no_changes_is_identity(spark):
    from radohydro_spark.operators.merge import apply_changes

    v1 = _snap(spark, [(1, 10.0, "O"), (2, 20.0, "F")])
    empty = _snap(spark, []).withColumn("change_type", F.lit("x")).filter(
        F.lit(False)
    )
    got = {tuple(r) for r in apply_changes(v1, empty, ["k"]).collect()}
    assert got == {(1, 10.0, "O"), (2, 20.0, "F")}


# ---------------------------------------------------------------- sweep-line


def test_concurrency_sweep_half_open(spark):
    from radohydro_spark.operators.intervals import peak_concurrency

    rows = [
        # [0, 10), [5, 15): overlap -> 2
        ("a", "2024-01-01 00:00:00", "2024-01-01 00:00:10"),
        ("a", "2024-01-01 00:00:05", "2024-01-01 00:00:15"),
        # [15, 20) starts exactly when the previous ends: NO overlap
        ("a", "2024-01-01 00:00:15", "2024-01-01 00:00:20"),
        ("b", "2024-01-01 00:00:00", "2024-01-01 00:00:01"),
        # two separate episodes reach the same peak 2: the earlier wins
        ("c", "2024-01-01 01:00:00", "2024-01-01 01:00:10"),
        ("c", "2024-01-01 01:00:05", "2024-01-01 01:00:15"),
        ("c", "2024-01-01 00:00:00", "2024-01-01 00:00:10"),
        ("c", "2024-01-01 00:00:07", "2024-01-01 00:00:15"),
        # a pre-1970 peak (negative unix_micros) ties a later one: it wins
        ("d", "2024-01-01 00:00:00", "2024-01-01 00:00:10"),
        ("d", "2024-01-01 00:00:01", "2024-01-01 00:00:10"),
        ("d", "1969-12-31 23:59:50", "1970-01-01 00:00:05"),
        ("d", "1969-12-31 23:59:55", "1970-01-01 00:00:05"),
        # a pre-1970 lower peak loses to a later, higher one
        ("e", "1969-12-31 23:00:00", "1969-12-31 23:00:10"),
        ("e", "2024-01-01 00:00:00", "2024-01-01 00:00:10"),
        ("e", "2024-01-01 00:00:03", "2024-01-01 00:00:10"),
    ]
    df = spark.createDataFrame(rows, "key string, s string, e string").select(
        "key",
        F.to_timestamp("s").alias("s"),
        F.to_timestamp("e").alias("e"),
    )
    got = {
        r["key"]: (r["peak"], str(r["peak_at"]))
        for r in peak_concurrency(df, "s", "e", ["key"]).collect()
    }
    assert got["a"] == (2, "2024-01-01 00:00:05")
    assert got["b"] == (1, "2024-01-01 00:00:00")
    assert got["c"] == (2, "2024-01-01 00:00:07")
    assert got["d"] == (2, "1969-12-31 23:59:55")
    assert got["e"] == (2, "2024-01-01 00:00:03")


def test_concurrency_sweep_matches_bruteforce(spark):
    from radohydro_spark.operators.intervals import concurrency_sweep

    rng = np.random.RandomState(11)
    starts = rng.randint(0, 1000, 200)
    lens = rng.randint(1, 50, 200)
    rows = [(int(s), int(s + l)) for s, l in zip(starts, lens)]
    df = spark.createDataFrame(rows, "s long, e long")
    sweep = concurrency_sweep(df, "s", "e").collect()
    # brute force: at each sweep instant t, count intervals with s<=t<e
    for r in sweep[:: 17]:  # sample for speed
        t = r["t"]
        expect = sum(1 for s, e in rows if s <= t < e)
        if r["delta"] == 1:  # start rows carry the post-increment count
            assert r["concurrency"] <= expect + 0  # ties may split; max holds
    peak = max(r["concurrency"] for r in sweep)
    expect_peak = max(
        sum(1 for s, e in rows if s <= t < e) for t in set(starts.tolist())
    )
    assert peak == expect_peak


# ------------------------------------------------------------- JL projection


def test_random_projection_exact_integers(spark):
    from radohydro_spark.operators.similarity import random_projection_int

    rng = np.random.RandomState(5)
    vecs = [(i, [float(x) for x in rng.uniform(-0.5, 0.5, 8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in random_projection_int(df, out_dims=4).collect()}

    def sign(i, j):
        return 1 if ((i * 2654435761 + j * 40503) % 97) % 2 == 0 else -1

    for vid, emb in vecs:
        q = [round(float(np.float32(x)) * 1000) for x in emb]
        for j in range(4):
            want = sum(qi * sign(i, j) for i, qi in enumerate(q))
            assert out[vid][f"y{j}"] == want, (vid, j)
        l2q = sum(
            sum(qi * sign(i, j) for i, qi in enumerate(q)) ** 2 for j in range(4)
        )
        assert out[vid]["l2q"] == l2q


def test_random_projection_preserves_norm_statistically(spark):
    # J-L property: E[l2q / out_dims] = ||q||^2; check the fleet average
    from radohydro_spark.operators.similarity import random_projection_int

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.normal(0, 0.2, 32)]) for i in range(100)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = random_projection_int(df, out_dims=16).collect()
    ratio = []
    for r in rows:
        emb = dict(vecs)[r["vec_id"]]
        q2 = sum(round(float(np.float32(x)) * 1000) ** 2 for x in emb)
        ratio.append(r["l2q"] / 16.0 / q2)
    assert 0.8 < float(np.mean(ratio)) < 1.2


# ------------------------------------------------------------- file skipping


def test_file_skipping_prunes_and_is_exact(spark, tmp_path):
    from radohydro_spark.sinks.skipping import (
        file_manifest,
        read_pruned,
        write_clustered,
    )

    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    path = str(tmp_path / "clustered")
    write_clustered(df, path, "id", n_files=10)
    man = file_manifest(spark, path, "id")
    assert len(man) == 10
    # range-disjoint files
    spans = sorted((lo, hi) for _, lo, hi in man)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 < l2
    pruned, n_read, n_total = read_pruned(spark, path, "id", 2_000, 2_999, man)
    # range-boundary sampling is layout-dependent: a 10%-of-domain range
    # may straddle up to a few files — the invariant is that pruning
    # reads strictly fewer than all of them and loses no rows
    assert n_total == 10 and 1 <= n_read <= 4
    got = sorted(r["id"] for r in pruned.collect())
    assert got == list(range(2_000, 3_000))


def test_file_skipping_empty_range(spark, tmp_path):
    from radohydro_spark.sinks.skipping import read_pruned, write_clustered

    df = spark.range(0, 100)
    path = str(tmp_path / "c2")
    write_clustered(df, path, "id", n_files=4)
    pruned, n_read, _ = read_pruned(spark, path, "id", 500, 600)
    assert n_read == 0 and pruned.count() == 0


# --------------------------------------------------------------------- UDTF


def test_word_chunks_udtf(spark):
    from radohydro_spark.functions.udtfs import WordChunks

    spark.udtf.register("word_chunks_t", WordChunks)
    spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    ).createOrReplaceTempView("wc_docs")
    rows = spark.sql(
        "SELECT d.doc_id, c.* FROM wc_docs d, LATERAL word_chunks_t(d.text) c"
    ).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk"], r["n_words"]) for r in rows}
    assert got[(1, 0)] == ("a b c d e f g h i j", 10)
    assert got[(1, 1)] == ("k l", 2)
    assert got[(2, 0)] == ("solo", 1)
    assert got[(3, 0)] == ("", 1)  # empty text = one empty token, same as SQL


# --------------------------------------------------------------- fuzzy join


def test_blocked_fuzzy_join_matches_and_thresholds(spark):
    from radohydro_spark.operators.fuzzy import blocked_fuzzy_join

    left = spark.createDataFrame(
        [
            (1, "jonathan", "b1"),
            (2, "jXnathan", "b1"),
            (3, "zzzzzzzz", "b1"),   # nothing within distance 2
            (4, "maria", "b2"),
            (5, "marla", "b9"),      # right block, wrong key: no candidates
        ],
        "lk int, lname string, blk string",
    )
    right = spark.createDataFrame(
        [
            (10, "jonathan", "b1"),
            (11, "jonatan", "b1"),
            (20, "mario", "b2"),
            (21, "maria", "b2"),
        ],
        "rk int, rname string, blk string",
    )
    got = {
        r["lk"]: (r["rk"], r["distance"])
        for r in blocked_fuzzy_join(
            left, right, "blk", "lk", "rk", "lname", "rname", max_distance=2
        ).collect()
    }
    assert got[1] == (10, 0)   # exact beats close
    assert got[2] == (10, 1)   # one substitution
    assert got[4] == (21, 0)
    assert 3 not in got and 5 not in got


def test_blocked_fuzzy_join_tie_breaks_on_key(spark):
    from radohydro_spark.operators.fuzzy import blocked_fuzzy_join

    left = spark.createDataFrame([(1, "abc", "b")], "lk int, lname string, blk string")
    right = spark.createDataFrame(
        [(7, "abd", "b"), (3, "abe", "b")], "rk int, rname string, blk string"
    )
    row = blocked_fuzzy_join(
        left, right, "blk", "lk", "rk", "lname", "rname"
    ).collect()[0]
    assert (row["rk"], row["distance"]) == (3, 1)


# ---------------------------------------------------- CDC inverse property


def test_apply_changes_inverts_diff_property(spark):
    """Property: for ANY pair of snapshots over the same key space,
    apply_changes(v1, snapshot_diff(v1, v2)) == v2 — membership changes,
    value updates, NULLs, and empty diffs all covered by randomization."""
    import random

    from radohydro_spark.operators.merge import apply_changes, snapshot_diff

    rng = random.Random(42)
    for trial in range(8):
        keys = range(1, 30)
        def snap():
            rows = []
            for k in keys:
                if rng.random() < 0.7:
                    price = rng.choice([None, round(rng.uniform(1, 100), 2)])
                    status = rng.choice([None, "O", "F", "P"])
                    rows.append((k, price, status))
            return spark.createDataFrame(
                rows, "k int, price double, status string"
            )

        v1, v2 = snap(), snap()
        d = snapshot_diff(v1, v2, ["k"])
        got = {tuple(r) for r in apply_changes(v1, d, ["k"]).collect()}
        want = {tuple(r) for r in v2.collect()}
        assert got == want, f"trial {trial}: {got ^ want}"
