"""Connected-components operator: cluster resolution over dup pairs."""

from __future__ import annotations

import pytest

from radohydro_spark.operators.graph import connected_components, dedup_canonical


def test_components_chains_cliques_singletons(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21},
    # singleton {30} via the node universe
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (21, 20)],
        "src int, dst int",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 30]], "node int")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_components_long_chain_converges(spark):
    # worst-case diameter for hash-min: a 12-node path, min id at one end
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src int, dst int"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {1} and len(got) == 12


def test_dedup_canonical(spark):
    corpus = spark.createDataFrame(
        [(i, f"text {i}") for i in [1, 2, 3, 7, 9]], "doc_id int, text string"
    )
    pairs = spark.createDataFrame([(1, 3), (3, 9)], "id_a int, id_b int")
    rows = {r["doc_id"]: r for r in dedup_canonical(corpus, pairs).collect()}
    assert rows[1]["is_canonical"] and not rows[3]["is_canonical"] and not rows[9]["is_canonical"]
    assert rows[2]["is_canonical"] and rows[7]["is_canonical"]
    assert rows[3]["component"] == 1 and rows[9]["component"] == 1


def test_pagerank_mass_conservation_and_golden(spark):
    from radohydro_spark.operators.graph import pagerank
    from pyspark.sql import functions as F

    # a -> b, a -> c, b -> c ; c dangling
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    pr = pagerank(edges, damping=0.85, iterations=5)
    ranks = {r["node"]: r["rank"] for r in pr.collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # dangling mass conserved
    # python twin of the same fixed iteration
    d, n = 0.85, 3
    r = {k: 1 / n for k in "abc"}
    out = {"a": ["b", "c"], "b": ["c"], "c": []}
    for _ in range(5):
        dang = sum(r[k] for k in r if not out[k])
        contrib = {k: 0.0 for k in r}
        for u, vs in out.items():
            for v in vs:
                contrib[v] += r[u] / len(vs)
        r = {k: (1 - d) / n + d * (contrib[k] + dang / n) for k in r}
    for k in "abc":
        assert abs(ranks[k] - r[k]) < 1e-9
    # c is everyone's sink -> highest rank
    assert max(ranks, key=ranks.get) == "c"


def test_pagerank_prepartition_identical(spark):
    """r17: the edge pre-partition (repartition(src)+sort+persist) is a
    pure layout change — ranks must match the un-partitioned path
    row-for-row on the same graph."""
    from radohydro_spark.operators.graph import pagerank
    from radohydro_spark.plans.pipeline import release_persisted

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "a")],
        "src string, dst string",
    )
    try:
        off = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4, prepartition=False).collect()}
        on = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4, prepartition=True).collect()}
    finally:
        release_persisted()
    assert set(off) == set(on)
    for k in off:
        assert abs(off[k] - on[k]) < 1e-12


def test_pagerank_isolated_nodes_via_universe(spark):
    from radohydro_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], "node string")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, nodes, iterations=3).collect()}
    assert set(ranks) == {"a", "b", "z"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks["b"] > ranks["z"]  # z only receives dangling/teleport mass


def test_triangle_count_known_graph(spark):
    from pyspark.sql import functions as F

    from radohydro_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles, 4 total
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # adding a pendant vertex changes nothing
    df2 = spark.createDataFrame(edges + [(4, 5)], "src int, dst int")
    got2 = {r["node"]: r["n_triangles"] for r in triangle_count(df2).collect()}
    assert got2 == got


def test_triangle_count_canonicalizes_input(spark):
    from radohydro_spark.operators.graph import triangle_count

    # duplicates, reversed directions, and self-loops must not inflate
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 3), (2, 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_count_matches_bruteforce_random(spark):
    import itertools

    import numpy as np

    from radohydro_spark.operators.graph import triangle_count

    rng = np.random.RandomState(13)
    n = 30
    edges = set()
    for _ in range(120):
        a, b = rng.randint(0, n, 2)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                expect[v] = expect.get(v, 0) + 1
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src int, dst int"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == expect


def test_bfs_hops_chain_and_unreachable(spark):
    from radohydro_spark.operators.graph import bfs_hops

    # path 1-2-3-4, triangle 2-5-6(-2), island 9-10
    edges = [(1, 2), (2, 3), (3, 4), (2, 5), (5, 6), (6, 2), (9, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["hops"] for r in bfs_hops(df, 1).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 5: 2, 6: 2, 4: 3}
    # undirected: search from the far end works too
    got4 = {r["node"]: r["hops"] for r in bfs_hops(df, 4).collect()}
    assert got4[1] == 3 and got4[6] == 3 and 9 not in got4


def test_bfs_hops_cap(spark):
    from radohydro_spark.operators.graph import bfs_hops

    chain = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {r["node"]: r["hops"] for r in bfs_hops(df, 0, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


@pytest.mark.parametrize(
    "size",
    ["0", "10485760", "7b", "7B", "10k", "2Kb", "10m", "10MB", " 1g ", "3gb", "3t", "1TB", "1p", "2pb"],
)
def test_byte_string_parser_matches_spark(spark, size):
    """pagerank reads a suffixed autoBroadcastJoinThreshold without the
    JVM; the parser must agree with Spark's own (checked here, on the
    test side, through the classic gateway)."""
    from radohydro_spark.operators.graph import _byte_string_as_bytes

    jvm = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    assert _byte_string_as_bytes(size) == jvm.byteStringAsBytes(size)


@pytest.mark.parametrize("size", ["1.5m", "10x", "-1", "", "mb", "1bb"])
def test_byte_string_parser_rejects_what_spark_rejects(spark, size):
    from pyspark.errors.exceptions.captured import NumberFormatException

    from radohydro_spark.operators.graph import _byte_string_as_bytes

    jvm = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    with pytest.raises(ValueError, match="invalid byte size"):
        _byte_string_as_bytes(size)
    with pytest.raises(NumberFormatException):
        jvm.byteStringAsBytes(size)
