"""Connected components — duplicate-group resolution over near-dup pairs.

Pair-producing dedup operators (operators/dedup.py: exact, n-gram Jaccard,
MinHash-LSH, SimHash) emit EDGES (id_a, id_b).  Canonicalizing a corpus
("keep one doc per duplicate cluster") needs the transitive closure of
those edges: connected components, an inherently iterative computation the
reference engine has no counterpart for and plain SQL only reaches through
recursive CTEs.

Algorithm: hash-min label propagation.  Every node starts labelled with its
own id; each round every node takes the min label across itself and its
neighbors; stop when no label changes.  Rounds = graph diameter, which for
duplicate clusters (dense near-cliques produced by similarity thresholds)
is small and independent of corpus size — the row count per round is
|edges|, fully shuffle-parallel on the node key.  For adversarial
long-chain graphs the published upgrade is the alternating small-star /
large-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) with O(log² n) rounds; the loop below is the
practical choice for dedup workloads.

Spark specifics: each round ends in ``localCheckpoint`` — without it the
logical plan doubles every iteration and Catalyst analysis time explodes
long before the data does.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Spark's byte-size suffixes (binary multiples; no suffix is bytes)
_BYTE_SHIFTS = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20}
_BYTE_SHIFTS |= {"g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _byte_string_as_bytes(s: str) -> int:
    """``"10m"`` -> 10485760: the byte-size syntax of Spark configs
    (``JavaUtils.byteStringAsBytes``), case-insensitive."""
    m = re.fullmatch(r"([0-9]+)([a-z]*)", s.strip().lower())
    if m is None or m[2] not in _BYTE_SHIFTS:
        raise ValueError(f"invalid byte size: {s!r}")
    return int(m[1]) << _BYTE_SHIFTS[m[2]]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """(src, dst) undirected edges → (node, component), component = min
    node id of the cluster.

    ``nodes`` optionally supplies the full node universe (e.g. every
    doc_id) so isolated nodes come back as their own singleton component;
    default universe = nodes appearing in edges.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().localCheckpoint(eager=True)

    if nodes is None:
        universe = e.select(F.col("a").alias("node")).distinct()
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    labels = universe.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=True
    )

    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_chg"),
            )
        ).localCheckpoint(eager=False)
        # ONE job per round: the full-scan aggregate materializes every
        # partition of the lazily-marked local checkpoint (job-end
        # doCheckpoint finds nothing missing) AND returns the convergence
        # bit — the former eager-checkpoint + separate limit(1).count()
        # pair launched two jobs per iteration, pure scheduler overhead
        # on high-diameter graphs
        changed = new_labels.agg(F.count_if(F.col("_chg")).alias("n")).first()["n"]
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def dedup_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus + near-dup pairs → corpus annotated with (component,
    is_canonical): one keeper (min id) per duplicate cluster.  The
    filter ``is_canonical`` is the end-to-end dedup a training-data
    pipeline actually applies."""
    comp = connected_components(
        pairs, src=pairs.columns[0], dst=pairs.columns[1], nodes=df.select(id_col)
    )
    return df.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn(
        "is_canonical", F.col(id_col) == F.coalesce("component", F.col(id_col))
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    checkpoint_interval: int = 1,
    prepartition: bool | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list — the canonical
    iterative-algorithm shape (Brin & Page '98; Pregel/GraphX formulation)
    expressed relationally: each iteration is one broadcast-free
    contribution join (edges x ranks, shuffle on the node key, map-side
    combinable sum) plus a tiny 1-row aggregate for the dangling-node
    mass, crossJoined back so the loop stays fully declarative.

    rank'(v) = (1-d)/n + d * (sum_{u->v} rank(u)/outdeg(u) + dangling/n)

    Dangling mass (nodes with no out-edges) redistributes uniformly, so
    sum(rank) == 1 every iteration (asserted in tests).  Fixed iteration
    count rather than convergence-test: deterministic, oracle-friendly,
    and the per-round plan is identical — at 100 TB the edge list is
    pre-partitioned on ``src`` once and every round reuses that layout.

    Lineage is truncated every ``checkpoint_interval`` rounds, default
    EVERY round (r16 optimization): the per-round dangling-mass
    broadcast runs as its OWN job, so with un-checkpointed rounds the
    broadcast at round k re-executes the full k-round lineage — a
    quadratic re-execution term that the interleaved A/B (5 iterations,
    5-node graph) measured at 1.41 s for interval=4 vs 1.01 s for
    interval=1; at real graph scale the re-executed rounds are full
    shuffles, so the gap widens with |E|.  The checkpointed relation is
    node-sized (never edge-sized).  Raise the interval only for a loop
    with no per-round broadcast.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if nodes is None:
        universe = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    universe = universe.localCheckpoint(eager=True)
    n_nodes = universe.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e_deg = e.join(outdeg, "src").localCheckpoint(eager=True)
    # EDGE PRE-PARTITION (r17, VERDICT r16 #8): at graph scale every
    # round's contribution join is a shuffle join, and an un-partitioned
    # edge checkpoint re-shuffles the EDGE side (the big side) once per
    # iteration.  Re-materializing e_deg hash-partitioned + sorted on
    # ``src`` as a PERSIST (not a checkpoint: a checkpointed LogicalRDD
    # comes back as UnknownPartitioning on Spark 4.1 — measured, the
    # layout-reuse premise silently dies; InMemoryTableScan preserves
    # the cached plan's partitioning+ordering) lets every round's
    # shuffle join read the edge side with NO exchange — only the
    # node-sized rank relation moves per round.  ``prepartition=None``
    # decides by scale: only when the edge relation is too big to
    # broadcast (below the threshold the per-round join broadcasts and
    # never shuffles edges, so the extra layout pass would be pure cost
    # — the bench's 5-node graph stays on the identical old plan).  The
    # decision signal is the NODE count (already computed above — zero
    # extra jobs): the per-round join's small side is the node-sized
    # rank relation, so while ranks fit the broadcast threshold the
    # edge side is never shuffled and pre-partitioning buys nothing;
    # once ranks outgrow it the join goes sort-merge and the layout
    # pays every round.  (A first cut counted the edge relation — that
    # re-ran the full edge derivation per call, +1.1 s per bench
    # repetition; counting the checkpoint instead still cost a job and
    # ~0.15 s, and the node count is the truer signal anyway.)
    if prepartition is None:
        spark = edges.sparkSession
        thresh_raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        try:
            thresh = int(thresh_raw)
        except ValueError:
            thresh = _byte_string_as_bytes(thresh_raw)
        # a (node BIGINT, rank DOUBLE) broadcast row is ~24 bytes framed;
        # a disabled threshold (-1: no broadcasts, every join shuffles)
        # falls back to the default 10 MB cut
        limit = thresh if thresh >= 0 else 10 << 20
        prepartition = n_nodes * 24 > limit
    if prepartition:
        from radohydro_spark.plans.pipeline import _PERSISTED

        e_deg = e_deg.repartition("src").sortWithinPartitions("src").persist()
        _PERSISTED.append(e_deg)
        e_deg.count()
    # the dangling-mass anti-join runs EVERY iteration: probe it against
    # the checkpointed e_deg's src column, not against outdeg — outdeg's
    # lineage reaches back through the whole edge derivation (often a
    # window/sessionize over the fact table), which would replay once
    # per round; e_deg is materialized, so this is a cheap column scan
    # (anti-join semantics need no distinct on the probe side)
    edge_srcs = e_deg.select("src")

    ranks = universe.select("node", (F.lit(1.0) / n_nodes).alias("rank"))
    for it in range(iterations):
        contrib = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            ranks.join(
                edge_srcs, ranks["node"] == edge_srcs["src"], "left_anti"
            )
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        )
        ranks = (
            universe.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / n_nodes
                    )
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_interval == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts with degree orientation (r6) — the
    clustering-coefficient / community-density primitive.

    The naive three-way self-join enumerates every wedge at every
    vertex — a hub of degree d contributes O(d²) wedges, the classic
    power-law scale-killer.  Degree ORIENTATION fixes it: direct each
    undirected edge from its lower-(degree, id) endpoint to the higher
    one; every triangle then has exactly ONE vertex with two out-edges,
    and Σ out-deg² is O(E^1.5) regardless of skew (Suri-Vassilvitskii
    "MapReduce triangle counting").  Plan: degree aggregate (broadcast
    back), one self-join on the wedge apex, one equi-join probing the
    closing edge — no joins on raw degree-unbounded adjacency.

    Input edges may be directed/duplicated either way; they canonicalize
    to undirected-distinct first.  Self-loops are dropped.  Returns
    ``(node, n_triangles)`` for every node that closes ≥ 1 triangle.
    """
    from pyspark import StorageLevel

    from radohydro_spark.plans.pipeline import _PERSISTED

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        # the canonical edge set feeds THREE consumers (degrees, the
        # orientation join, the closing-edge probe): persist it, or the
        # whole upstream edge derivation replays once per consumer
        # (spillable, edge-list-sized; released via release_persisted())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PERSISTED.append(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient: keep (a -> b) iff (deg_a, a) < (deg_b, b)
    # no broadcast hint: the degree table is node-count-sized, which can
    # be billions — equi-join and let AQE downgrade to broadcast when it
    # actually fits
    d = e.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    directed = d.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        # both wedge sides read this frame — persist so the two degree
        # joins above run once, not twice
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(directed)
    # wedges at apex a: pairs of out-neighbours (b, c); close with edge b->c
    w1 = directed.select(F.col("a"), F.col("b"))
    w2 = directed.select(F.col("a"), F.col("b").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    closing = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.select(
        "a", F.least("b", "c").alias("b"), F.greatest("b", "c").alias("c")
    ).join(closing, ["b", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return per_node


def bfs_hops(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """Single-source shortest HOP distances by frontier BFS (r6) — the
    reachability/diameter primitive next to PageRank and connected
    components.  Treats edges as undirected.

    Per level: one equi-join of the (shrinking) frontier against the
    adjacency list, one anti-join against visited — the standard
    distributed BFS with work proportional to touched edges, not
    V·iterations.  Lineage is ``localCheckpoint``-truncated every
    ``checkpoint_interval`` levels (same cadence discipline as
    ``pagerank``); terminates when the frontier drains or at
    ``max_hops`` (documented cap — an unreachable-diameter guard, not a
    silent truncation: unreached nodes are simply absent from the
    result).

    Returns ``(node, hops)`` for every node reachable within
    ``max_hops``.
    """
    spark = edges.sparkSession
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # every hop joins the frontier against this adjacency — pin it,
        # or the upstream edge derivation replays once per level (the
        # same per-iteration discipline as pagerank's e_deg)
        .localCheckpoint(eager=True)
    )
    visited = spark.createDataFrame([(source, 0)], schema="node long, hops int")
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(und, frontier["node"] == und["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("hops"))
            # materialize each level once: the frontier is consumed three
            # times (emptiness test, the visited union, next level's
            # join) — without this the level's join+anti re-evaluates per
            # consumer.  Lazy checkpoint + count folds materialization and
            # the emptiness probe into ONE job per hop (same discipline as
            # connected_components' convergence fold): the full-scan count
            # computes every partition, so job-end doCheckpoint finds none
            # missing, and the former eager-checkpoint + isEmpty() pair
            # cost a second scheduler round per level.
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
        if hop % checkpoint_interval == 0:
            visited = visited.localCheckpoint(eager=True)
    return visited


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes of degree
    < k until a fixed point; return ``(node, degree)`` for the survivors,
    ``degree`` = the node's degree INSIDE the core (>= k by construction).

    The k-core is the standard density filter on similarity/interaction
    graphs (Seidman 1983): in a dedup or link graph it separates tight
    near-duplicate communities from incidental one-off matches that CC
    would happily chain together.

    Shape: edges are symmetrized + deduped once and checkpointed; each
    peel round is degree-count -> semi-join both endpoints -> lazy
    localCheckpoint whose materialization is folded into the convergence
    count (ONE job per round, same discipline as connected_components).
    Degrees only fall during peeling, so each round's work shrinks; the
    loop ends when the edge count reaches a fixed point.  Peeling depth
    is graph-dependent (a k=2 path graph peels one layer per round —
    covered in tests); dense near-dup cliques converge in 2-3 rounds.
    """
    assert k >= 1
    assert max_iter >= 1
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = e.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
    und = und.distinct()
    cur = (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .union(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=True)
    )
    prev_n = cur.count()
    n = prev_n
    converged = False
    for it in range(max_iter):
        keep = (
            cur.groupBy("a")
            .agg(F.count("*").alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("a")
        )
        nxt = (
            cur.join(keep, "a", "leftsemi")
            .join(keep.withColumnRenamed("a", "b"), "b", "leftsemi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        # prev_n keeps the PRE-round count until after the convergence
        # check so the exhaustion message below shows the real last
        # delta (assigning before the check printed 'n -> n')
        n = nxt.count()
        cur = nxt
        if n == prev_n:
            converged = True
            break
        if it < max_iter - 1:
            prev_n = n
    if not converged:
        # A non-fixed-point result silently contains nodes with degree < k
        # (a k=2 path graph peels ONE layer per round, so a >max_iter-node
        # path would otherwise return wrong survivors with no signal).
        # Peeling depth is bounded by the graph's degeneracy ordering, so
        # a legitimate deep graph just needs a bigger max_iter — fail loud.
        raise RuntimeError(
            f"k_core did not reach a fixed point within max_iter={max_iter} "
            f"peel rounds (directed edge count still shrinking: {prev_n} -> "
            f"{n}); raise max_iter for deep peel chains (e.g. long paths)"
        )
    return cur.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("degree"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection) — the
    near-linear community pass (Raghavan et al. 2007) a corpus graph
    gets AFTER :func:`connected_components`: components give the
    transitive-closure clusters; LPA splits a giant component into
    dense communities (host clusters in a link graph, topical clusters
    in a similarity graph) without any modularity optimization loop.

    DETERMINISTIC law (classic LPA leaves tie-breaks random; this
    variant pins them so runs and engines agree exactly): every node
    starts labelled with its own id; each round, SYNCHRONOUSLY, a
    node's new label is the most frequent label among its NEIGHBORS
    with ties broken by SMALLEST label — ``argmin by (count DESC,
    label ASC)``; nodes with no neighbors keep their current label.
    EXACTLY ``iters`` rounds (no convergence test — a fixed round
    count is what lets an exact SQL oracle unroll the recursion).
    Edges are symmetrized and de-duplicated; SELF-LOOPS are excluded
    (a self-vote would freeze every node at round 1).

    Plan shape per round: one broadcast-or-shuffle hash join
    (edges × labels on the src key) + one (node, label) count
    aggregate + one per-node window for the deterministic argmin +
    one left join back onto the node universe — all shuffle-parallel
    on the node key, rows per round bounded by |edges|.  Each round
    ends in ``localCheckpoint`` (the module convention: without it the
    logical plan doubles per iteration and Catalyst analysis explodes
    long before the data does).

    Returns ``(node, label)`` — nodes sharing a label form a
    community.

    Reference analog: none — extends the graph family
    (SURVEY §2 extension table).
    """
    if iters < 1:
        raise ValueError(
            "label_propagation: iters must be >= 1 (operators/graph.py)"
        )
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(
        eager=True
    )

    if nodes is None:
        universe = e.select(F.col("a").alias("node")).distinct()
    else:
        universe = nodes.select(
            F.col(nodes.columns[0]).alias("node")
        ).distinct()
    labels = universe.select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)

    from pyspark.sql import Window as W

    for _ in range(iters):
        votes = (
            e.join(labels, e["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("_c"))
        )
        wr = W.partitionBy("node").orderBy(
            F.col("_c").desc(), F.col("label").asc()
        )
        pick = (
            votes.withColumn("_rn", F.row_number().over(wr))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        labels = (
            labels.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_new"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels
