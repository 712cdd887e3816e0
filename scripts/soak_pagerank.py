"""Graph-family soak: pagerank edge pre-partitioning A/B, and label
propagation against its closed form.

The bench graph is 5 nodes: every per-round join broadcasts the rank
relation and the edge list is never shuffled, so pagerank's promise
("at 100 TB the edge list is pre-partitioned on src once and every round
reuses that layout") has no local evidence there.  This soak builds a
graph big enough that the rank relation exceeds the broadcast
threshold, so the per-round contribution join becomes a shuffle join,
and interleaves the prepartition variants (off / on / auto) in ONE
session, then checks that the layouts' ranks agree to a relative
tolerance of 1e-12 (they differ in float summation order only).

Then label_propagation on disjoint 4-cliques (25k and 50k cliques):
after 2 rounds every node must carry its clique's min id (LPA's closed
form on cliques); one candidate-vote shuffle per round, linear in
|edges|.

    python scripts/soak_pagerank.py [n_nodes] [edges_per_node] [reps]
    # defaults: 2_000_000 nodes x 10 edges = 20M edges, 3 reps each
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from functools import reduce

from pyspark.sql import functions as F

from soak import grow, measure, noop, session

# prepartitioned and plain pagerank must agree to this relative tolerance
RANK_RTOL = 1e-12


def main() -> None:
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    deg = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    from radohydro_spark.operators.graph import label_propagation, pagerank

    spark, tr = session("soak_pagerank")
    # a deterministic multigraph (pagerank's distinct() dedupes); dst spread
    # via xxhash, so in/out degrees are irregular but fixed
    root = tempfile.mkdtemp(prefix="soak_pr_edges_")
    spark.range(0, n_nodes * deg, 1, spark.sparkContext.defaultParallelism).select(
        (F.col("id") % n_nodes).alias("src"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).write.parquet(root + "/edges")
    e = spark.read.parquet(root + "/edges")

    def run(tag, prepartition):
        sink = lambda: noop(pagerank(e, iterations=5, prepartition=prepartition))  # noqa: E731
        return measure(tr, f"pagerank {tag}", sink)[1]["s"]

    run("warmup", None)
    walls = {"off": [], "on": [], "auto": []}
    for rep in range(reps):
        for tag, pp in (("off", False), ("on", True), ("auto", None)):
            walls[tag].append(run(f"{tag} rep{rep}", pp))
    # ranks compared row for row between the two layouts: the layouts sum
    # each node's contributions in a different order, so ranks agree to
    # float rounding (~1e-16 relative), not bit for bit
    a = pagerank(e, iterations=3, prepartition=False).withColumnRenamed("rank", "ra")
    b = pagerank(e, iterations=3, prepartition=True).withColumnRenamed("rank", "rb")
    scale = F.greatest(F.abs("ra"), F.abs("rb"))
    cmp = a.join(b, "node", "full").agg(
        F.count_if(F.col("ra").isNull() | F.col("rb").isNull()).alias("missing"),
        F.count_if(F.col("ra") != F.col("rb")).alias("inexact"),
        F.count_if(F.abs(F.col("ra") - F.col("rb")) > RANK_RTOL * scale).alias("beyond"),
        F.max(F.abs(F.col("ra") - F.col("rb")) / scale).alias("max_rel"),
    ).first()
    print(
        f"ranks: {cmp.missing} nodes on one side only, {cmp.inexact} not bit-equal, "
        f"{cmp.beyond} beyond rel tol {RANK_RTOL:g} (must be 0); "
        f"max rel diff {cmp.max_rel or 0.0:.1e}"
    )
    assert cmp.missing == 0 and cmp.beyond == 0, "pagerank layouts disagree"
    for tag, runs in walls.items():
        print(f"{tag:4s}: min {min(runs):.3f}s  runs {[round(r, 3) for r in runs]}")
    shutil.rmtree(root, ignore_errors=True)

    def cliques(n):  # clique c = nodes {4c .. 4c+3}, all 6 edges
        base = spark.range(n)
        pairs = [(i, j) for i in range(4) for j in range(4) if i < j]
        edges = [
            base.select((F.col("id") * 4 + i).alias("src"), (F.col("id") * 4 + j).alias("dst"))
            for i, j in pairs
        ]
        return label_propagation(reduce(lambda x, y: x.unionAll(y), edges), iters=2)

    def lpa_check(rows, n):
        assert len(rows) == 4 * n and all(r.label == (r.node // 4) * 4 for r in rows), rows[:3]
        return {"nodes": len(rows)}

    grow(tr, "label_propagation {} cliques", cliques, lpa_check, (25_000, 50_000))


if __name__ == "__main__":
    main()
