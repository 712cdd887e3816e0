"""Operator-level soak for the general polygon overlay (r12):
`polygon_overlay` over N random star polygons × a 100-polygon dimension
layer — the arbitrary-geometry regime the specialized rect path can't
serve.

Star polygons (8-16 vertices) scatter over a 200×200 world; the b-side
is 100 larger stars (12-24 vertices).  Reports bbox-candidate count,
survivors, wall, and pairs/s through the Arrow kernel — the measured
single-thread kernel throughput (~28k pairs/s at 8 verts, ~880 at 64;
operators/spatial.py docstring) parallelizes across the local cores.

    python scripts/soak_overlay_poly.py [n_polygons ...]   # default 20000 100000
"""

from __future__ import annotations

import math
import random
import sys

import pandas as pd
from pyspark.sql import functions as F

from soak import measure, session


def _star(rng, nmin, nmax, rmax, world):
    while True:
        n = rng.randint(nmin, nmax)
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        gaps = [angs[i + 1] - angs[i] for i in range(n - 1)] + [
            angs[0] + 2 * math.pi - angs[-1]
        ]
        if max(gaps) < 3.0 and len(set(angs)) == n:
            break
    cx, cy = rng.uniform(0, world), rng.uniform(0, world)
    ring = []
    for t in angs:
        rr = rng.uniform(0.3, rmax)
        ring.append((cx + rr * math.cos(t), cy + rr * math.sin(t)))
    ring.append(ring[0])
    return ring


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 100_000]
    from radohydro_spark.geometry.wkb import wkb_polygon
    from radohydro_spark.operators.spatial import polygon_overlay, with_bbox

    spark, tr = session("soak_overlay_poly")
    rng, world = random.Random(5), 200.0
    basins = spark.createDataFrame(
        [(i, wkb_polygon([_star(rng, 12, 24, 8.0, world)])) for i in range(100)],
        "b_id long, geom binary",
    )
    bb = with_bbox(basins, "geom")

    def gen(it):
        for pdf in it:
            rngs = [random.Random(int(i) * 2654435761 % (1 << 31)) for i in pdf["a_id"]]
            geoms = [wkb_polygon([_star(r, 8, 16, 1.5, world)]) for r in rngs]
            yield pd.DataFrame({"a_id": pdf["a_id"], "geom": geoms})

    for N in sizes:
        ids = spark.range(N).select(F.col("id").alias("a_id"))
        a = ids.mapInPandas(gen, schema="a_id long, geom binary").persist()
        a.count()
        # the candidate volume the bbox join admitted, re-derived
        aa = with_bbox(a, "geom").withColumnsRenamed(
            {"xmin": "ax0", "ymin": "ay0", "xmax": "ax1", "ymax": "ay1"}
        )
        overlaps = (
            (F.col("ax0") < F.col("xmax")) & (F.col("ax1") > F.col("xmin"))
            & (F.col("ay0") < F.col("ymax")) & (F.col("ay1") > F.col("ymin"))
        )
        n_cand = aa.join(F.broadcast(bb), overlaps).count()
        overlay = lambda: polygon_overlay(a, basins, a_id="a_id", b_id="b_id")  # noqa: E731
        _, m = measure(tr, f"N={N} x 100", lambda: overlay().count(),
                       lambda n: {"bbox_candidates": n_cand, "fragments": n})
        print(f"N={N:>7,}: candidates are {n_cand / (N * 100):.3%} of the pair space; "
              f"kernel-pairs/s={n_cand / m['s']:,.0f}", flush=True)
        a.unpersist()


if __name__ == "__main__":
    main()
