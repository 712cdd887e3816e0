"""Basin-cardinality soak: the reference's >10k-polygon cliff, measured.

The reference README documents "considerable performance decrease"
beyond ~10k polygons (README.md:18) because ``gp.overlay`` sweeps
|cells| × |basins| candidate pairs.  The engine's ``grid_fragments``
builds no cell table: each basin computes the exact areas of its own
cell window, so the work is O(sum of per-basin bbox cells), LINEAR in
basins for a fixed basin-size distribution.

Sweeps n_basins over the 900x900 RADOLAN-scale grid and times two
routes, each followed by the weights-shaped reduction downstream
consumers run:

* ``grid_fragments`` — what ``radohydro_run`` runs;
* ``spatial_intersect(cells, …, grid_meta=…)`` over a persisted cell
  table — the same fragments restricted to the table by a left-semi
  join.

The word ``large`` adds the large-window leg: one 24-vertex star basin
whose window covers ~700k of the grid's 810k cells, alone and with 20
small basins, timed through ``grid_fragments`` at several band sizes
(``_BAND_CELLS``), the largest being the whole grid — one task per
basin, the unbanded route.

An unmeasured ``grid_fragments`` call runs first, so the first leg
does not pay the Python workers' start-up.

    python scripts/soak_basins.py [n_basins ...] [large]   # default 1000 5000 25000
"""

from __future__ import annotations

import math
import sys

from pyspark.sql import functions as F

from soak import measure, session


def star_basin(spark, g, n_points: int = 12):
    """One star polygon centred on the grid, outer radius 420 cells,
    inner radius 300 cells, as basin 0."""
    import pandas as pd

    from radohydro_spark.geometry.wkb import wkb_polygon
    from radohydro_spark.schemas import BASINS_SCHEMA

    cx, cy = g.x0 + g.n_cols / 2 * g.cell, g.y0 + g.n_rows / 2 * g.cell
    ring = [
        (
            cx + (420 if i % 2 == 0 else 300) * g.cell * math.cos(math.pi * i / n_points),
            cy + (420 if i % 2 == 0 else 300) * g.cell * math.sin(math.pi * i / n_points),
        )
        for i in range(2 * n_points)
    ]
    pdf = pd.DataFrame({"basin_id": [0], "geom": [wkb_polygon([ring + ring[:1]])]})
    return spark.createDataFrame(pdf, schema=BASINS_SCHEMA)


def main() -> None:
    args = sys.argv[1:]
    large = "large" in args
    basin_counts = [int(a) for a in args if a != "large"] or ([] if large else [1000, 5000, 25000])
    from radohydro_spark.operators import spatial as sp
    from radohydro_spark.operators.spatial import (
        create_cell_grid,
        grid_fragments,
        spatial_intersect,
    )
    from radohydro_spark.sources.synthetic import RADOLAN_SCALE as g, radolan_scale_basins

    spark, tr = session("soak_basins")
    uly = g.y0 + g.n_rows * g.cell
    gm = (g.x0, uly, g.cell, -g.cell)
    meta = dict(n_rows=g.n_rows, n_cols=g.n_cols, ulx=g.x0, uly=uly, xres=g.cell, yres=-g.cell)
    grid_fragments(radolan_scale_basins(spark, g, n_basins=20), meta).count()

    def per_basin(frags):
        return frags.groupBy("basin_id").agg(
            F.count("*").alias("n_frags"), F.sum("frag_area").alias("area")
        ).count()

    if basin_counts:
        cells = create_cell_grid(spark, g.n_rows, g.n_cols, *gm).persist()
        print("cells:", cells.count(), flush=True)
    for n in basin_counts:
        basins = radolan_scale_basins(spark, g, n_basins=n)
        routes = {
            "grid_fragments": lambda: grid_fragments(basins, meta),
            "spatial_intersect": lambda: spatial_intersect(cells, basins, grid_meta=gm),
        }
        for route, frags in routes.items():
            measure(tr, f"{n} basins {route}", lambda: per_basin(frags()), lambda k: {"basins_out": k})
    if large:
        star = star_basin(spark, g)
        mixes = {"star": star, "star+20": star.unionByName(radolan_scale_basins(spark, g, 20))}
        default = sp._BAND_CELLS
        for name, basins in mixes.items():
            for band in (1 << 14, 1 << 16, 1 << 18, g.n_rows * g.n_cols):
                sp._BAND_CELLS = band
                measure(
                    tr,
                    f"{name} grid_fragments band={band}",
                    lambda: per_basin(grid_fragments(basins, meta)),
                    lambda k: {"basins_out": k},
                )
        sp._BAND_CELLS = default


if __name__ == "__main__":
    main()
