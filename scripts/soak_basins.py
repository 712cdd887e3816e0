"""Basin-cardinality soak: the reference's >10k-polygon cliff, measured.

The reference README documents "considerable performance decrease"
beyond ~10k polygons (README.md:18) because ``gp.overlay`` sweeps
|cells| × |basins| candidate pairs.  The engine's ``spatial_intersect``
grid_meta path replaces that sweep with an exploded candidate-key
equi-join whose work is O(sum of per-basin bbox cells): LINEAR in
basins for a fixed basin-size distribution.  The candidate exchange
carries three ints per row (geometry re-joins on basin_id after the
probe) and NO side is force-broadcast: AQE picks broadcast for the
20-basin case and a shuffled hash join for the 25k+ regime.

Sweeps n_basins over the full 900x900 RADOLAN-scale cell grid; each
step also runs the exact-area UDF and the weights-shaped reduction
downstream consumers run.

    python scripts/soak_basins.py [n_basins ...]   # default 1000 5000 25000
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from soak import measure, session


def main() -> None:
    basin_counts = [int(a) for a in sys.argv[1:]] or [1000, 5000, 25000]
    from radohydro_spark.operators.spatial import create_cell_grid, spatial_intersect
    from radohydro_spark.sources.synthetic import RADOLAN_SCALE as g, radolan_scale_basins

    spark, tr = session("soak_basins")
    uly = g.y0 + g.n_rows * g.cell
    cells = create_cell_grid(spark, g.n_rows, g.n_cols, g.x0, uly, g.cell, -g.cell).persist()
    print("cells:", cells.count(), flush=True)
    for n in basin_counts:
        basins = radolan_scale_basins(spark, g, n_basins=n)

        def run():
            frags = spatial_intersect(cells, basins, grid_meta=(g.x0, uly, g.cell, -g.cell))
            return frags.groupBy("basin_id").agg(
                F.count("*").alias("n_frags"), F.sum("frag_area").alias("area")
            ).count()

        measure(tr, f"{n} basins", run, lambda k: {"basins_out": k})


if __name__ == "__main__":
    main()
