"""RADOLAN end to end: ``n_days`` × 24 hourly 900x900 ESRI-ASCII rasters
through the real ingest entry.

One day (``n_days=1``) is the reference's actual daily workload
(radohydro.py:150,181; ~19.4M cells).  The month (30 days, ~583M
decoded cells) is ~1.4× past the reference's documented cliff in
timestep count: it np.dstacks every decoded grid into one dense in-RAM
array and ``sys.exit``s when that outgrows memory (radohydro.py:257-260,
README.md:17).  ``radohydro_run`` runs manifest → date filter → grid
transform → fragments over each basin's own cell window → the fused
member kernel (a NaN scan of the fragment cells, NULL policy and
weights on the fragments, then one per-basin ``np.bincount`` per raster) → per-basin CSV + wide GeoParquet
sinks; nothing is ever stacked dense, so memory is bounded by one
raster per task, not by the number of timesteps.  A second leg times
the per-basin CSV sink (K1) alone, over the result cached again.

    python scripts/soak_radolan.py [n_days] [n_basins]   # default 30 20

Day 1's 24 grids are synthesized once and hard-linked under day-stamped
names for days 2..N: file CONTENT repeats, but every file is opened,
decoded and aggregated independently (the filename carries the
timestamp), so the measured work is the real N-day volume.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import numpy as np

from soak import measure, session

N_ROWS, N_COLS = 900, 900
CELL = 1000.0
X0, Y0 = -523458.0, -4658645.0


def synth_mirror(mirror: str, n_days: int) -> int:
    header = (
        f"ncols {N_COLS}\nnrows {N_ROWS}\nxllcorner {X0}\nyllcorner {Y0}\n"
        f"cellsize {CELL}\nnodata_value -1\n"
    )
    r, c = np.arange(N_ROWS)[:, None], np.arange(N_COLS)[None, :]
    for h in range(24):
        nod = ((r * 13 + c * 7) % 5 == 0) & ((h + r + c) % 8 == 0)
        grid = np.where(nod, -1, (r * 31 + c * 17 + h * 13) % 120).astype(np.int32)
        # ESRI-ASCII rows run north->south (row 0 of the file is the TOP);
        # digit groups concatenate to a leading yyyyMMddHHmm
        with open(os.path.join(mirror, f"radolan_20240101{h:02d}00.asc"), "w") as f:
            f.write(header + "\n".join(" ".join(map(str, row)) for row in grid[::-1]) + "\n")
        for d in range(2, n_days + 1):
            os.link(f.name, os.path.join(mirror, f"radolan_202401{d:02d}{h:02d}00.asc"))
    return 24 * n_days


def main() -> None:
    n_days = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    n_basins = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    from radohydro_spark.plans.pipeline import radohydro_run
    from radohydro_spark.sinks import write_basin_csvs
    from radohydro_spark.sources.synthetic import RADOLAN_SCALE, radolan_scale_basins

    spark, tr = session("soak_radolan")
    mirror = tempfile.mkdtemp(prefix="radolan_mirror_")
    out = tempfile.mkdtemp(prefix="radolan_out_")
    synth = lambda: synth_mirror(mirror, n_days)  # noqa: E731
    n_files, _ = measure(tr, "synth", synth, lambda n: {"rasters": n})
    basins = radolan_scale_basins(spark, RADOLAN_SCALE, n_basins=n_basins)

    def run():
        result = radohydro_run(
            spark, start="2024-01-01 00:00:00", end=f"2024-01-{n_days:02d} 23:59:00",
            shapefile_path=basins, mirror_dir=mirror, out_dir=out, source="radolan",
            date_type="minutes",
        )
        return result, result.count()

    (result, _), _ = measure(tr, f"radohydro_run {n_days} days {n_basins} basins", run, lambda rn: {
        "cells_decoded": n_files * N_ROWS * N_COLS, "result_rows": rn[1],
        "basin_csvs": sum(f.endswith(".csv") for f in os.listdir(out)),
    })
    # the K1 sink alone, over the result cached again (measure released it)
    result.persist().count()
    csvs = os.path.join(out, "csv_only")
    measure(tr, f"write_basin_csvs {n_basins} basins", lambda: write_basin_csvs(result, basins, csvs),
            lambda files: {"basin_csvs": len(files)})
    result.unpersist()
    shutil.rmtree(mirror, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
