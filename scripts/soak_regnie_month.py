"""End-to-end soak: a REGNIE month through the fixed-width decode path.

Synthesizes 31 gzipped fixed-width day files (971 x 611 grid, the real
REGNIE shape, reference radohydro.py:95,392-395; ~18.4M cells for the
month) and runs ``radohydro_run(source='regnie')``: manifest →
raYYMMDD date filter → hard-coded lon/lat grid → fragments over each
basin's own cell window → the fused member kernel (gunzip + fixed-width parse (S7) per day, a NaN scan
of the fragment cells, NULL policy and weights on the fragments, then
one per-basin ``np.bincount`` per day) → sinks.

    python scripts/soak_regnie_month.py [n_basins]
"""

from __future__ import annotations

import gzip
import os
import shutil
import sys
import tempfile

import numpy as np

from soak import measure, session


def synth_mirror(mirror: str, n_rows: int, n_cols: int) -> int:
    r, c = np.arange(n_rows)[:, None], np.arange(n_cols)[None, :]
    for day in range(1, 32):
        nod = ((r * 13 + c * 7) % 5 == 0) & ((day + r + c) % 8 == 0)
        vals = np.where(nod, -999, (r + c + day * 3) % 1200).astype(int)
        body = "\n".join("".join(f"{v:4d}" for v in row) for row in vals)
        # a real day file ends in a metadata line, which the decoder drops
        payload = gzip.compress((body + "\nREGNIE synthetic trailer metadata line\n").encode())
        with open(os.path.join(mirror, f"ra2401{day:02d}.gz"), "wb") as f:
            f.write(payload)
    return 31


def main() -> None:
    n_basins = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    import pandas as pd

    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.plans.pipeline import radohydro_run
    from radohydro_spark.sources.regnie import REGNIE_COLS, REGNIE_ROWS, REGNIE_TRANSFORM as t

    spark, tr = session("soak_regnie_month")
    mirror, out = tempfile.mkdtemp(prefix="regnie_mirror_"), tempfile.mkdtemp(prefix="regnie_out_")
    synth = lambda: synth_mirror(mirror, REGNIE_ROWS, REGNIE_COLS)  # noqa: E731
    measure(tr, "synth", synth, lambda n: {"days": n})
    # basins as cell-aligned-ish rectangles scattered over the grid
    geoms = []
    for i in range(n_basins):
        w, h = 5 + (i * 7) % 40, 5 + (i * 11) % 40  # cells
        c0, r0 = (i * 97) % (REGNIE_COLS - w - 2) + 1, (i * 53) % (REGNIE_ROWS - h - 2) + 1
        left, right = t["ulx"] + c0 * t["xres"], t["ulx"] + (c0 + w) * t["xres"]
        top, bottom = t["uly"] + r0 * t["yres"], t["uly"] + (r0 + h) * t["yres"]
        geoms.append(wkb_box(left, min(top, bottom), right, max(top, bottom)))
    basins = spark.createDataFrame(
        pd.DataFrame({"basin_id": range(1, n_basins + 1), "geom": geoms}),
        "basin_id int, geom binary"
    )
    run = lambda: radohydro_run(  # noqa: E731
        spark, start="2024-01-01", end="2024-01-31", shapefile_path=basins, mirror_dir=mirror,
        out_dir=out, source="regnie", write_wide=True,
    ).count()
    leg = f"radohydro_run regnie 31 days {n_basins} basins"
    measure(tr, leg, run, lambda n: {"result_rows": n})
    shutil.rmtree(mirror, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
