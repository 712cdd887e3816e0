"""CLI entry — the engine equivalent of running the reference as a script
(``python radohydro.py``, reference radohydro.py:549-551).

    python -m radohydro_spark --start 2024-01-01 --end 2024-01-31 \\
        --shape basins.shp --mirror /data/radolan --out /data/out \\
        [--source radolan|regnie] [--shape-crs epsg:4326 --grid-crs epsg:25833]
"""

from __future__ import annotations

import argparse
import os


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="radohydro_spark")
    ap.add_argument("--start", required=True)
    ap.add_argument("--end", required=True)
    ap.add_argument("--shape", required=True, help="basin shapefile (.shp)")
    ap.add_argument("--mirror", required=True, help="raster mirror directory")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--source", default="radolan", choices=["radolan", "regnie"])
    ap.add_argument("--date-type", default="minutes")
    ap.add_argument("--shape-crs", default=None)
    ap.add_argument("--grid-crs", default=None)
    ap.add_argument("--no-wide", action="store_true")
    args = ap.parse_args(argv)

    from radohydro_spark import get_spark
    from radohydro_spark.plans.pipeline import radohydro_run

    # one task slot per usable core (get_spark alone defaults to local[32])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark("radohydro_spark_cli")
    result = radohydro_run(
        spark,
        start=args.start,
        end=args.end,
        shapefile_path=args.shape,
        mirror_dir=args.mirror,
        out_dir=args.out,
        source=args.source,
        date_type=args.date_type,
        shape_crs=args.shape_crs,
        grid_crs=args.grid_crs,
        write_wide=not args.no_wide,
    )
    n = result.count()
    print(f"wrote {n} (basin, timestep) rows to {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
