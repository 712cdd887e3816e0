"""End-to-end orchestration test: mirror dir + reference shapefile → CSVs.

Recreates the reference's primary `radohydro(...)` flow against a local
mirror of ESRI-ASCII rasters, using the reference's own `radohydro_debug1x3`
fixture (three exactly-cell-aligned 1 km rectangles — the reference
author's hand-verification geometry, SURVEY.md §5).
"""

from __future__ import annotations

import math
import os

from radohydro_spark.plans.pipeline import radohydro_run
from radohydro_spark.sources.shapefile import read_dbf

EXAMPLES = "/root/reference/Examples"


def _write_grid(path, ulx, uly, n_rows, n_cols, cell, value_fn, nodata=-1.0):
    with open(path, "w") as f:
        f.write(f"ncols {n_cols}\nnrows {n_rows}\n")
        f.write(f"xllcorner {ulx}\nyllcorner {uly - n_rows * cell}\n")
        f.write(f"cellsize {cell}\nNODATA_value {nodata}\n")
        for r in range(n_rows):
            f.write(" ".join(str(value_fn(r, c)) for c in range(n_cols)) + "\n")


def test_radohydro_run_debug1x3(spark, tmp_path):
    attrs = read_dbf(f"{EXAMPLES}/radohydro_debug1x3.dbf")
    cell = 1000.0
    # grid framing the three fixture cells with 2 cells of slack, aligned
    # to the fixture rect corners so each basin covers exactly one cell
    ulx = min(a["left"] for a in attrs) - 2 * cell
    uly = max(a["top"] for a in attrs) + 2 * cell
    n_cols, n_rows = 8, 8

    mirror = tmp_path / "mirror"
    mirror.mkdir()
    for h in range(4):  # hour 3 outside [start, end] — pruned by S5
        _write_grid(
            str(mirror / f"RW-20240101-{h:02d}00.asc"),
            ulx,
            uly,
            n_rows,
            n_cols,
            cell,
            lambda r, c, h=h: 10 * (r + c + h + 1),
        )

    out = tmp_path / "out"
    out.mkdir()
    result = radohydro_run(
        spark,
        start="2024-01-01 00:00:00",
        end="2024-01-01 02:00:00",
        shapefile_path=f"{EXAMPLES}/radohydro_debug1x3.shp",
        mirror_dir=str(mirror),
        out_dir=str(out),
        date_type="minutes",
        shape_crs="epsg:4326",  # fixture geometry is WGS84; attrs carry
        grid_crs="epsg:25833",  # the original UTM33 cell rects
    )
    rows = result.collect()
    assert len(rows) == 3 * 3  # 3 basins x 3 in-range hours

    # each fixture rect sits exactly on one grid cell: expected rainfall is
    # that cell's value / 10 = (row + col + h + 1)
    expected = {}
    for i, a in enumerate(attrs, start=1):
        col = round((a["left"] - ulx) / cell)
        row = round((uly - a["top"]) / cell)
        expected[i] = (row, col)
    for r in rows:
        row_, col_ = expected[r.basin_id]
        h = r.ts.hour
        # reprojected fixture rects land within ~1 m of the original UTM
        # cells -> neighbouring-cell slivers can shift the weighted mean by
        # a few hundredths of a millimetre
        assert abs(r.rainfall_mm - (row_ + col_ + h + 1)) < 0.05, (r, row_, col_)

    csvs = sorted(p for p in os.listdir(out) if p.endswith(".csv"))
    assert csvs == ["basin_1.csv", "basin_2.csv", "basin_3.csv"]
    body = open(out / "basin_1.csv").read().splitlines()
    assert len(body) == 3 + 3  # headers + 3 timesteps
    assert spark.read.parquet(str(out / "basins_wide.parquet")).count() == 3


def test_radohydro_run_regnie(spark, tmp_path):
    """REGNIE path: gzipped fixed-width day files, hard-coded lon/lat grid
    (reference radohydro.py:392-395), daily timestamps from raYYMMDD names."""
    import gzip

    import numpy as np

    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.sources.regnie import REGNIE_COLS, REGNIE_ROWS, REGNIE_TRANSFORM

    def day_payload(day: int) -> bytes:
        r = np.arange(REGNIE_ROWS)[:, None]
        c = np.arange(REGNIE_COLS)[None, :]
        vals = ((r + c + day) % 1200).astype(int)
        lines = ["".join(f"{v:4d}" for v in row) for row in vals]
        lines.append("metadata trailer")  # dropped by the decoder
        return gzip.compress("\n".join(lines).encode())

    mirror = tmp_path / "regnie"
    mirror.mkdir()
    for day in (1, 2):
        (mirror / f"ra2401{day:02d}.gz").write_bytes(day_payload(day))

    # one basin covering exactly cells (row 100, cols 200..202)
    t = REGNIE_TRANSFORM
    left = t["ulx"] + 200 * t["xres"]
    right = t["ulx"] + 203 * t["xres"]
    top = t["uly"] + 100 * t["yres"]
    bottom = t["uly"] + 101 * t["yres"]
    basins = spark.createDataFrame(
        [(1, wkb_box(left, bottom, right, top))], "basin_id int, geom binary"
    )

    out = tmp_path / "out"
    out.mkdir()
    result = radohydro_run(
        spark,
        start="2024-01-01",
        end="2024-01-02",
        shapefile_path=basins,
        mirror_dir=str(mirror),
        out_dir=str(out),
        source="regnie",
        write_wide=False,
    )
    rows = {r.ts.day: r.rainfall_mm for r in result.collect()}
    for day in (1, 2):
        vals = [(100 + c + day) % 1200 for c in (200, 201, 202)]
        assert rows[day] == round(sum(vals) / 3 / 10, 3)


def test_cli_entry(spark, tmp_path, capsys):
    """python -m radohydro_spark smoke: same flow as the API test, through
    argument parsing (session is reused via getOrCreate)."""
    from radohydro_spark.__main__ import main

    attrs = read_dbf(f"{EXAMPLES}/radohydro_debug1x3.dbf")
    cell = 1000.0
    ulx = min(a["left"] for a in attrs) - 2 * cell
    uly = max(a["top"] for a in attrs) + 2 * cell
    mirror = tmp_path / "m"
    mirror.mkdir()
    _write_grid(str(mirror / "RW-20240101-0000.asc"), ulx, uly, 8, 8, cell, lambda r, c: 50)
    out = tmp_path / "o"
    out.mkdir()
    rc = main(
        [
            "--start", "2024-01-01 00:00:00",
            "--end", "2024-01-01 02:00:00",
            "--shape", f"{EXAMPLES}/radohydro_debug1x3.shp",
            "--mirror", str(mirror),
            "--out", str(out),
            "--shape-crs", "epsg:4326",
            "--grid-crs", "epsg:25833",
            "--no-wide",
        ]
    )
    assert rc == 0
    assert "wrote 3 (basin, timestep) rows" in capsys.readouterr().out
    assert len([p for p in os.listdir(out) if p.endswith(".csv")]) == 3


def test_cli_entry_tmp_mirror(spark, tmp_path, capsys):
    """test_cli_entry without the reference fixture: the basins go through
    our own shapefile writer, and ``--out`` does not exist yet."""
    from radohydro_spark.__main__ import main
    from radohydro_spark.sinks.shapefile_writer import write_shapefile
    from radohydro_spark.sources.ascii_grid import decode_ascii_grids, grid_meta

    write_shapefile(_basins_df(spark), str(tmp_path / "basins.shp"))
    mirror = _hourly_mirror(tmp_path / "mirror", _write_ascii)
    out = tmp_path / "new" / "out"
    rc = main(
        [
            "--start", "2024-01-01 00:00:00",
            "--end", "2024-01-01 02:00:00",
            "--shape", str(tmp_path / "basins.shp"),
            "--mirror", mirror,
            "--out", str(out),
        ]
    )
    assert rc == 0
    assert "wrote 9 (basin, timestep) rows" in capsys.readouterr().out
    meta = grid_meta((tmp_path / "mirror" / "RW-202401010000.asc").read_bytes())
    want = _generic(
        spark, mirror, lambda m: decode_ascii_grids(m, "minutes"), meta,
        "2024-01-01 00:00:00", "2024-01-01 02:00:00", "minutes", _basins_df(spark),
    )
    _check_run(None, out, want, _areas())


def test_radohydro_run_geotiff_mirror(spark, tmp_path):
    """S9 path: the same debug1x3 run from a GeoTIFF mirror must reproduce
    the ASCII-grid run bit-for-bit (shared obs contract, SURVEY.md §2 S9)."""
    import numpy as np

    from radohydro_spark.sources.geotiff import encode_geotiff

    attrs = read_dbf(f"{EXAMPLES}/radohydro_debug1x3.dbf")
    cell = 1000.0
    ulx = min(a["left"] for a in attrs) - 2 * cell
    uly = max(a["top"] for a in attrs) + 2 * cell
    n_cols = n_rows = 8

    mirror = tmp_path / "mirror_tif"
    mirror.mkdir()
    for h in range(3):
        vals = np.array(
            [[10 * (r + c + h + 1) for c in range(n_cols)] for r in range(n_rows)],
            dtype="int16",
        )
        blob = encode_geotiff(vals, ulx, uly, cell, -cell, nodata=-1.0)
        (mirror / f"RW-20240101-{h:02d}00.tif").write_bytes(blob)

    out = tmp_path / "out_tif"
    out.mkdir()
    result = radohydro_run(
        spark,
        start="2024-01-01 00:00:00",
        end="2024-01-01 02:00:00",
        shapefile_path=f"{EXAMPLES}/radohydro_debug1x3.shp",
        mirror_dir=str(mirror),
        out_dir=str(out),
        source="geotiff",
        date_type="minutes",
        shape_crs="epsg:4326",
        grid_crs="epsg:25833",
        write_wide=False,
    )
    rows = result.collect()
    assert len(rows) == 9
    expected = {}
    for i, a in enumerate(attrs, start=1):
        col = round((a["left"] - ulx) / cell)
        row = round((uly - a["top"]) / cell)
        expected[i] = (row, col)
    for r in rows:
        row_, col_ = expected[r.basin_id]
        assert abs(r.rainfall_mm - (row_ + col_ + r.ts.hour + 1)) < 0.05


# ---------------------------------------------------------------------------
# Fixture-free runs: mirrors built in tmp_path, basins passed as a
# DataFrame.  Every output is checked against precip_timeseries over
# decode_members on the same members.

CELL = 1000.0
ULX, ULY = 406000.0, 5630000.0  # upper-left corner of a 12 x 10 north-up grid
N_ROWS, N_COLS = 12, 10
# (basin_id, left, bottom, right, top): fractional cover of several cells;
# inside one cell that is NaN at hour 1 (all dirty -> NULL); partly dirty
RECTS = [
    (1, ULX + 1300.0, ULY - 5600.0, ULX + 4700.0, ULY - 2200.0),
    (2, ULX + 6200.0, ULY - 8800.0, ULX + 6800.0, ULY - 8200.0),
    (3, ULX + 500.0, ULY - 11500.0, ULX + 9000.0, ULY - 6500.0),
]
# (row, col) -> hours at which the cell is nodata
NODATA = {(8, 6): {1}, (2, 2): {0, 2}, (10, 3): {1}}


def _value(r, c, h):
    return -1 if h in NODATA.get((r, c), ()) else (r * 31 + c * 17 + h * 13) % 120


def _basins_df(spark):
    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.schemas import BASINS_SCHEMA

    return spark.createDataFrame(
        [(bid, wkb_box(l, b, r, t)) for bid, l, b, r, t in RECTS], schema=BASINS_SCHEMA
    )


def _generic(spark, mirror, decode, meta, start, end, date_type, basins):
    """{(basin_id, ts): rainfall_mm} of the generic plan on the mirror."""
    from radohydro_spark.operators.spatial import create_cell_grid
    from radohydro_spark.plans.pipeline import precip_timeseries
    from radohydro_spark.sources.manifest import filter_members_by_range, local_manifest

    manifest = filter_members_by_range(local_manifest(spark, mirror), start, end, date_type)
    gm = (meta["ulx"], meta["uly"], meta["xres"], meta["yres"])
    cells = create_cell_grid(spark, meta["n_rows"], meta["n_cols"], *gm)
    res = precip_timeseries(decode(manifest), cells, basins, grid_meta=gm)
    return {(r.basin_id, r.ts): r.rainfall_mm for r in res.collect()}


def _check_run(result, out, want, areas, wide=True):
    """The returned frame (unless None), the per-basin CSVs and the wide
    table all carry ``want``; CSV headers carry each basin's id and area."""
    import pyarrow.parquet as pq

    if result is not None:
        assert {(r.basin_id, r.ts): r.rainfall_mm for r in result.collect()} == want
    stamps = sorted({ts for _, ts in want})
    ids = sorted({b for b, _ in want})
    width = max(1, math.ceil(math.log10(len(areas) + 1)))
    csvs = sorted(p for p in os.listdir(out) if p.endswith(".csv"))
    assert csvs == [f"basin_{str(b).zfill(width)}.csv" for b in ids]
    for b in ids:
        lines = (out / f"basin_{str(b).zfill(width)}.csv").read_text().splitlines()
        assert lines[0] == f"basinID,{str(b).zfill(width)}"
        assert lines[1].split(",")[0] == "area[m2]"
        assert math.isclose(float(lines[1].split(",")[1]), areas[b])
        assert lines[2] == "Time[yymmddhhmm],rainfall[mm]"
        rows = [line.split(",") for line in lines[3:]]
        assert [t for t, _ in rows] == [ts.strftime("%y%m%d%H%M") for ts in stamps]
        assert [float(v) if v else None for _, v in rows] == [want[(b, ts)] for ts in stamps]
    if wide:
        table = pq.read_table(str(out / "basins_wide.parquet")).to_pylist()
        assert sorted(row["basin_id"] for row in table) == ids
        for row in table:
            for ts in stamps:
                assert row[ts.strftime("%y%m%d%H%M")] == want[(row["basin_id"], ts)]


def _areas():
    return {bid: (r - l) * (t - b) for bid, l, b, r, t in RECTS}


def _hourly_mirror(path, write_member):
    """Hours 0-2 in range, hour 3 outside it (pruned by S5)."""
    path.mkdir()
    for h in range(4):
        write_member(path, h)
    return str(path)


def _run(spark, mirror, out, **kw):
    out.mkdir()
    return radohydro_run(
        spark,
        start="2024-01-01 00:00:00",
        end="2024-01-01 02:00:00",
        shapefile_path=_basins_df(spark),
        mirror_dir=mirror,
        out_dir=str(out),
        date_type="minutes",
        **kw,
    )


def _write_ascii(path, h):
    _write_grid(
        str(path / f"RW-20240101{h:02d}00.asc"), ULX, ULY, N_ROWS, N_COLS, CELL,
        lambda r, c: _value(r, c, h),
    )


def test_radohydro_run_ascii_mirror_matches_generic_plan(spark, tmp_path):
    from radohydro_spark.sources.ascii_grid import decode_ascii_grids, grid_meta

    mirror = _hourly_mirror(tmp_path / "mirror", _write_ascii)
    result = _run(spark, mirror, tmp_path / "out")
    meta = grid_meta((tmp_path / "mirror" / "RW-202401010000.asc").read_bytes())
    want = _generic(
        spark, mirror, lambda m: decode_ascii_grids(m, "minutes"), meta,
        "2024-01-01 00:00:00", "2024-01-01 02:00:00", "minutes", _basins_df(spark),
    )
    assert len(want) == 9 and any(v is None for v in want.values())
    _check_run(result, tmp_path / "out", want, _areas())


def test_radohydro_run_geotiff_mirror_matches_generic_plan(spark, tmp_path):
    import numpy as np

    from radohydro_spark.sources.geotiff import decode_geotiffs, encode_geotiff, geotiff_meta

    def write(path, h):
        vals = np.array(
            [[_value(r, c, h) for c in range(N_COLS)] for r in range(N_ROWS)], dtype="int16"
        )
        blob = encode_geotiff(vals, ULX, ULY, CELL, -CELL, nodata=-1.0)
        (path / f"RW-20240101{h:02d}00.tif").write_bytes(blob)

    mirror = _hourly_mirror(tmp_path / "mirror", write)
    result = _run(spark, mirror, tmp_path / "out", source="geotiff")
    meta = geotiff_meta((tmp_path / "mirror" / "RW-202401010000.tif").read_bytes())
    want = _generic(
        spark, mirror, lambda m: decode_geotiffs(m, "minutes"), meta,
        "2024-01-01 00:00:00", "2024-01-01 02:00:00", "minutes", _basins_df(spark),
    )
    assert len(want) == 9
    _check_run(result, tmp_path / "out", want, _areas())


def test_radohydro_run_regnie_mirror_matches_generic_plan(spark, tmp_path):
    import gzip

    import numpy as np

    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.schemas import BASINS_SCHEMA
    from radohydro_spark.sources.regnie import (
        REGNIE_COLS,
        REGNIE_ROWS,
        REGNIE_TRANSFORM,
        decode_regnie,
    )

    r = np.arange(REGNIE_ROWS)[:, None]
    c = np.arange(REGNIE_COLS)[None, :]
    mirror = tmp_path / "regnie"
    mirror.mkdir()
    for day in (1, 2, 5):  # day 5 outside the range
        vals = (r * 7 + c * 3 + day * 11) % 400
        vals = np.where((r == 100) & (c == 201) & (day == 2), -999, vals)
        lines = ["".join(f"{v:4d}" for v in row) for row in vals] + ["trailer"]
        (mirror / f"ra2401{day:02d}.gz").write_bytes(gzip.compress("\n".join(lines).encode()))

    t = REGNIE_TRANSFORM

    def box(row0, col0, rows, cols):  # a cell-index rectangle, shrunk 10%
        left, top = t["ulx"] + col0 * t["xres"], t["uly"] + row0 * t["yres"]
        return wkb_box(
            left + 0.1 * t["xres"], top + (rows - 0.1) * t["yres"],
            left + (cols - 0.1) * t["xres"], top + 0.1 * t["yres"],
        )

    # basin 1 partly dirty (cell 100, 201 NaN on day 2), basin 2 clean
    basins = spark.createDataFrame(
        [(1, box(99, 200, 3, 3)), (2, box(500, 300, 2, 4))], schema=BASINS_SCHEMA
    )
    out = tmp_path / "out"
    out.mkdir()
    result = radohydro_run(
        spark, start="2024-01-01", end="2024-01-04", shapefile_path=basins,
        mirror_dir=str(mirror), out_dir=str(out), source="regnie",
    )
    want = _generic(
        spark, str(mirror), decode_regnie, REGNIE_TRANSFORM,
        "2024-01-01", "2024-01-04", "days2", basins,
    )
    assert len(want) == 4
    cell_area = abs(t["xres"] * t["yres"])
    areas = {1: 2.8 * 2.8 * cell_area, 2: 1.8 * 3.8 * cell_area}
    _check_run(result, out, want, areas)


def test_radohydro_run_persists_no_decoded_obs(spark, tmp_path):
    """The member route caches only dimension-sized frames — the
    fragments and the result — and no relation over decoded cells (no
    ``value`` column anywhere in a cached plan)."""
    from radohydro_spark.plans.pipeline import release_persisted

    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    spark.catalog.clearCache()
    release_persisted()
    # unpersisting is asynchronous: blocks an earlier test cached may
    # still be listed after the run, so look only at what the run added
    before = {info.id() for info in storage()}
    _run(spark, _hourly_mirror(tmp_path / "mirror", _write_ascii), tmp_path / "out")
    cached = [info.name() for info in storage() if info.id() not in before]
    assert len(cached) == 2, cached
    assert all("value#" not in plan for plan in cached), cached
    assert sorted(
        next(k for k in ("basin_means", "window_fragments") if k in plan)
        for plan in cached
    ) == ["basin_means", "window_fragments"]
    release_persisted()
