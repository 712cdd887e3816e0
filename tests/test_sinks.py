"""Sink tests (K1-K4): per-basin CSV headers, wide GeoParquet pivot,
cell-grid export, and ASCII-raster round-trip through our own decoder."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from radohydro_spark.operators.spatial import rasterize
from radohydro_spark.plans.pipeline import precip_timeseries
from radohydro_spark.sinks import (
    write_ascii_grid,
    write_basin_csvs,
    write_cellgrid_geoparquet,
    write_wide_geoparquet,
)
from radohydro_spark.sources.ascii_grid import decode_ascii_grids
from radohydro_spark.sources.manifest import local_manifest
from radohydro_spark.sources.synthetic import (
    GRID,
    synthetic_basins,
    synthetic_cells,
    synthetic_obs,
)


def _result(spark):
    return precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )


def test_basin_csv_sink(spark, tmp_path):
    out = str(tmp_path / "csvs")
    os.makedirs(out)
    files = write_basin_csvs(_result(spark), synthetic_basins(spark), out)
    assert len(files) == 4
    body = open(files[0]).read().splitlines()
    assert body[0].startswith("basinID,")
    assert body[1].startswith("area[m2],")
    assert body[2] == "Time[yymmddhhmm],rainfall[mm]"
    data = body[3:]
    assert len(data) == 24  # one row per timestep
    times = [ln.split(",")[0] for ln in data]
    assert times == sorted(times)
    # basin 2 (clean) hour-1 value matches the pipeline result
    res = {
        (r.basin_id, r.ts.strftime("%y%m%d%H%M")): r.rainfall_mm
        for r in _result(spark).collect()
    }
    f2 = next(f for f in files if f.endswith("_2.csv"))
    for ln in open(f2).read().splitlines()[3:]:
        t, v = ln.split(",")
        expect = res[(2, t)]
        if v == '""' or v == "":
            assert expect is None
        else:
            assert abs(float(v) - expect) < 1e-9


def test_wide_geoparquet_sink(spark, tmp_path):
    out = str(tmp_path / "wide")
    write_wide_geoparquet(_result(spark), synthetic_basins(spark), out)
    wide = spark.read.parquet(out)
    ts_cols = [c for c in wide.columns if c.isdigit()]
    assert len(ts_cols) == 24  # one col per timestep, %y%m%d%H%M names
    assert wide.count() == 4
    assert "geom" in wide.columns


def test_cellgrid_geoparquet_sink(spark, tmp_path):
    out = str(tmp_path / "cells")
    write_cellgrid_geoparquet(synthetic_cells(spark), out)
    back = spark.read.parquet(out)
    assert back.count() == synthetic_cells(spark).count()
    row = back.filter((F.col("cell_row") == 0) & (F.col("cell_col") == 0)).first()
    assert isinstance(row.geom, (bytes, bytearray)) and len(row.geom) == 93


def test_ascii_grid_roundtrip(spark, tmp_path):
    burned = rasterize(synthetic_cells(spark), synthetic_basins(spark), "basin_id")
    path = str(tmp_path / "rw-20240101-0050.asc")
    write_ascii_grid(
        burned, path, xllcorner=GRID.x0, yllcorner=GRID.y0, cellsize=GRID.cell
    )
    manifest = local_manifest(spark, str(tmp_path))
    obs = decode_ascii_grids(manifest, date_type="minutes")
    decoded = {
        (r.cell_row, r.cell_col): r.value
        for r in obs.collect()
    }
    orig = {(r.cell_row, r.cell_col): r.burn for r in burned.collect()}
    assert len(decoded) == GRID.n_rows * GRID.n_cols
    for k, v in orig.items():
        if v is None:
            assert decoded[k] is None
        else:
            assert decoded[k] == float(v)


def test_cells_wide_parity(spark):
    from radohydro_spark.operators.aggregate import cells_wide
    from radohydro_spark.sources.synthetic import synthetic_obs

    wide = cells_wide(synthetic_obs(spark), synthetic_cells(spark))
    data_cols = [c for c in wide.columns if c.isdigit()]
    assert len(data_cols) == 24
    assert wide.count() == synthetic_cells(spark).count()
    row = wide.filter((F.col("cell_row") == 1) & (F.col("cell_col") == 2)).first()
    # value = (r*31 + c*17 + h*13) % 120 / 10 at (1, 2, h=0) -> 65/10
    assert row["2401010000"] == 6.5


def test_ascii_grid_empty_row_fill(spark, tmp_path):
    # raster rows with no cells at all (1 and 3) must still render as
    # nodata lines, a NULL value as nodata; the input spans 2 partitions
    df = spark.createDataFrame(
        [(0, 0, 1.5), (0, 2, 2.5), (2, 1, 3.5), (2, 2, None), (4, 0, 0.25)],
        "cell_row int, cell_col int, burn double",
    ).repartition(2)
    path = str(tmp_path / "gap.asc")
    write_ascii_grid(df, path, xllcorner=0.0, yllcorner=0.0, cellsize=1.0)
    assert open(path).read() == (
        "ncols 3\nnrows 5\nxllcorner 0.0\nyllcorner 0.0\ncellsize 1.0\n"
        "NODATA_value -9999.0\n"
        "1.5 -9999 2.5\n"
        "-9999 -9999 -9999\n"
        "-9999 3.5 -9999\n"
        "-9999 -9999 -9999\n"
        "0.25 -9999 -9999\n"
    )
    assert os.listdir(tmp_path) == ["gap.asc"]


# K1 bytes as the partitioned-write sink (before the streamed one) wrote them
_CSV_HEAD = "Time[yymmddhhmm],rainfall[mm]\n"


def test_basin_csv_bytes(spark, tmp_path):
    """NULL -> empty field, E-notation at >= 1e7, rounding to 0.0 and up
    to 100000.0, time order restored from 3 partitions fed newest first,
    a result basin missing from ``basins`` (area nan), a basin without
    rows (no file), and an ``out_dir`` that does not exist yet."""
    vals = [None, 12345678.9, 0.0004, 1e7, 0.0005, 1.23456,
            2.5, 100.0, 0.1, 1e-4, 99999.9996, 3.0]  # fmt: skip
    arr = F.array(*[F.lit(v).cast("double") for v in vals])
    hour = F.make_interval(hours=F.col("id").cast("int"))
    res = spark.range(12, numPartitions=3).select(
        (1 + F.col("id") % 2).cast("int").alias("basin_id"),
        (F.lit(dt.datetime(2024, 1, 1, 11, 0)) - hour).alias("ts"),
        F.element_at(arr, (F.col("id") + 1).cast("int")).alias("rainfall_mm"),
    ).unionByName(
        spark.createDataFrame(
            [(4, dt.datetime(2024, 1, 1), 1.0)], "basin_id int, ts timestamp, rainfall_mm double"
        )
    )
    basins = spark.createDataFrame(
        [(1, 1.5e6), (2, 2500.25), (3, 7.0)], "basin_id int, area double"
    )
    out = tmp_path / "not" / "yet"
    files = write_basin_csvs(res, basins, str(out))
    assert files == [str(out / f"basin_{i}.csv") for i in (1, 2, 4)]
    assert sorted(os.listdir(out)) == ["basin_1.csv", "basin_2.csv", "basin_4.csv"]
    assert open(files[0]).read() == (
        "basinID,1\narea[m2],1500000.0\n" + _CSV_HEAD + "2401010100,100000.0\n"
        "2401010300,0.1\n2401010500,2.5\n2401010700,0.001\n2401010900,0.0\n"
        "2401011100,\n"
    )
    assert open(files[1]).read() == (
        "basinID,2\narea[m2],2500.25\n" + _CSV_HEAD + "2401010000,3.0\n"
        "2401010200,0.0\n2401010400,100.0\n2401010600,1.235\n"
        "2401010800,1.0E7\n2401011000,1.23456789E7\n"
    )
    assert open(files[2]).read() == (
        "basinID,4\narea[m2],nan\n" + _CSV_HEAD + "2401010000,1.0\n"
    )


@pytest.mark.parametrize(
    "n, first, last, last_area, last_value",
    [
        (9, "1", "9", "4.5", "1.125"),
        (10, "01", "10", "5.0", "1.25"),
        (99, "01", "99", "49.5", "12.375"),
        (100, "001", "100", "50.0", "12.5"),
    ],
)
def test_basin_csv_pad_width(spark, tmp_path, n, first, last, last_area, last_value):
    ids = spark.range(1, n + 1).select(F.col("id").cast("int").alias("basin_id"))
    basins = ids.select("basin_id", (F.col("basin_id") * 0.5).alias("area"))
    res = ids.select(
        "basin_id",
        F.lit(dt.datetime(2024, 3, 9, 23, 50)).alias("ts"),
        (F.col("basin_id") / 8).alias("rainfall_mm"),
    )
    files = write_basin_csvs(res, basins, str(tmp_path))
    names = [os.path.basename(f) for f in files]
    assert names == [f"basin_{i:0{len(first)}d}.csv" for i in range(1, n + 1)]
    assert (names[0], names[-1]) == (f"basin_{first}.csv", f"basin_{last}.csv")
    assert open(files[0]).read() == (
        f"basinID,{first}\narea[m2],0.5\n" + _CSV_HEAD + "2403092350,0.125\n"
    )
    assert open(files[-1]).read() == (
        f"basinID,{last}\narea[m2],{last_area}\n" + _CSV_HEAD + f"2403092350,{last_value}\n"
    )


def test_basin_csv_empty_result(spark, tmp_path):
    empty = spark.createDataFrame([], "basin_id int, ts timestamp, rainfall_mm double")
    basins = spark.createDataFrame([(1, 1.0)], "basin_id int, area double")
    out = tmp_path / "out"
    assert write_basin_csvs(empty, basins, str(out)) == []
    assert out.is_dir() and os.listdir(out) == []


def test_geotiff_sink_matches_dense_encoder(spark, tmp_path):
    import numpy as np

    from radohydro_spark.sinks import write_geotiff
    from radohydro_spark.sources.geotiff import encode_geotiff, parse_geotiff

    # 11 rows x 4 cols, rows_per_strip=3 -> 4 strips; strip 2 (rows 6-8)
    # entirely empty; scattered values elsewhere
    cells = [(0, 0, 1.0), (1, 3, 2.0), (4, 2, 7.0), (5, 1, -3.0), (9, 0, 4.5), (10, 3, 8.25)]
    df = spark.createDataFrame(cells, "cell_row int, cell_col int, burn double")
    path = str(tmp_path / "dist.tif")
    write_geotiff(df, path, ulx=10.0, uly=20.0, xres=1.0, yres=-1.0, rows_per_strip=3)

    dense = np.full((11, 4), -9999.0, dtype=np.float32)
    for r, c, v in cells:
        dense[r, c] = v
    expected = encode_geotiff(dense, 10.0, 20.0, 1.0, -1.0, nodata=-9999.0, rows_per_strip=3)
    got = open(path, "rb").read()
    assert got == expected  # byte-identical to the driver-side dense encoder

    meta, arr = parse_geotiff(got)
    masked = dense.astype(np.float64)
    masked[masked == -9999.0] = np.nan  # the decoder maps nodata -> NaN
    np.testing.assert_array_equal(arr, masked)
