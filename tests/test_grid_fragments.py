"""J1 on an affine grid: ``grid_fragments`` and
``spatial_intersect(grid_meta=…)`` must give the theta-join path's
fragments bit for bit — all nine columns, in order — on every grid
orientation and every awkward basin the window arithmetic has to cover."""

from __future__ import annotations

import struct

from radohydro_spark.geometry.wkb import wkb_box, wkb_multipolygon
from radohydro_spark.operators import spatial as sp
from radohydro_spark.operators.spatial import (
    create_cell_grid,
    grid_fragments,
    spatial_intersect,
    window_predicate,
)

ORDER = ["basin_id", "cell_row", "cell_col"]


def _rows(df):
    return [tuple(r) for r in df.orderBy(*ORDER).collect()]


def _grid(spark, n_rows, n_cols, ulx, uly, xres, yres):
    meta = dict(n_rows=n_rows, n_cols=n_cols, ulx=ulx, uly=uly, xres=xres, yres=yres)
    return create_cell_grid(spark, n_rows, n_cols, ulx, uly, xres, yres), meta


def _basins(spark, geoms, id_type="int"):
    return spark.createDataFrame(
        list(enumerate(geoms, start=1)), f"basin_id {id_type}, geom binary"
    )


def _assert_same(cells, basins, meta):
    """Both grid routes equal the theta join; returns the theta rows."""
    gm = (meta["ulx"], meta["uly"], meta["xres"], meta["yres"])
    theta = spatial_intersect(cells, basins)
    want = _rows(theta)
    assert _rows(grid_fragments(basins, meta)) == want
    via_table = spatial_intersect(cells, basins, grid_meta=gm)
    assert via_table.columns == theta.columns
    assert _rows(via_table) == want
    return want


def test_grid_fragments_both_axes_flipped(spark):
    """Row 0 at the bottom-right: both resolutions negative.  The other
    three orientations are pinned in tests/test_geometry.py and
    tests/test_round12_ops.py."""
    cells, meta = _grid(spark, 6, 8, 800.0, 600.0, -100.0, -100.0)
    basins = _basins(
        spark,
        [
            wkb_box(120.0, 130.0, 340.0, 280.0),  # interior, fractional
            wkb_box(100.0, 100.0, 300.0, 300.0),  # every edge on a cell edge
            wkb_box(0.0, 500.0, 100.0, 600.0),  # one corner cell exactly
        ],
    )
    rows = _assert_same(cells, basins, meta)
    assert {r[6] for r in rows} == {1, 2, 3}


def test_grid_fragments_multipolygon_with_hole(spark):
    cells, meta = _grid(spark, 10, 10, 0.0, 1000.0, 100.0, -100.0)
    ring = [(50.0, 50.0), (650.0, 80.0), (700.0, 620.0), (90.0, 700.0)]
    hole = [(250.0, 250.0), (450.0, 250.0), (450.0, 450.0), (250.0, 450.0)]
    island = [(810.0, 810.0), (990.0, 830.0), (900.0, 990.0)]
    basins = _basins(spark, [wkb_multipolygon([[ring, hole], [island]])], "long")
    rows = _assert_same(cells, basins, meta)
    # the cell wholly inside the hole has no fragment
    assert (6, 3) not in {(r[0], r[1]) for r in rows}
    assert rows


def test_grid_fragments_degenerate_edge_aligned_bbox(spark):
    """A zero-width bbox on a cell edge maps to an upper index below the
    lower one; the clamp keeps one column and the zero area drops it."""
    cells, meta = _grid(spark, 4, 4, 0.0, 0.0, 10.0, 10.0)
    basins = _basins(spark, [wkb_box(20.0, 5.0, 20.0, 35.0), wkb_box(12.0, 12.0, 18.0, 18.0)])
    rows = _assert_same(cells, basins, meta)
    assert {r[6] for r in rows} == {2}


def test_grid_fragments_basins_off_the_grid(spark):
    cells, meta = _grid(spark, 5, 5, 0.0, 500.0, 100.0, -100.0)
    basins = _basins(
        spark,
        [
            wkb_box(-150.0, 420.0, 130.0, 650.0),  # hangs over the NW corner
            wkb_box(2000.0, 2000.0, 2100.0, 2100.0),  # wholly outside
            wkb_box(-300.0, -300.0, -100.0, -100.0),  # outside, below the origin
            wkb_box(330.0, -150.0, 620.0, 120.0),  # hangs over the SE corner
        ],
    )
    rows = _assert_same(cells, basins, meta)
    assert {r[6] for r in rows} == {1, 4}


def test_grid_fragments_empty_geometry_has_no_rows(spark):
    cells, meta = _grid(spark, 5, 5, 0.0, 0.0, 10.0, 10.0)
    empty_multipolygon = struct.pack("<BII", 1, 6, 0)
    empty_polygon = struct.pack("<BII", 1, 3, 0)
    basins = _basins(spark, [empty_multipolygon, wkb_box(5.0, 5.0, 25.0, 25.0), empty_polygon])
    rows = _assert_same(cells, basins, meta)
    assert {r[6] for r in rows} == {2}
    assert grid_fragments(basins.filter("basin_id != 2"), meta).count() == 0


def test_grid_fragments_bands_a_large_window(spark, monkeypatch):
    """A window above the band constant is cut into row bands dealt over
    the slot tasks; the bands together give the unbanded fragments, each
    cell once."""
    from pyspark.sql import functions as F

    cells, meta = _grid(spark, 12, 9, 0.0, 1200.0, 100.0, -100.0)
    tri = [(30.0, 40.0), (870.0, 110.0), (410.0, 1170.0)]
    basins = _basins(spark, [wkb_multipolygon([[tri]]), wkb_box(250.0, 250.0, 460.0, 380.0)])
    whole = _rows(grid_fragments(basins, meta))
    monkeypatch.setattr(sp, "_BAND_CELLS", 20)  # 9-column window: 2 rows a band
    assert _assert_same(cells, basins, meta) == whole
    tasks = (
        grid_fragments(basins, meta)
        .filter("basin_id = 1")
        .select(F.spark_partition_id().alias("task"), "cell_row")
        .collect()
    )
    n_slots = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # six bands of two rows, each band in one task, the bands over every task
    band_task = {(r["cell_row"] // 2, r["task"]) for r in tasks}
    assert sorted(b for b, _ in band_task) == list(range(6))
    assert len({t for _, t in band_task}) == min(n_slots, 6)


def test_spatial_intersect_grid_meta_window_filtered_cells(spark):
    """A window-filtered cell table gets exactly its own cells' fragments,
    clamped to the table's index bounds."""
    cells, meta = _grid(spark, 8, 8, 0.0, 800.0, 100.0, -100.0)
    basins = _basins(spark, [wkb_box(50.0, 50.0, 750.0, 750.0), wkb_box(610.0, 20.0, 790.0, 190.0)])
    window = cells.filter(window_predicate((2, 5, 1, 6)))
    gm = (meta["ulx"], meta["uly"], meta["xres"], meta["yres"])
    want = _rows(spatial_intersect(window, basins))
    got = _rows(spatial_intersect(window, basins, grid_meta=gm))
    assert got == want
    assert {(r[0], r[1]) for r in got} <= {(r, c) for r in range(2, 6) for c in range(1, 7)}
    assert {r[6] for r in got} == {1}
    assert spatial_intersect(cells.limit(0), basins, grid_meta=gm).count() == 0
