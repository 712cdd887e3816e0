"""Unit tests for the WKB codec and the rect∩polygon clip kernel."""

import math

from radohydro_spark.geometry.clip import polygon_area, rect_clip_polygon_area
from radohydro_spark.geometry.wkb import (
    parse_wkb_polygons,
    wkb_box,
    wkb_multipolygon,
    wkb_polygon,
)


def test_wkb_roundtrip_box():
    blob = wkb_box(0, 0, 10, 5)
    polys = parse_wkb_polygons(blob)
    assert len(polys) == 1
    assert polygon_area(polys[0]) == 50.0


def test_wkb_roundtrip_multipolygon():
    p1 = [[(0, 0), (4, 0), (4, 4), (0, 4)]]
    p2 = [[(10, 10), (12, 10), (12, 12), (10, 12)]]
    polys = parse_wkb_polygons(wkb_multipolygon([p1, p2]))
    assert len(polys) == 2
    assert polygon_area(polys[0]) == 16.0
    assert polygon_area(polys[1]) == 4.0


def test_polygon_with_hole_area():
    outer = [(0, 0), (10, 0), (10, 10), (0, 10)]
    hole = [(2, 2), (4, 2), (4, 4), (2, 4)]
    blob = wkb_polygon([outer, hole])
    assert polygon_area(parse_wkb_polygons(blob)[0]) == 100.0 - 4.0


def test_clip_fully_inside():
    blob = wkb_box(2, 2, 4, 4)
    assert rect_clip_polygon_area(blob, 0, 0, 10, 10) == 4.0


def test_clip_fully_outside():
    blob = wkb_box(20, 20, 30, 30)
    assert rect_clip_polygon_area(blob, 0, 0, 10, 10) == 0.0


def test_clip_partial_overlap():
    # rect [5,15]x[5,15] clipped to [0,10]^2 -> 5x5
    blob = wkb_box(5, 5, 15, 15)
    assert rect_clip_polygon_area(blob, 0, 0, 10, 10) == 25.0


def test_clip_triangle():
    # right triangle (0,0)-(10,0)-(0,10); clip to [0,5]^2:
    # square minus the corner triangle above the hypotenuse x+y=10 → area 25
    tri = wkb_polygon([[(0, 0), (10, 0), (0, 10)]])
    assert math.isclose(rect_clip_polygon_area(tri, 0, 0, 5, 5), 25.0)
    # clip to [0,10]^2 recovers the full triangle
    assert math.isclose(rect_clip_polygon_area(tri, 0, 0, 10, 10), 50.0)
    # clip to [5,10]x[5,10]: only the empty side of the hypotenuse… the
    # triangle's part with x>=5,y>=5 is empty except boundary → 0
    assert math.isclose(rect_clip_polygon_area(tri, 5, 5, 10, 10), 0.0)


def test_clip_concave_polygon():
    # U-shape: 10x10 square with a 4x8 notch cut from the top middle
    u = wkb_polygon(
        [
            [
                (0, 0),
                (10, 0),
                (10, 10),
                (7, 10),
                (7, 2),
                (3, 2),
                (3, 10),
                (0, 10),
            ]
        ]
    )
    full = rect_clip_polygon_area(u, 0, 0, 10, 10)
    assert math.isclose(full, 100 - 4 * 8)
    # clip to the notch region only → 0
    assert math.isclose(rect_clip_polygon_area(u, 3, 2, 7, 10), 0.0)
    # clip to left arm
    assert math.isclose(rect_clip_polygon_area(u, 0, 0, 3, 10), 30.0)


def test_clip_polygon_with_hole():
    outer = [(0, 0), (10, 0), (10, 10), (0, 10)]
    hole = [(4, 4), (6, 4), (6, 6), (4, 6)]
    blob = wkb_polygon([outer, hole])
    # full window: 100 - 4
    assert math.isclose(rect_clip_polygon_area(blob, 0, 0, 10, 10), 96.0)
    # window covering half the hole: 5x10 minus half the hole (2x1... hole
    # x in [4,6]; window x in [0,5] → hole overlap 1x2=2) → 50-2=48
    assert math.isclose(rect_clip_polygon_area(blob, 0, 0, 5, 10), 48.0)


def test_vectorized_kernel_matches_scalar():
    """clip_vec's clamp-shoelace sweep must agree with the scalar
    Sutherland–Hodgman kernel on irregular polygons, holes, and rects that
    are inside / outside / straddling — the UDF hot path runs clip_vec."""
    import random

    import numpy as np

    from radohydro_spark.geometry.clip_vec import rect_clip_areas_grouped

    rng = random.Random(1234)
    for _ in range(60):
        cx, cy = rng.uniform(-5, 5), rng.uniform(-5, 5)
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(rng.randint(3, 11)))
        pts = [
            (cx + rng.uniform(0.5, 4) * math.cos(a), cy + rng.uniform(0.5, 4) * math.sin(a))
            for a in angs
        ]
        rings = [pts + [pts[0]]]
        if rng.random() < 0.3:
            rings.append([(cx - 0.2, cy - 0.2), (cx + 0.2, cy - 0.2), (cx, cy + 0.2), (cx - 0.2, cy - 0.2)])
        blob = wkb_polygon(rings)
        n = 10
        ls = np.array([rng.uniform(-7, 6) for _ in range(n)])
        bs = np.array([rng.uniform(-7, 6) for _ in range(n)])
        rs = ls + np.array([rng.uniform(0.01, 4) for _ in range(n)])
        ts = bs + np.array([rng.uniform(0.01, 4) for _ in range(n)])
        vec = rect_clip_areas_grouped([blob] * n, ls, bs, rs, ts)
        for i in range(n):
            ref = rect_clip_polygon_area(blob, ls[i], bs[i], rs[i], ts[i])
            assert math.isclose(vec[i], ref, rel_tol=1e-9, abs_tol=1e-9)


def test_spatial_intersect_grid_meta_path_equivalence(spark):
    """The grid route (grid_meta, and grid_fragments with no cell table)
    must produce exactly the theta-join's fragments, including
    boundary-aligned basins, on a south-up grid."""
    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import (
        create_cell_grid,
        grid_fragments,
        spatial_intersect,
    )
    from radohydro_spark.schemas import BASINS_SCHEMA
    import pandas as pd

    cells = create_cell_grid(spark, 6, 8, ulx=1000.0, uly=2000.0, xres=100.0, yres=100.0)
    rects = [
        (1, 1150.0, 2150.0, 1250.0, 2250.0),   # interior, fractional
        (2, 1100.0, 2100.0, 1300.0, 2300.0),   # exactly cell-aligned edges
        (3, 900.0, 1900.0, 1050.0, 2050.0),    # extends past the grid edge
        (4, 1700.0, 2500.0, 1800.0, 2600.0),   # exactly on the far corner
    ]
    pdf = pd.DataFrame({
        "basin_id": [r[0] for r in rects],
        "geom": [wkb_box(*r[1:]) for r in rects],
    })
    basins = spark.createDataFrame(pdf, schema=BASINS_SCHEMA)
    key = ["basin_id", "cell_row", "cell_col"]
    theta = spatial_intersect(cells, basins).orderBy(*key).collect()
    equi = spatial_intersect(
        cells, basins, grid_meta=(1000.0, 2000.0, 100.0, 100.0)
    ).orderBy(*key).collect()
    meta = dict(n_rows=6, n_cols=8, ulx=1000.0, uly=2000.0, xres=100.0, yres=100.0)
    direct = grid_fragments(basins, meta).orderBy(*key).collect()
    assert [tuple(r) for r in theta] == [tuple(r) for r in equi]
    assert [tuple(r) for r in theta] == [tuple(r) for r in direct]
    assert len(theta) > 0


def test_spatial_intersect_grid_meta_north_up(spark):
    """Same equivalence with a negative yres (north-up raster, row 0 top)."""
    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import (
        create_cell_grid,
        grid_fragments,
        spatial_intersect,
    )
    from radohydro_spark.schemas import BASINS_SCHEMA
    import pandas as pd

    cells = create_cell_grid(spark, 5, 5, ulx=0.0, uly=500.0, xres=100.0, yres=-100.0)
    pdf = pd.DataFrame({
        "basin_id": [1, 2],
        "geom": [wkb_box(120.0, 130.0, 340.0, 280.0), wkb_box(0.0, 400.0, 100.0, 500.0)],
    })
    basins = spark.createDataFrame(pdf, schema=BASINS_SCHEMA)
    key = ["basin_id", "cell_row", "cell_col"]
    theta = spatial_intersect(cells, basins).orderBy(*key).collect()
    equi = spatial_intersect(cells, basins, grid_meta=(0.0, 500.0, 100.0, -100.0)).orderBy(*key).collect()
    meta = dict(n_rows=5, n_cols=5, ulx=0.0, uly=500.0, xres=100.0, yres=-100.0)
    direct = grid_fragments(basins, meta).orderBy(*key).collect()
    assert [tuple(r) for r in theta] == [tuple(r) for r in equi]
    assert [tuple(r) for r in theta] == [tuple(r) for r in direct]
    assert len(theta) > 0


def test_nearest_neighbor_join_golden(spark):
    from pyspark.sql import functions as F

    from radohydro_spark.operators.spatial import nearest_neighbor_join

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 0.0), (3, 5.0, 0.0)],
        "pid int, cx double, cy double",
    )
    anchors = spark.createDataFrame(
        [(100, 1.0, 0.0), (200, 9.0, 0.0)], "basin_id int, bx double, by double"
    )
    got = {
        r.pid: (r.basin_id, r.dist2)
        for r in nearest_neighbor_join(pts, anchors, ["pid"]).collect()
    }
    assert got[1] == (100, 1.0)
    assert got[2] == (200, 1.0)
    # exact tie at distance 16 both sides -> lowest id wins
    assert got[3] == (100, 16.0)
