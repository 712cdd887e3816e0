"""Spatial operators: cell-grid generation, clip windows, intersection join.

Spark-first re-expressions of the reference's geotools stages:

* ``create_cell_grid``       — port of ``create_footprint_cells``
  (reference geotools/geotools.py:105-152): pure column arithmetic +
  ``sequence``/``explode`` cross grid, no itertools.product materialization.
* ``buffered_clip_window``   — port of ``buffered_raster_clipping``
  (reference geotools/geotools.py:29-99): bbox aggregation of basins plus a
  cell-buffer, returned as integer row/col ranges for predicate pushdown.
* ``grid_fragments``         — the J1 core operator (reference
  geotools/geotools.py:215-219, ``gp.overlay(..., 'intersection')``, flagged
  "most time consuming timestep" at :214) on an affine grid, with no cell
  table: each basin maps its bbox to its own cell-index window and computes
  the exact rect∩polygon areas of that window in NumPy, the way
  exactextract covers each polygon over its own raster window.  Windows
  above ``_BAND_CELLS`` cells split into row bands dealt over the tasks.
* ``spatial_intersect``      — J1 over a given cell table: the grid route
  restricted to the table when the transform is known, else a broadcast
  bbox theta-join and the exact-area pandas UDF.  Neither route touches
  the obs fact table.
"""

from __future__ import annotations

import math
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import numpy as np
import pandas as pd

from radohydro_spark.geometry.wkb import parse_wkb_polygons


def create_cell_grid(
    spark: SparkSession,
    n_rows: int,
    n_cols: int,
    ulx: float,
    uly: float,
    xres: float,
    yres: float,
) -> DataFrame:
    """Generate the cell-footprint dimension table for a raster grid.

    Mirrors ``create_footprint_cells`` (reference geotools/geotools.py:105-152)
    but as a lazy crossJoin of two ``sequence`` ranges with corner columns
    derived by affine arithmetic (C9/C10 in SURVEY.md §2.8).  ``yres`` is
    negative for north-up rasters (row 0 at the top), matching GDAL
    GeoTransform conventions the reference consumes
    (geotools/geotools.py:50-54).
    """
    # partition by output size: tiny grids in one task (32 near-empty tasks
    # cost more than they save), RADOLAN-sized grids across the row axis so
    # downstream per-cell work (bbox join + area UDF) parallelizes
    n_parts = 1 if n_rows * n_cols < 100_000 else min(n_rows, 32)
    rows = spark.range(0, n_rows, 1, n_parts).select(
        F.col("id").cast("int").alias("cell_row")
    )
    cols = spark.range(0, n_cols, 1, 1).select(F.col("id").cast("int").alias("cell_col"))
    grid = rows.crossJoin(cols)
    x0 = F.lit(float(ulx)) + F.col("cell_col") * F.lit(float(xres))
    x1 = F.lit(float(ulx)) + (F.col("cell_col") + 1) * F.lit(float(xres))
    y0 = F.lit(float(uly)) + F.col("cell_row") * F.lit(float(yres))
    y1 = F.lit(float(uly)) + (F.col("cell_row") + 1) * F.lit(float(yres))
    return grid.select(
        "cell_row",
        "cell_col",
        F.least(x0, x1).alias("left"),
        F.least(y0, y1).alias("bottom"),
        F.greatest(x0, x1).alias("right"),
        F.greatest(y0, y1).alias("top"),
    )


_BBOX_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@F.pandas_udf(_BBOX_SCHEMA)
def geom_bbox(wkb: pd.Series) -> pd.DataFrame:
    """Bounding box of a WKB polygon column (A1 spatial-extent aggregate,
    reference geotools/geotools.py:86 ``total_bounds``).

    An EMPTY geometry (zero polygons, or a polygon with zero rings)
    yields NULL bounds instead of crashing the job (r12 review: one
    MULTIPOLYGON EMPTY row in a 100k-basin shapefile killed every
    with_bbox consumer).  NULL bounds then drop: bbox join predicates
    are false on NULL, the grid route filters them out, and min/max
    aggregates skip NULLs."""
    boxes = [_bounds(parse_wkb_polygons(bytes(blob))) for blob in wkb]
    return pd.DataFrame(
        [box or (None, None, None, None) for box in boxes],
        columns=["xmin", "ymin", "xmax", "ymax"],
    )


def _bounds(polys) -> tuple[float, float, float, float] | None:
    """(xmin, ymin, xmax, ymax) over the exterior rings of parsed
    polygons, or None when there is no exterior vertex."""
    pts = [p for rings in polys if rings for p in rings[0]]
    if not pts:
        return None
    xs, ys = zip(*pts)
    return min(xs), min(ys), max(xs), max(ys)


def with_bbox(basins: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Attach xmin/ymin/xmax/ymax columns derived from the WKB geometry."""
    b = basins.withColumn("_bbox", geom_bbox(F.col(geom_col)))
    return b.select("*", "_bbox.xmin", "_bbox.ymin", "_bbox.xmax", "_bbox.ymax").drop(
        "_bbox"
    )


def basin_bounds(basins: DataFrame) -> tuple[float, float, float, float]:
    """Total bounds over all basin geometries (driver-side scalars; the
    clip window is two scalars collected once, SURVEY.md §4)."""
    row = (
        with_bbox(basins)
        .agg(
            F.min("xmin").alias("xmin"),
            F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"),
            F.max("ymax").alias("ymax"),
        )
        .first()
    )
    return (row["xmin"], row["ymin"], row["xmax"], row["ymax"])


def buffered_clip_window(
    bounds: tuple[float, float, float, float],
    ulx: float,
    uly: float,
    xres: float,
    yres: float,
    n_rows: int,
    n_cols: int,
    buffer_cells: int = 2,
) -> tuple[int, int, int, int]:
    """Integer (row0, row1, col0, col1) inclusive window covering the
    buffered basin bounds.

    Port of ``buffered_raster_clipping`` (reference geotools/geotools.py:85-99)
    with the same 2-cell default slack (``buffrcllsz=2``,
    geotools/geotools.py:33) that keeps edge cells available for the V0.6
    edge-interpolation renormalization (reference radohydro.py:12).  The
    buffer is domain semantics — must not be optimized away (SURVEY.md §4).
    """
    xmin, ymin, xmax, ymax = bounds
    xmin -= buffer_cells * abs(xres)
    xmax += buffer_cells * abs(xres)
    ymin -= buffer_cells * abs(yres)
    ymax += buffer_cells * abs(yres)

    col0 = int(math.floor((xmin - ulx) / xres))
    col1 = int(math.floor((xmax - ulx) / xres))
    if yres < 0:
        row0 = int(math.floor((ymax - uly) / yres))
        row1 = int(math.floor((ymin - uly) / yres))
    else:
        row0 = int(math.floor((ymin - uly) / yres))
        row1 = int(math.floor((ymax - uly) / yres))
    row0 = max(row0, 0)
    col0 = max(col0, 0)
    row1 = min(row1, n_rows - 1)
    col1 = min(col1, n_cols - 1)
    return (row0, row1, col0, col1)


def window_predicate(window: tuple[int, int, int, int]) -> Column:
    """Range predicate for a clip window — pushes into Parquet row-group
    stats (F3, reference geotools/geotools.py:85-94)."""
    row0, row1, col0, col1 = window
    return F.col("cell_row").between(row0, row1) & F.col("cell_col").between(
        col0, col1
    )


@F.pandas_udf(T.DoubleType())
def rect_clip_area_udf(
    left: pd.Series, bottom: pd.Series, right: pd.Series, top: pd.Series, wkb: pd.Series
) -> pd.Series:
    """Exact area of (cell rectangle ∩ basin polygon), Arrow-batched.

    The custom kernel replacing GEOS overlay fragment areas
    (reference geotools/geotools.py:215-219, :262).  Each Arrow batch holds
    many cells of few distinct basins, so the kernel groups by identical
    WKB, parses each polygon once, and sweeps its rectangles in one numpy
    pass (geometry/clip_vec.py) — ~50× over the per-row scalar path
    (geometry/clip.py, kept as the reference implementation).
    """
    from radohydro_spark.geometry.clip_vec import rect_clip_areas_grouped

    return pd.Series(
        rect_clip_areas_grouped(
            wkb, left.to_numpy(), bottom.to_numpy(), right.to_numpy(), top.to_numpy()
        ),
        dtype="float64",
    )


# A basin whose cell window holds more cells than this is cut into row
# bands dealt out over the tasks.  A 24-vertex basin over 700k cells of
# the 900x900 RADOLAN grid took 8-10 s as one task and 1.8-3.0 s in
# bands of 16k cells on 4 cores, no slower than 64k-cell bands and
# faster than 256k (scripts/soak_basins.py large, SOAK.md); the finer
# bands also give more cores a share.
_BAND_CELLS = 1 << 14

_FRAG_FIELDS = ("cell_row", "cell_col", "left", "bottom", "right", "top")


def _index_range(lo: float, hi: float, origin: float, res: float) -> tuple[int, int]:
    """Inclusive index range of the cells along one axis whose footprint
    overlaps the open interval (lo, hi).  A negative resolution flips
    which end maps to index 0; the upper bound is clamped to the lower,
    because a degenerate bbox on a cell edge gives i1 < i0."""
    if res < 0:
        lo, hi = hi, lo
    i0 = math.floor((lo - origin) / res)
    return i0, max(i0, math.ceil((hi - origin) / res) - 1)


def _window_fragments(
    basins: DataFrame, grid_meta: tuple[float, float, float, float]
) -> DataFrame:
    """Fragments of every ``basins(basin_id, geom, _row_lo, _row_hi,
    _col_lo, _col_hi)`` row over its own cell window, clamped to those
    index bounds.  An EMPTY geometry and a window off the grid have no
    rows.

    One Python stage of ``spark.sql.shuffle.partitions`` slot tasks, each
    fed every basin by a broadcast nested-loop join, so no exchange
    decides where a basin's work runs.  Every slot parses every basin and
    maps its bbox to the window; the window's row bands are dealt round
    the slots from one picked by the WKB's crc32, so each band is
    computed exactly once, a large basin's bands run on every slot and
    one-band basins spread over them.  The extra parses are linear in
    vertices, the areas in vertices x cells."""
    spark = basins.sparkSession
    ulx, uly, xres, yres = (float(v) for v in grid_meta)
    n_slots = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = spark.range(0, n_slots, 1, n_slots).select(F.col("id").cast("int").alias("_slot"))
    rows_in = slots.crossJoin(F.broadcast(basins)).select(
        "_slot", "basin_id", "geom", "_row_lo", "_row_hi", "_col_lo", "_col_hi"
    )

    def window_fragments(it):
        from radohydro_spark.geometry.clip_vec import polygon_rect_areas

        parts, pending = [], 0
        for pdf in it:
            for slot, bid, blob, row_lo, row_hi, col_lo, col_hi in pdf.itertuples(index=False):
                blob = bytes(blob)
                polys = parse_wkb_polygons(blob)
                box = _bounds(polys)
                if box is None:
                    continue
                xmin, ymin, xmax, ymax = box
                c0, c1 = _index_range(xmin, xmax, ulx, xres)
                r0, r1 = _index_range(ymin, ymax, uly, yres)
                r0, r1 = max(r0, row_lo), min(r1, row_hi)
                c0, c1 = max(c0, col_lo), min(c1, col_hi)
                if r0 > r1 or c0 > c1:
                    continue
                band = max(1, _BAND_CELLS // (c1 - c0 + 1))  # rows per band
                # band j belongs to the slot with j ≡ slot + crc32 (mod
                # n_slots): one owner per band, and a one-band basin's
                # owner varies with its WKB
                first = (slot + zlib.crc32(blob)) % n_slots
                for b0 in range(r0 + first * band, r1 + 1, n_slots * band):
                    b1 = min(b0 + band - 1, r1)
                    rows = np.repeat(np.arange(b0, b1 + 1, dtype=np.int32), c1 - c0 + 1)
                    cols = np.tile(np.arange(c0, c1 + 1, dtype=np.int32), b1 - b0 + 1)
                    # create_cell_grid's corner arithmetic, operation for operation
                    x0, x1 = ulx + cols * xres, ulx + (cols + 1) * xres
                    y0, y1 = uly + rows * yres, uly + (rows + 1) * yres
                    left, right = np.minimum(x0, x1), np.maximum(x0, x1)
                    bottom, top = np.minimum(y0, y1), np.maximum(y0, y1)
                    area = polygon_rect_areas(polys, left, bottom, right, top)
                    frag = pd.DataFrame(
                        dict(zip(_FRAG_FIELDS, (rows, cols, left, bottom, right, top)))
                    )
                    frag["basin_id"] = bid
                    frag["frag_area"] = area
                    frag["cell_area"] = (right - left) * (top - bottom)
                    parts.append(frag[area > 0])
                    pending += len(area)
                    # one Arrow batch per ~band of cells, not per task
                    if pending >= _BAND_CELLS:
                        yield pd.concat(parts, ignore_index=True)
                        parts, pending = [], 0
        if parts:
            yield pd.concat(parts, ignore_index=True)

    schema = T.StructType(
        [T.StructField(c, T.IntegerType()) for c in _FRAG_FIELDS[:2]]
        + [T.StructField(c, T.DoubleType()) for c in _FRAG_FIELDS[2:]]
        + [
            T.StructField("basin_id", basins.schema["basin_id"].dataType),
            T.StructField("frag_area", T.DoubleType()),
            T.StructField("cell_area", T.DoubleType()),
        ]
    )
    return rows_in.mapInPandas(window_fragments, schema)


def grid_fragments(basins: DataFrame, meta: dict) -> DataFrame:
    """J1 on an affine grid: the fragments of ``basins(basin_id, geom)``
    over the grid ``meta`` (``n_rows``, ``n_cols``, ``ulx``, ``uly``,
    ``xres``, ``yres``), with no cell table.

    Each basin's bbox maps to the inclusive index window of the cells its
    footprint overlaps, clamped to the grid; the window's cell bounds
    follow ``create_cell_grid``'s arithmetic, and one
    ``clip_vec.polygon_rect_areas`` call gives their exact areas — each
    polygon over its own raster window, as in exactextract.  A window of
    more than ``_BAND_CELLS`` cells is cut into row bands dealt over the
    tasks (see :func:`_window_fragments`).  Returns the
    nine columns of :func:`spatial_intersect`, in its order, for
    ``frag_area > 0``; an EMPTY geometry has no rows.
    """
    bounded = basins.select(
        "basin_id",
        "geom",
        F.lit(0).alias("_row_lo"),
        F.lit(int(meta["n_rows"]) - 1).alias("_row_hi"),
        F.lit(0).alias("_col_lo"),
        F.lit(int(meta["n_cols"]) - 1).alias("_col_hi"),
    )
    return _window_fragments(bounded, (meta["ulx"], meta["uly"], meta["xres"], meta["yres"]))


def spatial_intersect(
    cells: DataFrame,
    basins: DataFrame,
    grid_meta: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """J1 — spatial overlay intersection join producing fragments.

    ``grid_meta = (ulx, uly, xres, yres)`` says that ``cells`` are rows of
    the ``create_cell_grid`` table with that transform (the RADOLAN/REGNIE
    case): the fragments come from :func:`grid_fragments` clamped to the
    table's index bounds, then a left-semi join on ``(cell_row,
    cell_col)`` keeps exactly the table's own cells, so a window-filtered
    table gets its own fragments.  Without ``grid_meta``, arbitrary
    rectilinear cell tables take a ``broadcast(basins)`` bbox theta-join
    and the exact-area pandas UDF on the surviving candidate pairs.
    Neither route touches the obs fact table.

    The theta route returns ``cells``' columns, then ``basin_id``,
    ``frag_area`` and ``cell_area``, for ``frag_area > 0``.  The grid
    route returns :func:`grid_fragments`' nine columns: the six
    ``create_cell_grid`` columns with bounds computed from ``grid_meta``,
    then the same three; ``cells`` contributes only which ``(cell_row,
    cell_col)`` pairs are kept, so any other column of it is not carried.
    On a ``create_cell_grid`` table both routes give the same rows.

    The basin side is projected to ``(basin_id, geom)`` first:
    passthrough attributes re-join at sink time on ``basin_id`` (J3), and
    shapefile attrs may collide with the cell grid's
    ``left/bottom/right/top`` columns otherwise.
    """
    b = basins.select("basin_id", "geom")
    if grid_meta is not None:
        keys = ["cell_row", "cell_col"]
        bounds = cells.agg(
            F.min("cell_row").alias("_row_lo"),
            F.max("cell_row").alias("_row_hi"),
            F.min("cell_col").alias("_col_lo"),
            F.max("cell_col").alias("_col_hi"),
        )
        frags = _window_fragments(b.crossJoin(F.broadcast(bounds)), grid_meta)
        return frags.join(cells.select(*keys), keys, "left_semi")
    cand = cells.join(
        F.broadcast(with_bbox(b)),
        (F.col("left") < F.col("xmax"))
        & (F.col("right") > F.col("xmin"))
        & (F.col("bottom") < F.col("ymax"))
        & (F.col("top") > F.col("ymin")),
        "inner",
    )
    cand = cand.withColumn(
        "frag_area",
        rect_clip_area_udf(
            F.col("left"), F.col("bottom"), F.col("right"), F.col("top"), F.col("geom")
        ),
    ).withColumn(
        "cell_area",
        (F.col("right") - F.col("left")) * (F.col("top") - F.col("bottom")),
    )
    return cand.filter(F.col("frag_area") > 0).drop(
        "geom", "xmin", "ymin", "xmax", "ymax"
    )


def rasterize(
    cells: DataFrame,
    basins: DataFrame,
    attr: str,
    fill=None,
    grid_meta: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """C13 — reverse of J1: burn a polygon attribute onto the pixel grid
    (reference geotools/geotools.py:337-367 ``rasterizegeo``).

    A cell takes the attribute of a polygon whose area share of the cell is
    largest (ties broken by basin_id; the reference's GDAL rasterize uses
    cell-center containment — largest-overlap is the long-format analog that
    also matches it for cells fully inside one polygon).  ``fill`` replaces
    the reference's -9999 sentinel (geotools/geotools.py:367) — default NULL.

    ``attr`` may be ANY basin column: spatial_intersect keeps only
    ``basin_id`` and ``geom`` of the basins, so non-key attributes re-join
    here on ``basin_id`` from the dimension table (r12 review: referencing
    a stripped column used to crash).  ``grid_meta`` forwards to
    spatial_intersect so an affine-grid burn computes each basin's
    fragments over its own cell window instead of the nested-loop bbox
    sweep (the >10k-polygon cliff)."""
    from pyspark.sql import Window as W

    frags = spatial_intersect(cells, basins, grid_meta=grid_meta)
    if attr not in frags.columns:
        frags = frags.join(
            F.broadcast(basins.select("basin_id", attr)), "basin_id"
        )
    w = W.partitionBy("cell_row", "cell_col").orderBy(
        F.desc("frag_area"), F.asc("basin_id")
    )
    best = (
        frags.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cell_row", "cell_col", F.col(attr).alias("burn"))
    )
    out = cells.join(best, ["cell_row", "cell_col"], "left")
    if fill is not None:
        out = out.withColumn("burn", F.coalesce(F.col("burn"), F.lit(fill)))
    return out


def nearest_neighbor_join(
    left: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    left_xy: tuple[str, str] = ("cx", "cy"),
    right_xy: tuple[str, str] = ("bx", "by"),
    right_id: str = "basin_id",
) -> DataFrame:
    """1-NN point join: every left point gets its nearest right point by
    squared Euclidean distance (lowest ``right_id`` breaks exact ties).

    The right side is broadcast — correct for dimension-sized candidate
    sets (basin seats, station networks, centroid tables); argmin is a
    map-side-combinable ``min_by`` aggregate, so the only shuffle carries
    one pre-reduced row per left key.  For corpus-scale right sides use
    the LSH/IVF bucketing in operators/similarity.py instead of this
    broadcast form.

    Returns ``left_keys + (right_id, dist2)``.
    """
    lx, ly = left_xy
    rx, ry = right_xy
    r = right.select(
        F.col(right_id).alias("_nn_id"),
        F.col(rx).alias("_nn_x"),
        F.col(ry).alias("_nn_y"),
    )
    # crossJoin+groupBy would silently drop EVERY left row if the right
    # side were empty; the right side is dimension-sized (broadcast) by
    # contract, so an emptiness probe costs one tiny job — fail loudly.
    if r.isEmpty():
        raise ValueError("nearest_neighbor_join: right side has no rows")
    # explicit products, not pow(x, 2): bit-identical to the SQL twin
    dx = F.col(lx) - F.col("_nn_x")
    dy = F.col(ly) - F.col("_nn_y")
    d2 = dx * dx + dy * dy
    scored = left.crossJoin(F.broadcast(r)).withColumn("_nn_d2", d2)
    return (
        scored.groupBy(*left_keys)
        .agg(
            F.min_by(
                F.struct(F.col("_nn_id"), F.col("_nn_d2")),
                F.struct(F.col("_nn_d2"), F.col("_nn_id")),
            ).alias("_nn")
        )
        .select(*left_keys, F.col("_nn._nn_id").alias(right_id), F.col("_nn._nn_d2").alias("dist2"))
    )


def polygon_overlay(
    a: DataFrame,
    b: DataFrame,
    a_id: str = "a_id",
    b_id: str = "b_id",
    a_geom: str = "geom",
    b_geom: str = "geom",
) -> DataFrame:
    """General polygon × polygon overlay-intersection AREA join — the
    arbitrary-geometry form of the reference's
    ``gp.overlay(a, b, how='intersection')`` + fragment areas
    (geotools/geotools.py:215-219, :262), with NO convexity or
    axis-alignment assumption on either side (the specialized J1
    :func:`spatial_intersect` remains the fast path for the reference's
    own rect-cell grids; this closes the documented general-overlay gap
    for polygon layers that aren't grids).

    Kernel: signed fan decomposition + convex clipping
    (geometry/overlay.py) — exact for simple polygons with holes and
    multipolygons, property-tested against the rect kernel (1000 random
    star polygons, both argument orders), Monte Carlo, and closed-form
    concave/hole fixtures.

    Plan shape: ``broadcast(b)`` bbox theta-join prunes candidate pairs
    (b is the dimension side — pass the smaller layer), then the
    O(|P|·|Q|)-per-pair Arrow kernel runs ONLY on bbox survivors, then
    ``frag_area > 0``.  Measured kernel throughput (single thread):
    ~28k pairs/s at 8 vertices/side, ~9.7k at 16, ~880 at 64 — the
    quadratic per-pair cost is why the bbox prefilter and, for grid
    layers, the specialized rect path exist.  Both layers are dimension
    tables in the reference workload (fact tables never carry
    geometry); for two genuinely fact-sized polygon layers, tile both
    sides on a coarse grid first and feed the per-tile pairs here.

    Returns (a_id, b_id, frag_area).
    """
    from radohydro_spark.geometry.overlay import polygon_pair_area
    from radohydro_spark.geometry.wkb import parse_wkb_polygons

    aa = with_bbox(
        a.select(F.col(a_id).alias("_aid"), F.col(a_geom).alias("_ag")), "_ag"
    ).withColumnsRenamed(
        {"xmin": "_axmin", "ymin": "_aymin", "xmax": "_axmax", "ymax": "_aymax"}
    )
    bb = with_bbox(
        b.select(F.col(b_id).alias("_bid"), F.col(b_geom).alias("_bg")), "_bg"
    )
    cand = aa.join(
        F.broadcast(bb),
        (F.col("_axmin") < F.col("xmax"))
        & (F.col("_axmax") > F.col("xmin"))
        & (F.col("_aymin") < F.col("ymax"))
        & (F.col("_aymax") > F.col("ymin")),
    )

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            # memoize parses per batch: the broadcast b-side repeats
            # across many a-rows (and vice versa) — the rect path's
            # parse-once-per-distinct-WKB lesson (clip_vec, ~50x there)
            cache: dict[bytes, list] = {}

            def parsed(blob):
                key = bytes(blob)
                got = cache.get(key)
                if got is None:
                    got = parse_wkb_polygons(key)
                    cache[key] = got
                return got

            areas = [
                sum(
                    polygon_pair_area(p, q)
                    for p in parsed(ga)
                    for q in parsed(gb)
                )
                for ga, gb in zip(pdf["_ag"], pdf["_bg"])
            ]
            yield pd.DataFrame(
                {"a_id": pdf["_aid"], "b_id": pdf["_bid"], "frag_area": areas}
            )

    # output id types follow the INPUT id columns (r12 review: a
    # hardcoded 'long' broke string-keyed layers, which shapefiles
    # commonly carry)
    a_t = a.schema[a_id].dataType.simpleString()
    b_t = b.schema[b_id].dataType.simpleString()
    out = cand.select("_aid", "_ag", "_bid", "_bg").mapInPandas(
        gen, schema=f"a_id {a_t}, b_id {b_t}, frag_area double"
    )
    return out.filter(F.col("frag_area") > 0)
