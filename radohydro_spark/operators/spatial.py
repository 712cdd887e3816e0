"""Spatial operators: cell-grid generation, clip windows, intersection join.

Spark-first re-expressions of the reference's geotools stages:

* ``create_cell_grid``       — port of ``create_footprint_cells``
  (reference geotools/geotools.py:105-152): pure column arithmetic +
  ``sequence``/``explode`` cross grid, no itertools.product materialization.
* ``buffered_clip_window``   — port of ``buffered_raster_clipping``
  (reference geotools/geotools.py:29-99): bbox aggregation of basins plus a
  cell-buffer, returned as integer row/col ranges for predicate pushdown.
* ``spatial_intersect``      — the J1 core operator (reference
  geotools/geotools.py:215-219, ``gp.overlay(..., 'intersection')``, flagged
  "most time consuming timestep" at :214): implemented as a broadcast bbox
  theta-join (basins side is small) followed by an exact rect∩polygon area
  pandas UDF.  No shuffle: at 100 TB the obs table never enters this join —
  only the cell dimension does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pandas as pd

from radohydro_spark.geometry.wkb import parse_wkb_polygons
from radohydro_spark.session import pin


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
    with_bbox consumer).  NULL bounds then drop naturally: bbox join
    predicates are false on NULL, candidate-index sequences are empty,
    and min/max aggregates skip NULLs."""
    out = {"xmin": [], "ymin": [], "xmax": [], "ymax": []}
    for blob in wkb:
        xs: list[float] = []
        ys: list[float] = []
        for rings in parse_wkb_polygons(bytes(blob)):
            if not rings:
                continue
            for x, y in rings[0]:
                xs.append(x)
                ys.append(y)
        if xs:
            out["xmin"].append(min(xs))
            out["ymin"].append(min(ys))
            out["xmax"].append(max(xs))
            out["ymax"].append(max(ys))
        else:
            out["xmin"].append(None)
            out["ymin"].append(None)
            out["xmax"].append(None)
            out["ymax"].append(None)
    return pd.DataFrame(out)


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
    import math

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


# Candidate-tile edge length (in cells) for the grid_meta fast path of
# spatial_intersect: the bbox explode emits one key per TILE x TILE block
# instead of per cell, shrinking the exploded relation ~TILE^2 while the
# exact per-cell bbox predicate after the join reproduces the per-cell
# candidate set bit-for-bit.  8 balances explode savings (64x) against
# join fan-out slack (at most one extra tile ring around each bbox).
_CAND_TILE = 8

# Per-cell candidate keys are used (and broadcast) below this EXACT
# candidate count; above it the explode switches to coarse tiles.  The
# per-cell form is faster in the small regime (no superset inflation, no
# recovery filter — measured 2x at the reference's 20-basin shape); the
# tile form is what survives 100k basins (SOAK.md).  Module-level so
# tests can force the tile regime on small fixtures.
_PER_CELL_BROADCAST_MAX = 2_000_000


def _tile(idx_col):
    """Floor-divide a (possibly negative) integer cell index into its
    candidate-tile index.  F.floor on the double quotient is exact for
    any index that fits a double's 53-bit mantissa (grid indices are
    < 1e6 by construction)."""
    return F.floor(idx_col / _CAND_TILE).cast("int")


def spatial_intersect(
    cells: DataFrame,
    basins: DataFrame,
    grid_meta: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """J1 — spatial overlay intersection join producing fragments.

    Plan shape (scale-critical): ``broadcast(basins)`` bbox theta-join
    against the cell dimension, then the exact-area pandas UDF only on
    surviving candidate pairs, then ``frag_area > 0`` filter.  The obs fact
    table is never involved; at 100 TB this join touches only dimension
    rows.

    ``grid_meta = (ulx, uly, xres, yres)``: when the cell grid is affine
    (create_cell_grid output — the RADOLAN/REGNIE case), pass the
    transform and the bbox theta-join becomes an **equi-join**: each
    basin's bbox maps to a cell-index rectangle, exploded into candidate
    (cell_row, cell_col) keys and broadcast against the cells dimension.
    That replaces the nested-loop's |cells| x |basins| predicate sweep with
    an O(candidates) hash probe — the fix for the reference's >10k-polygon
    cliff (README.md:18): 10k basins x 810k cells = 8.1e9 nested-loop pairs
    vs ~10^6 candidate keys.  Without ``grid_meta`` the generic theta-join
    path handles arbitrary rectilinear cell tables.

    Returns FRAGMENTS_SCHEMA.  The basin side is projected to
    ``(basin_id, geom)`` before the join: passthrough attributes re-join at
    sink time on ``basin_id`` (J3), and shapefile attrs may collide with
    the cell grid's ``left/bottom/right/top`` columns otherwise.
    """
    b = with_bbox(basins.select("basin_id", "geom"))
    if grid_meta is not None:
        # the pricing aggregate below AND the candidate explode both
        # evaluate b — cache it so the WKB-parsing bbox UDF runs once
        # over the basin dimension, not once per consumer (r12 review)
        b = pin(b.cache())
        ulx, uly, xres, yres = (float(v) for v in grid_meta)
        # inclusive index range of cells whose footprint overlaps the bbox:
        # open interval semantics match the theta-join's strict < / >.
        # Negative resolutions flip which bbox corner maps to index 0 —
        # handled for BOTH axes (the xres<0 branch was missing until the
        # r12 review: a west-positive grid silently lost fragments)
        if xres < 0:
            col0 = F.floor((F.col("xmax") - ulx) / xres).cast("int")
            col1 = F.ceil((F.col("xmin") - ulx) / xres).cast("int") - 1
        else:
            col0 = F.floor((F.col("xmin") - ulx) / xres).cast("int")
            col1 = F.ceil((F.col("xmax") - ulx) / xres).cast("int") - 1
        if yres < 0:  # north-up: row 0 at the top
            row0 = F.floor((F.col("ymax") - uly) / yres).cast("int")
            row1 = F.ceil((F.col("ymin") - uly) / yres).cast("int") - 1
        else:
            row0 = F.floor((F.col("ymin") - uly) / yres).cast("int")
            row1 = F.ceil((F.col("ymax") - uly) / yres).cast("int") - 1
        # clamp the upper bound: a degenerate bbox aligned to a cell edge
        # can give col1 < col0 (resp. row1 < row0), and F.sequence would
        # silently descend, fabricating candidate keys
        row1g, col1g = F.greatest(row0, row1), F.greatest(col0, col1)
        tr0, tr1 = _tile(row0), _tile(row1g)
        tc0, tc1 = _tile(col0), _tile(col1g)
        # Every sizing decision below comes from ONE tiny aggregate over
        # the basin DIMENSION (the dimension-sized-action contract) —
        # never from Catalyst's estimate, which undercounts an exploded
        # relation catastrophically (25k basins -> 25M candidate rows
        # estimated as megabytes; a forced broadcast OOMed the driver and
        # a mis-picked ShuffledHashJoin build OOMed an executor — both
        # measured by scripts/soak_basins.py before the r10 fix).  The
        # aggregate prices BOTH explode granularities:
        #   n_cells — per-cell candidate keys (exact candidate count)
        #   n_tiles — 8x8 coarse-tile keys (~64x fewer rows)
        stats = b.select(
            F.count("*").alias("nb"),
            F.sum(
                (row1g - row0 + 1).cast("long") * (col1g - col0 + 1).cast("long")
            ).alias("n_cells"),
            F.sum(
                (tr1 - tr0 + 1).cast("long") * (tc1 - tc0 + 1).cast("long")
            ).alias("n_tiles"),
        ).first()
        n_basins = stats["nb"]
        n_cells_cand = stats["n_cells"] or 0
        n_tiles_cand = stats["n_tiles"] or 0
        if n_cells_cand <= _PER_CELL_BROADCAST_MAX:
            # SMALL regime (the reference's 20-basin shape): per-cell
            # keys broadcast directly — one hash probe per cell, no
            # superset inflation, no post-join filter.  Measured 2x
            # faster than the tile join here (the tile key space is
            # low-cardinality, so every cell probes into multi-match
            # hash buckets and the inflated superset pays a filter).
            cand_keys = (
                b.withColumn(
                    "cell_row", F.explode(F.sequence(row0, row1g))
                )
                .withColumn(
                    "cell_col", F.explode(F.sequence(col0, col1g))
                )
                .select("basin_id", "cell_row", "cell_col")
            )
            probed = cells.join(
                F.broadcast(cand_keys), ["cell_row", "cell_col"], "inner"
            )
        else:
            # SCALE regime — COARSE-TILE explode (r11): candidate keys
            # are TILE x TILE cell blocks, ~64x fewer exploded rows for
            # the same coverage (measured in scripts/soak_basins.py: the
            # 100k-basin exploded relation drops from ~110M three-int
            # rows to ~2M tile rows — 100k basins 506s -> 198s, spill
            # 6.7 GB -> zero).  The exact per-cell index-range test runs
            # AFTER the tile join as a free column predicate — the SAME
            # floor/ceil arithmetic as the per-cell explode, so the
            # candidate set is bit-identical, just produced 64x cheaper.
            # The index bounds (4 ints) ride the tile keys instead of
            # the WKB geometry — keys-only: ~40 B/row vs kilobyte
            # polygons.  Tile-count tiers: broadcast <=1M tile rows
            # (~56 MB), shuffled-hash <=20M (narrow build fits executor
            # memory), sort-merge beyond — the only strategy whose
            # memory bounds by SPILL, not heap; at 64 cells/tile these
            # tiers cover 64x more BASINS than per-cell tiers did.
            cand_keys = (
                b.withColumn("_r0", row0)
                .withColumn("_r1", row1g)
                .withColumn("_c0", col0)
                .withColumn("_c1", col1g)
                .withColumn("_tr", F.explode(F.sequence(tr0, tr1)))
                .withColumn("_tc", F.explode(F.sequence(tc0, tc1)))
                .select("basin_id", "_tr", "_tc", "_r0", "_r1", "_c0", "_c1")
            )
            if n_tiles_cand <= 1_000_000:
                probe = F.broadcast(cand_keys)
            elif n_tiles_cand <= 20_000_000:
                probe = cand_keys.hint("shuffle_hash")
            else:
                probe = cand_keys.hint("merge")
            cells_t = cells.withColumn(
                "_tr", _tile(F.col("cell_row"))
            ).withColumn("_tc", _tile(F.col("cell_col")))
            probed = (
                cells_t.join(probe, ["_tr", "_tc"], "inner")
                # exact per-cell recovery: reduces the tile superset to
                # PRECISELY the per-cell candidate set (no float seam),
                # BEFORE the geometry join and the clip UDF; cheap
                # column predicate inside the join's output stage — no
                # exchange
                .filter(
                    (F.col("cell_row") >= F.col("_r0"))
                    & (F.col("cell_row") <= F.col("_r1"))
                    & (F.col("cell_col") >= F.col("_c0"))
                    & (F.col("cell_col") <= F.col("_c1"))
                )
            )
        # geometry re-joins on basin_id AFTER the candidate fan-out: the
        # WKB must not ride the explode (25k basins x ~1k cells each with
        # ~100B polygons = gigabytes of duplicated bytes vs three ints per
        # row).  Broadcast the geometry dimension while it is genuinely
        # dimension-sized; past that, sort-merge — NEVER an unhinted join
        # here, because the candidate side's mis-estimated stats would
        # make it the hash build side (the measured 100k-basin failure).
        geom_dim = b.select("basin_id", "geom")
        geom_side = (
            F.broadcast(geom_dim)
            if n_basins <= 100_000
            else geom_dim.hint("merge")
        )
        cand = (
            probed.join(geom_side, "basin_id")
            # same column order as the theta path (join keys float left)
            .select(*cells.columns, "basin_id", "geom")
        )
    else:
        cand = cells.join(
            F.broadcast(b),
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

    ``attr`` may be ANY basin column: spatial_intersect strips passthrough
    attributes before its join (deliberately — WKB must not ride the
    candidate explode), so non-key attributes re-join here on ``basin_id``
    from the dimension table (r12 review: referencing a stripped column
    used to crash).  ``grid_meta`` forwards to spatial_intersect so an
    affine-grid burn takes the equi-join candidate path instead of the
    nested-loop bbox sweep (the >10k-polygon cliff)."""
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
    sides on a coarse grid first (the spatial_intersect coarse-tile
    pattern) and feed the per-tile pairs here.

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
