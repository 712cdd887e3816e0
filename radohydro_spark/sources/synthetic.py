"""Deterministic synthetic grid / basins / observations.

Single source of truth for the correctness harness: the *same* closed-form
integer arithmetic is evaluated by Spark here and by DuckDB in the oracle
SQL (__spark_entry__.py), so the full precipitation pipeline is verifiable
end-to-end without any shared files.  Basin geometries are axis-aligned
rectangles — so the oracle can compute exact intersection areas in pure SQL
while the Spark path exercises the real WKB + Sutherland–Hodgman kernel.

Shapes follow FIXTURES.md: grid per reference RADOLAN conventions (1 km
cells), values in 0.1 mm units with NULL nodata patches, basins covering
the fixture taxonomy (inside-one-cell / fractional straddle / multi-cell /
past-grid-edge, FIXTURES.md §1.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radohydro_spark.geometry.wkb import wkb_box
from radohydro_spark.operators.spatial import create_cell_grid
from radohydro_spark.schemas import BASINS_SCHEMA


@dataclass(frozen=True)
class GridSpec:
    n_rows: int = 6
    n_cols: int = 8
    x0: float = 400000.0  # grid origin (lower-left), UTM-like metres
    y0: float = 5600000.0
    cell: float = 1000.0  # RADOLAN-sized 1 km cells
    n_ts: int = 24  # hourly steps
    t0: str = "2024-01-01 00:00:00"


GRID = GridSpec()

# Rectangular basins (basin_id, left, bottom, right, top) — offsets from
# (x0, y0).  Taxonomy per FIXTURES.md §1.3: b1 inside one (dirty) cell,
# b2 straddles two cells 40/60, b3 spans a 3x3 block fractionally,
# b4 extends past the grid edge (exercises renormalization).
BASIN_RECTS: list[tuple[int, float, float, float, float]] = [
    (1, 200.0, 300.0, 700.0, 700.0),
    (2, 1600.0, 1200.0, 2600.0, 2000.0),
    (3, 3250.0, 1500.0, 6250.0, 4500.0),
    (4, 6500.0, 4500.0, 9500.0, 7500.0),
]

# value = (r*31 + c*17 + h*13) % 120   [0.1 mm units]
# NULL iff (r*13 + c*7) % 5 == 0 AND (h + r + c) % 8 == 0
# (≈20% of cells are "dirty" — NULL at some timestep)
VALUE_EXPR = "CAST((cell_row*31 + cell_col*17 + h*13) % 120 AS DOUBLE)"
NULL_COND = "((cell_row*13 + cell_col*7) % 5 = 0) AND ((h + cell_row + cell_col) % 8 = 0)"


def synthetic_cells(spark: SparkSession, g: GridSpec = GRID) -> DataFrame:
    """Cell grid with row 0 at the bottom (yres > 0)."""
    return create_cell_grid(
        spark, g.n_rows, g.n_cols, ulx=g.x0, uly=g.y0, xres=g.cell, yres=g.cell
    )


def synthetic_obs(spark: SparkSession, g: GridSpec = GRID) -> DataFrame:
    # generator parallelism follows the session (r16 optimization): the
    # old single-partition range serialized every downstream consumer's
    # first stage on one core (obs_zorder_archive measured 2.02 s with
    # the 1-way generator vs 1.04 s at 32-way; the 200x200x24 grid is
    # ~1M rows of codegen arithmetic).  Row content is unchanged — only
    # the split of the id range across tasks.
    # ROW-GATED (r17, VERDICT r16 #6): cap at one generator task per
    # ~64k emitted obs rows (cells x timesteps) so a small grid does not
    # fan into per-task overhead (the 0.72x precip_basin_timeseries
    # regression at sf0.1/32 cores — interleaved A/B on the 1,152-row
    # bench grid: 32-way 1.37 s vs gated 1.26 s vs 1-way 1.16 s, all
    # inside one spread band; the 20M-row soak reads 1-way 16.8-22.2 s
    # vs gated 6.8-8.6 s).  Row-based, not core-based — at scale it
    # saturates to the session's shuffle partition count (get_spark
    # matches it to the core count; read from the conf, not the
    # SparkContext, so the source also runs on Spark Connect).
    n_rows_out = g.n_rows * g.n_cols * g.n_ts
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    par = max(1, min(cap, -(-n_rows_out // 65536)))
    cells = spark.range(0, g.n_rows * g.n_cols, 1, par).select(
        (F.col("id") % g.n_rows).cast("int").alias("cell_row"),
        (F.col("id") / g.n_rows).cast("int").alias("cell_col"),
    )
    hours = spark.range(0, g.n_ts, 1, 1).select(F.col("id").cast("int").alias("h"))
    obs = cells.crossJoin(hours)
    return obs.select(
        (
            F.to_timestamp(F.lit(g.t0)) + F.make_interval(hours=F.col("h"))
        ).alias("ts"),
        "cell_row",
        "cell_col",
        F.when(F.expr(NULL_COND), F.lit(None).cast("double"))
        .otherwise(F.expr(VALUE_EXPR))
        .alias("value"),
    )


def synthetic_basins(spark: SparkSession, g: GridSpec = GRID) -> DataFrame:
    import pandas as pd

    # pandas + Arrow path: single partition, no Python-RDD slices (a
    # parallelize(32 slices) + coalesce(1) costs a Python-worker roundtrip
    # per slice — ~4s of pure overhead for 4 rows)
    pdf = pd.DataFrame(
        {
            "basin_id": [bid for bid, *_ in BASIN_RECTS],
            "geom": [
                wkb_box(g.x0 + l, g.y0 + b, g.x0 + r, g.y0 + t)
                for _, l, b, r, t in BASIN_RECTS
            ],
        }
    )
    return spark.createDataFrame(pdf, schema=BASINS_SCHEMA)


def oracle_base_ctes(
    g: GridSpec = GRID,
    remove_nan: bool = False,
    rects: list[tuple[int, float, float, float, float]] | None = None,
) -> str:
    """Shared WITH-clause body for all core-pipeline DuckDB oracles:
    closed-form rect∩rect intersection areas, dirty flags, NULL policy,
    normalized weights.  Appended SELECTs pick the stage to check.
    ``rects``: (basin_id, left, bottom, right, top) offsets from the grid
    origin — defaults to the small-grid fixture taxonomy."""
    basins_values = ",\n      ".join(
        f"({bid}, {g.x0 + l!r}, {g.y0 + b!r}, {g.x0 + r!r}, {g.y0 + t!r})"
        for bid, l, b, r, t in (rects if rects is not None else BASIN_RECTS)
    )
    if remove_nan:
        keep_cond = "is_dirty = 0"
    else:
        keep_cond = "is_dirty = 0 OR all_dirty = 1"
    return f"""
WITH cells AS (
  SELECT r.range AS cell_row, c.range AS cell_col,
         {g.x0!r} + c.range * {g.cell!r} AS l,
         {g.y0!r} + r.range * {g.cell!r} AS b,
         {g.x0!r} + (c.range + 1) * {g.cell!r} AS rr,
         {g.y0!r} + (r.range + 1) * {g.cell!r} AS t
  FROM range({g.n_rows}) r, range({g.n_cols}) c
),
obs AS (
  SELECT cell_row, cell_col, h.range AS h,
         CASE WHEN ((cell_row*13 + cell_col*7) % 5 = 0)
                   AND ((h.range + cell_row + cell_col) % 8 = 0)
              THEN NULL
              ELSE CAST((cell_row*31 + cell_col*17 + h.range*13) % 120 AS DOUBLE)
         END AS value
  FROM cells, range({g.n_ts}) h
),
basins(basin_id, bl, bb, br, bt) AS (
  VALUES
      {basins_values}
),
frags AS (
  SELECT basin_id, cell_row, cell_col,
         greatest(0, least(br, rr) - greatest(bl, l))
       * greatest(0, least(bt, t) - greatest(bb, b)) AS frag_area,
         (rr - l) * (t - b) AS cell_area
  FROM cells, basins
),
frags_pos AS (SELECT * FROM frags WHERE frag_area > 0),
dirty AS (
  SELECT cell_row, cell_col,
         max(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS is_dirty
  FROM obs GROUP BY cell_row, cell_col
),
fb AS (
  SELECT f.*, d.is_dirty,
         CASE WHEN min(d.is_dirty) OVER (PARTITION BY f.basin_id) = 1
              THEN 1 ELSE 0 END AS all_dirty
  FROM frags_pos f JOIN dirty d USING (cell_row, cell_col)
),
kept AS (SELECT * FROM fb WHERE {keep_cond}),
wts AS (
  SELECT basin_id, cell_row, cell_col,
         (frag_area / cell_area)
         / sum(frag_area / cell_area) OVER (PARTITION BY basin_id) AS weight
  FROM kept
),
res AS (
  SELECT w.basin_id, o.h,
         CASE WHEN sum(CASE WHEN o.value IS NULL THEN 1 ELSE 0 END) > 0
              THEN NULL
              ELSE round(sum(w.weight * o.value) / 10.0, 3)
         END AS rainfall_mm
  FROM wts w JOIN obs o USING (cell_row, cell_col)
  GROUP BY w.basin_id, o.h
)
"""


def oracle_pipeline_sql(
    g: GridSpec = GRID,
    remove_nan: bool = False,
    rects: list[tuple[int, float, float, float, float]] | None = None,
) -> str:
    """Full-pipeline oracle (spatial join J1, NULL policy A5, weights
    A3/W1, weighted agg A4, scaling A7, rounding C8)."""
    return (
        oracle_base_ctes(g, remove_nan, rects)
        + f"""
SELECT basin_id,
       strftime(TIMESTAMP '{g.t0}' + h * INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS ts,
       rainfall_mm
FROM res
"""
    )


def oracle_fragments_sql(g: GridSpec = GRID) -> str:
    """J1/A2 oracle: intersection fragments with areas."""
    return (
        oracle_base_ctes(g)
        + """
SELECT basin_id, cell_row, cell_col,
       round(frag_area, 3) AS frag_area,
       CAST(cell_area AS DOUBLE) AS cell_area
FROM frags_pos
"""
    )


def oracle_weights_sql(g: GridSpec = GRID) -> str:
    """A3/A5/W1 oracle: normalized weights after the NULL policy."""
    return (
        oracle_base_ctes(g)
        + """
SELECT basin_id, cell_row, cell_col, round(weight, 6) AS weight
FROM wts
"""
    )


def oracle_cellgrid_sql(g: GridSpec = GRID) -> str:
    """C9/C10 oracle: the generated cell grid."""
    return (
        oracle_base_ctes(g)
        + """
SELECT cell_row, cell_col,
       CAST(l AS DOUBLE) AS x_min, CAST(b AS DOUBLE) AS y_min,
       CAST(rr AS DOUBLE) AS x_max, CAST(t AS DOUBLE) AS y_max
FROM cells
"""
    )


def oracle_daily_sql(g: GridSpec = GRID) -> str:
    """Tumbling-window resample oracle: hourly result summed per day."""
    return (
        oracle_base_ctes(g)
        + f"""
SELECT basin_id,
       strftime(date_trunc('day', TIMESTAMP '{g.t0}' + h * INTERVAL 1 HOUR),
                '%Y-%m-%d %H:%M:%S') AS ts,
       round(sum(rainfall_mm), 6) AS rainfall_mm
FROM res
GROUP BY 1, 2
"""
    )


def oracle_rasterize_sql(g: GridSpec = GRID) -> str:
    """C13 oracle: burn basin_id onto the grid by largest overlap."""
    return (
        oracle_base_ctes(g)
        + """
, best AS (
  SELECT cell_row, cell_col, basin_id,
         row_number() OVER (PARTITION BY cell_row, cell_col
                            ORDER BY frag_area DESC, basin_id ASC) AS rn
  FROM frags_pos
)
SELECT c.cell_row, c.cell_col, b.basin_id AS burn
FROM cells c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  USING (cell_row, cell_col)
"""
    )


# ---------------------------------------------------------------------------
# RADOLAN-true-scale generator (bench only): the reference's actual workload
# shape — 900x900 cells @ 1 km, hourly (radohydro.py:150,181) — which its
# dense np.dstack representation cannot hold for long ranges
# (radohydro.py:257-260).  ~19.4M obs rows/day, generated JVM-side.

RADOLAN_SCALE = GridSpec(
    n_rows=900,
    n_cols=900,
    x0=-523458.0,
    y0=-4658645.0,
    cell=1000.0,
    n_ts=24,
)

# REGNIE-true-scale (bench): the reference's OTHER workload shape — the
# 971x611 daily grid (regnie sources, reference radohydro.py:95,392-395).
# One month = 31 day files = ~18.4M obs rows, within 6% of the RADOLAN
# day's 19.4M, so the two headline precip benches are directly comparable
# per-cell.  n_ts counts DAYS here (day-stepped timestamps).
REGNIE_SCALE = GridSpec(
    n_rows=971,
    n_cols=611,
    x0=400000.0,
    y0=5000000.0,
    cell=1000.0,
    n_ts=31,
)


def radolan_scale_cells(spark: SparkSession, g: GridSpec = RADOLAN_SCALE) -> DataFrame:
    return synthetic_cells(spark, g)


def radolan_scale_obs(
    spark: SparkSession, g: GridSpec = RADOLAN_SCALE, partitions: int = 32
) -> DataFrame:
    """Long obs at full RADOLAN scale: one `spark.range` + pure column
    arithmetic, so generation is whole-stage-codegen JVM work that
    parallelizes across `partitions` tasks (no driver materialization)."""
    n = g.n_rows * g.n_cols * g.n_ts
    base = spark.range(0, n, 1, partitions)
    cell_idx = F.col("id") % (g.n_rows * g.n_cols)
    return base.select(
        (
            F.to_timestamp(F.lit(g.t0))
            + F.make_interval(hours=(F.col("id") / (g.n_rows * g.n_cols)).cast("int"))
        ).alias("ts"),
        (cell_idx % g.n_rows).cast("int").alias("cell_row"),
        (cell_idx / g.n_rows).cast("int").alias("cell_col"),
        F.when(F.expr(NULL_COND.replace("h +", "CAST(id / 810000 AS INT) +")), F.lit(None).cast("double"))
        .otherwise(F.expr(VALUE_EXPR.replace("h*13", "CAST(id / 810000 AS INT)*13")))
        .alias("value"),
    )


def radolan_scale_rects(
    g: GridSpec = RADOLAN_SCALE, n_basins: int = 20
) -> list[tuple[int, float, float, float, float]]:
    """Deterministic basin rectangles as offsets from the grid origin —
    single source of truth for BOTH the Spark basins table and the DuckDB
    oracle's VALUES list."""
    rects = []
    for i in range(n_basins):
        size = 5000.0 + (i * 2901.0) % 55000.0
        left = ((i * 97003.0) % (g.n_cols * g.cell - size - 4000.0)) + 2000.0
        bottom = ((i * 53077.0) % (g.n_rows * g.cell - size - 4000.0)) + 2000.0
        rects.append((i + 1, left, bottom, left + size + 500.0, bottom + size))
    return rects


def radolan_scale_basins(
    spark: SparkSession, g: GridSpec = RADOLAN_SCALE, n_basins: int = 20
) -> DataFrame:
    """n_basins rectangles of growing size (5x5 .. ~60x60 km) scattered
    deterministically over the grid interior."""
    import pandas as pd

    rows = [
        (bid, wkb_box(g.x0 + l, g.y0 + b, g.x0 + r, g.y0 + t))
        for bid, l, b, r, t in radolan_scale_rects(g, n_basins)
    ]
    pdf = pd.DataFrame({"basin_id": [r[0] for r in rows], "geom": [r[1] for r in rows]})
    return spark.createDataFrame(pdf, schema=BASINS_SCHEMA)
