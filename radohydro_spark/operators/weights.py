"""Per-basin NULL policy (A5) and area-weight normalization (A3).

Semantics pinned from reference geotools/geotools.py:254-262 (see SURVEY.md
§7.3 and FIXTURES.md §2.2):

* A cell is *dirty* (w.r.t. a basin's fragment) if its value is NULL at any
  timestep.  (In the reference's wide format, ">1 NaN per row" with a
  never-NaN geometry column reduces to "any data NaN".)
* Per basin: if at least one intersecting cell is clean, drop all dirty
  cells; weights then renormalize over the clean ones
  (geotools/geotools.py:256-260).  If every cell is dirty, keep them all —
  the result becomes NULL at affected timesteps.
* Weight: w_i = (frag_area_i / cell_area_i) / Σ_basin (frag_area/cell_area)
  — the window-aggregate in disguise (W1, geotools/geotools.py:262).  The
  same normalization implements the V0.6 edge interpolation (reference
  radohydro.py:12): basins extending past the grid renormalize over
  available cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def cell_dirty_flags(obs: DataFrame) -> DataFrame:
    """Per-cell dirty flag: 1 if the cell has a NULL value at any timestep.

    One map-side-combinable aggregation over obs — the only pass the NULL
    policy needs over the fact table.
    """
    return obs.groupBy("cell_row", "cell_col").agg(
        F.max(F.col("value").isNull().cast("int")).alias("is_dirty")
    )


def apply_nan_policy(
    fragments: DataFrame, obs: DataFrame, remove_nan: bool = False, pruned: bool = False
) -> DataFrame:
    """A5 — filter fragments by the per-basin dirty-cell policy.

    ``remove_nan=True`` is the reference's unconditional drop path
    (geotools/geotools.py:239-240): dirty cells are removed even if the
    whole basin is dirty.

    Scale note: the dirty-flag aggregate is the only operator that would
    otherwise scan the whole obs table, so obs is first semi-joined to the
    fragment cell set (dimension-sized, broadcast) — on a RADOLAN day that
    cuts the aggregate's input to just the basin-covered cells, and the
    filter sits before the shuffle.  Pass ``pruned=True`` when the caller
    already restricted obs to the fragment cells (precip_timeseries does,
    and caches that pruned table so this pass and the weighted aggregate
    share one scan of the fact table).
    """
    if not pruned:
        frag_cells = fragments.select("cell_row", "cell_col").distinct()
        obs = obs.join(F.broadcast(frag_cells), ["cell_row", "cell_col"], "left_semi")
    return drop_dirty_cells(fragments, cell_dirty_flags(obs), remove_nan)


def drop_dirty_cells(
    fragments: DataFrame, flags: DataFrame, remove_nan: bool = False
) -> DataFrame:
    """A5 given per-cell flags ``(cell_row, cell_col, is_dirty)``, one row
    per cell at most; a fragment cell without a flag is clean.  The fused
    member kernel (plans/pipeline.py ``precip_from_members``) feeds it
    the dirty cells its first pass over the members found."""
    fb = fragments.join(F.broadcast(flags), ["cell_row", "cell_col"], "left").fillna(
        {"is_dirty": 0}
    )
    if remove_nan:
        return fb.filter(F.col("is_dirty") == 0).drop("is_dirty")
    all_dirty = F.min("is_dirty").over(W.partitionBy("basin_id"))
    return (
        fb.withColumn("_all_dirty", all_dirty)
        .filter((F.col("is_dirty") == 0) | (F.col("_all_dirty") == 1))
        .drop("_all_dirty")
    )


def basin_weights(fragments: DataFrame) -> DataFrame:
    """A3/W1 — normalized area weights per (basin, cell) fragment.

    ``sum(...).over(partitionBy(basin_id))`` keeps rows (no collapse), the
    Spark-native form of the reference's reduceat-normalization
    (geotools/geotools.py:256-262).  Fragment counts are dimension-sized, so
    the window shuffle is negligible at any scale.
    """
    raw = F.col("frag_area") / F.col("cell_area")
    total = F.sum(raw).over(W.partitionBy("basin_id"))
    return fragments.withColumn("weight", raw / total)
