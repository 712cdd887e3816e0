"""End-to-end pipeline composition — the Spark lifecycle equivalent of
``radohydro(...)`` (reference radohydro.py:503-546, SURVEY.md §3.1).

Two plans compute the same product, one area-weighted mean per basin per
timestep:

* ``precip_timeseries(obs, …)`` — the generic plan over any long obs
  DataFrame, one lazy DAG:

      obs ──────────────┐ (fact, arbitrarily large)
      cells ─ bbox ─ J1 ─ fragments ─ A5 NULL policy ─ A3 weights ─┐
                                                                    ├ broadcast join
      obs ──────────────────────────────────────────────────────────┘
                                 │
                   groupBy(basin_id, ts) weighted agg (A4)   ← the only shuffle
                                 │
                            result (long)

* ``precip_from_members(manifest, …)`` — the fused plan over raster
  members (what ``radohydro_run`` uses): J1 straight from the basins and
  the members' grid transform (``grid_fragments``, no cell table), then
  two ``mapInPandas`` passes over the manifest that each parse a member
  and read only its fragment cells.  Pass 1 reports which fragment cells
  are ever NaN; A5 and A3 run on the fragments as in the generic plan and
  the driver collects the weights; pass 2 turns each member into its
  n_basins weighted means with one ``np.bincount``.  No per-cell row or
  fact-sized persist exists at any point, and only the dimension-sized
  fragments are shuffled (the weight window): at tiny group cardinality a
  direct-indexed array aggregate beats a hash aggregate (EDBT'19,
  PAPERS.md).

The reference's explicit IR hand-offs (dense stack → wide GDF → fragment GDF
→ ndarray) become logical-plan nodes; ``del stack`` (radohydro.py:531)
becomes lazy evaluation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radohydro_spark.operators.aggregate import weighted_basin_timeseries
from radohydro_spark.operators.spatial import (
    grid_fragments,
    spatial_intersect,
    window_predicate,
)
from radohydro_spark.operators.weights import (
    apply_nan_policy,
    basin_weights,
    drop_dirty_cells,
)
# release_persisted is re-exported: the bench and harnesses import it here
from radohydro_spark.session import pin, release_persisted  # noqa: F401
from radohydro_spark.sources.manifest import (
    MemberCodec,
    filter_members_by_range,
    local_manifest,
    parsed_members,
    repeat_ts,
    with_member_ts,
)


def radohydro_run(
    spark: SparkSession,
    start: str,
    end: str,
    shapefile_path: str,
    mirror_dir: str,
    out_dir: str,
    source: str = "radolan",
    date_type: str = "minutes",
    numerator: float = 10.0,
    write_wide: bool = True,
    wide_format: str = "geoparquet",
    shape_crs: str | None = None,
    grid_crs: str | None = None,
) -> DataFrame:
    """The reference's primary entry (``radohydro(...)``, radohydro.py:
    503-546) as one Spark job against a local/object-store mirror:

        manifest(mirror) → date filter (S5, BEFORE decode)
        → grid transform from a sample member (REGNIE: fixed by spec)
        → fused member kernel (J1 per basin window, S6/S7 decode + A5/A3/A4)
        → K1 per-basin CSVs [+ K2 wide GeoParquet]

    Returns the long result DataFrame, cached: the sinks read it instead
    of re-running the pipeline, and unlike the reference the result is
    also a first-class value.
    """
    from radohydro_spark.sinks import write_basin_csvs, write_wide_geoparquet
    from radohydro_spark.sources.shapefile import basins_from_shapefile

    if source == "regnie":
        from radohydro_spark.sources.regnie import REGNIE_TRANSFORM, regnie_codec

        date_type = "days2"  # raYYMMDD member names, reference radohydro.py:434
        codec = regnie_codec()
    elif source == "geotiff":
        from radohydro_spark.sources.geotiff import CODEC as codec, geotiff_meta as probe
    elif source == "radolan":
        from radohydro_spark.sources.ascii_grid import CODEC as codec, grid_meta as probe
    else:
        raise ValueError(f"unknown source: {source}")
    manifest = filter_members_by_range(
        local_manifest(spark, mirror_dir), start, end, date_type
    )
    if source == "regnie":
        # REGNIE's grid is fixed by spec — the reference hard-codes the
        # transform (radohydro.py:392-395)
        meta = dict(REGNIE_TRANSFORM)
    else:
        # compute-once grid geometry from one member (reference initDf
        # branch, radohydro.py:216-248) — driver-side probe of one payload
        sample = manifest.select("payload").first()
        if sample is None:
            raise ValueError(f"no members in [{start}, {end}] under {mirror_dir}")
        meta = probe(bytes(sample["payload"]))
    if isinstance(shapefile_path, DataFrame):
        basins = shapefile_path  # pre-built basins(basin_id, geom, ...)
    else:
        basins = basins_from_shapefile(spark, shapefile_path)
    if shape_crs and grid_crs and shape_crs.lower() != grid_crs.lower():
        # reference reprojects basins onto the working CRS before the
        # overlay (geotools/geotools.py:207-208)
        from radohydro_spark.geometry.crs import reproject_wkb

        basins = reproject_wkb(basins, shape_crs, grid_crs)

    # no buffered clip window (F3): the kernel reads only fragment cells,
    # a tighter clip than any bbox window, and J1 derives each basin's
    # cells from its own bbox
    result = precip_from_members(manifest, codec, meta, basins, date_type, numerator)
    write_basin_csvs(result, basins, out_dir)
    if write_wide:
        if wide_format == "shapefile":
            # the reference's actual sink format (geotools/geotools.py:
            # 321-330), incl. its 500-column dBase refusal
            from radohydro_spark.sinks import write_wide_shapefile

            write_wide_shapefile(result, basins, f"{out_dir}/basins_wide.shp")
        else:
            write_wide_geoparquet(result, basins, f"{out_dir}/basins_wide.parquet")
    return result


def precip_timeseries(
    obs: DataFrame,
    cells: DataFrame,
    basins: DataFrame,
    clip_window: tuple[int, int, int, int] | None = None,
    remove_nan: bool = False,
    numerator: float = 10.0,
    round_decimals: int | None = 3,
    grid_meta: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Area-weighted mean precipitation per basin per timestep, from any
    long ``obs(ts, cell_row, cell_col, value)`` table.

    The product of ``compute_polyg_values`` (reference
    geotools/geotools.py:224-334) as one declarative plan.  ``clip_window``
    applies the buffered bbox predicate (F3) to both cells and obs so the
    scan prunes before any join.  ``round_decimals=3`` matches the
    reference's sink rounding (geotools/geotools.py:315-317); pass None to
    keep full precision.
    """
    if clip_window is not None:
        pred = window_predicate(clip_window)
        cells = cells.filter(pred)
        obs = obs.filter(pred)

    # fragments are dimension-sized (cells ∩ basins, never the fact table)
    # but feed three subtrees: the semi-join cell set, the dirty-flag join,
    # and the weight broadcast — cache so the clip join runs once, not 3×
    fragments = pin(spatial_intersect(cells, basins, grid_meta=grid_meta).cache())
    # one scan of the fact table: prune obs to the fragment-covered cells
    # (broadcast semi-join), persist the survivors — basin-covered cells are
    # a sliver of a full grid, so this is dimension-of-fact-sized — and feed
    # BOTH the dirty-flag pass (A5) and the weighted aggregate (A4) from it.
    # MEMORY_AND_DISK: at full scale the pruned table may exceed executor
    # memory; spilling still beats a second pass over the raw fact table.
    from pyspark import StorageLevel

    frag_cells = fragments.select("cell_row", "cell_col").distinct()
    obs_pruned = pin(
        obs.join(
            F.broadcast(frag_cells), ["cell_row", "cell_col"], "left_semi"
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    fragments = apply_nan_policy(fragments, obs_pruned, remove_nan=remove_nan, pruned=True)
    weighted = basin_weights(fragments)
    result = weighted_basin_timeseries(obs_pruned, weighted, numerator=numerator)
    if round_decimals is not None:
        result = result.withColumn(
            "rainfall_mm", F.round("rainfall_mm", round_decimals)
        )
    return result


def precip_from_members(
    manifest: DataFrame,
    codec: MemberCodec,
    meta: dict,
    basins: DataFrame,
    date_type: str,
    numerator: float = 10.0,
) -> DataFrame:
    """``precip_timeseries(decode_members(manifest, *codec, date_type), …)``
    without the long obs table: the same rows, straight from raster
    members.

    ``manifest(fname, payload)`` holds the members, decoded strictly by
    ``codec``; ``date_type`` stamps each member from its filename (F8).
    ``meta`` is the members' grid (``n_rows``, ``n_cols``, ``ulx``,
    ``uly``, ``xres``, ``yres``, row 0 = the parsed grid's row 0); a
    member of another shape is undecodable.  ``numerator`` means what it
    means in ``precip_timeseries``; the NaN policy is its default and
    ``rainfall_mm`` is rounded to 3 decimals.

    Passes (see the module docstring): J1 (``grid_fragments``) builds
    the cached fragments; pass 1 finds the fragment cells that are NaN in
    any member; A5/A3 (``drop_dirty_cells``, ``basin_weights``) turn them
    into weights the driver collects; pass 2 emits per member
    ``Σ w·v / numerator`` for each basin with fragments — a NaN kept value
    poisons its basin's sum, which becomes NULL (the A4 rule).  The result
    is cached, so its sinks read it once.
    """
    spark = manifest.sparkSession
    n_rows, n_cols = int(meta["n_rows"]), int(meta["n_cols"])
    fragments = pin(grid_fragments(basins, meta).cache())

    def flat_cells(pdf: pd.DataFrame) -> np.ndarray:
        return pdf["cell_row"].to_numpy("int64") * n_cols + pdf["cell_col"].to_numpy("int64")

    frag_cells = np.unique(flat_cells(fragments.select("cell_row", "cell_col").toPandas()))
    members = with_member_ts(manifest, date_type)
    shape = (n_rows, n_cols)

    def dirty_cells(it):
        seen = np.zeros(len(frag_cells), dtype=bool)
        for _, grid in parsed_members(it, *codec, False, shape):
            seen |= np.isnan(grid.ravel()[frag_cells])
        yield pd.DataFrame({"pos": np.flatnonzero(seen).astype("int32")})

    pos = members.mapInPandas(dirty_cells, "pos int").toPandas()["pos"].to_numpy()
    dirty = np.unique(frag_cells[pos])
    # handed back as a local relation: no shuffle to dedupe the flags
    flags = spark.createDataFrame(
        pd.DataFrame(
            {"cell_row": dirty // n_cols, "cell_col": dirty % n_cols, "is_dirty": 1}
        ),
        "cell_row int, cell_col int, is_dirty int",
    )
    weights = (
        basin_weights(drop_dirty_cells(fragments, flags))
        .select("basin_id", "cell_row", "cell_col", "weight")
        .toPandas()
    )
    kept_cells, weight = flat_cells(weights), weights["weight"].to_numpy()
    basin_ids, basin_idx = np.unique(weights["basin_id"].to_numpy(), return_inverse=True)
    n_basins = len(basin_ids)

    def basin_means(it):
        for ts_us, grid in parsed_members(it, *codec, False, shape):
            sums = np.bincount(
                basin_idx, weights=weight * grid.ravel()[kept_cells], minlength=n_basins
            )
            yield pd.DataFrame(
                {
                    "basin_id": basin_ids,
                    "ts_us": repeat_ts(ts_us, n_basins),
                    "rainfall_mm": sums / float(numerator),
                }
            )

    per_member = members.mapInPandas(
        basin_means,
        f"basin_id {fragments.schema['basin_id'].dataType.simpleString()}, "
        "ts_us long, rainfall_mm double",
    )
    rain = F.when(F.isnan("rainfall_mm"), F.lit(None).cast("double")).otherwise(
        F.col("rainfall_mm")
    )
    result = per_member.select(
        "basin_id",
        F.timestamp_micros("ts_us").alias("ts"),
        F.round(rain, 3).alias("rainfall_mm"),
    )
    return pin(result.cache())
