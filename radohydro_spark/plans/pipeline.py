"""End-to-end pipeline composition — the Spark lifecycle equivalent of
``radohydro(...)`` (reference radohydro.py:503-546, SURVEY.md §3.1).

One lazy DataFrame DAG:

    obs ──────────────┐ (fact, arbitrarily large)
    cells ─ bbox ─ J1 ─ fragments ─ A5 NULL policy ─ A3 weights ─┐
                                                                  ├ broadcast join
    obs ──────────────────────────────────────────────────────────┘
                               │
                 groupBy(basin_id, ts) weighted agg (A4)   ← the only shuffle
                               │
                          result (long)

The reference's explicit IR hand-offs (dense stack → wide GDF → fragment GDF
→ ndarray) become logical-plan nodes; ``del stack`` (radohydro.py:531)
becomes lazy evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radohydro_spark.operators.aggregate import weighted_basin_timeseries
from radohydro_spark.operators.spatial import spatial_intersect, window_predicate
from radohydro_spark.operators.weights import apply_nan_policy, basin_weights
# release_persisted is re-exported: the bench and harnesses import it here
from radohydro_spark.session import pin, release_persisted  # noqa: F401


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

        manifest(mirror) → date filter (S5, BEFORE decode) → decode (S6/S7)
        → cell grid from a sample member (compute-once, broadcast)
        → J1/A5/A3/A4 pipeline → K1 per-basin CSVs [+ K2 wide GeoParquet]

    Returns the long result DataFrame (sinks are side effects, but unlike
    the reference the result is also a first-class value).
    """
    from radohydro_spark.operators.spatial import (
        basin_bounds,
        buffered_clip_window,
        create_cell_grid,
    )
    from radohydro_spark.sinks import write_basin_csvs, write_wide_geoparquet
    from radohydro_spark.sources.ascii_grid import decode_ascii_grids, grid_meta
    from radohydro_spark.sources.manifest import filter_members_by_range, local_manifest
    from radohydro_spark.sources.regnie import decode_regnie
    from radohydro_spark.sources.shapefile import basins_from_shapefile

    if source == "regnie":
        date_type = "days2"  # raYYMMDD member names, reference radohydro.py:434
    manifest = filter_members_by_range(
        local_manifest(spark, mirror_dir), start, end, date_type
    )
    if source in ("radolan", "geotiff"):
        # compute-once grid geometry from one member (reference initDf
        # branch, radohydro.py:216-248) — driver-side probe of one payload
        sample = manifest.select("payload").first()
        if sample is None:
            raise ValueError(f"no members in [{start}, {end}] under {mirror_dir}")
        if source == "geotiff":
            from radohydro_spark.sources.geotiff import decode_geotiffs, geotiff_meta

            obs = decode_geotiffs(manifest, date_type)
            meta = geotiff_meta(bytes(sample["payload"]))
        else:
            obs = decode_ascii_grids(manifest, date_type)
            meta = grid_meta(bytes(sample["payload"]))
    elif source == "regnie":
        from radohydro_spark.sources.regnie import REGNIE_TRANSFORM

        obs = decode_regnie(manifest)
        # REGNIE's grid is fixed by spec — the reference hard-codes the
        # transform (radohydro.py:392-395)
        meta = dict(REGNIE_TRANSFORM)
    else:
        raise ValueError(f"unknown source: {source}")
    cells = create_cell_grid(
        spark,
        meta["n_rows"],
        meta["n_cols"],
        meta["ulx"],
        meta["uly"],
        meta["xres"],
        meta["yres"],
    )
    if isinstance(shapefile_path, DataFrame):
        basins = shapefile_path  # pre-built basins(basin_id, geom, ...)
    else:
        basins = basins_from_shapefile(spark, shapefile_path)
    if shape_crs and grid_crs and shape_crs.lower() != grid_crs.lower():
        # reference reprojects basins onto the working CRS before the
        # overlay (geotools/geotools.py:207-208)
        from radohydro_spark.geometry.crs import reproject_wkb

        basins = reproject_wkb(basins, shape_crs, grid_crs)

    window = buffered_clip_window(
        basin_bounds(basins),
        meta["ulx"],
        meta["uly"],
        meta["xres"],
        meta["yres"],
        meta["n_rows"],
        meta["n_cols"],
    )
    result = precip_timeseries(
        obs,
        cells,
        basins,
        clip_window=window,
        numerator=numerator,
        grid_meta=(meta["ulx"], meta["uly"], meta["xres"], meta["yres"]),
    )
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
    """Area-weighted mean precipitation per basin per timestep.

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
