"""Sinks (SURVEY.md §2.1 K1-K4).

The reference emits per-basin CSVs with bespoke two-line headers
(geotools/geotools.py:295-319), a wide shapefile capped at 500 data
columns by the dBase format (geotools/geotools.py:321-330, README.md:17),
an optional cell-grid shapefile (geotools/geotools.py:178-184), and a
GeoTIFF raster (geotools/geotools.py:369-381).

Engine mapping:

* K1  per-basin CSV     — one ``groupBy(basin_id)`` builds each file's
                          time-ordered body in the JVM; the driver streams
                          the bodies and writes each behind its bespoke
                          3-line header (n_basins files, no staging dir).
* K2  wide vector sink  — sink-time pivot → parquet with a WKB geometry
                          column ("GeoParquet-style"): no 500-column dBase
                          cliff, no 10-char field-name truncation.
* K3  cell-grid sink    — same, over the cell dimension.
* K4  raster sink       — ESRI-ASCII grid text (the same format sources/
                          ascii_grid.py decodes, lossless round-trip) and
                          GeoTIFF.  Both render DISTRIBUTED: text lines /
                          DEFLATE strips are produced executor-side and
                          streamed in order into the single output file;
                          peak driver memory is one partition of lines /
                          strips, never the raster.

Every sink that names its own files works the same way: executors render
the bodies, the driver streams them (``toLocalIterator``) into the files.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radohydro_spark.operators.aggregate import pivot_wide


def write_basin_csvs(result: DataFrame, basins: DataFrame, out_dir: str) -> list[str]:
    """K1 — one CSV per basin, ``basin_<padded id>.csv``: 2 header lines
    (zero-padded basin id, basin area), the column line, then one
    ``Time[yymmddhhmm],rainfall[mm]`` row per timestep in time order, the
    rainfall rounded to 3 decimals and a NULL written as an empty field.

    One ``groupBy(basin_id)`` builds each file's whole body in the JVM
    (sorted ``collect_list`` of the rendered rows); the driver streams the
    bodies through ``toLocalIterator`` and writes each behind its header,
    so it holds one partition of bodies at a time.  Creates ``out_dir``
    if needed; returns the written paths in basin-id order.

    Zero-pad width uses ``ceil(log10(n+1))`` — the reference's ``np.ceil(
    np.log(n))`` (geotools/geotools.py:300-303) is a natural-log latent
    bug, consciously fixed here (SURVEY.md §7.3).
    """
    if "area" in basins.columns:
        meta = basins.select(
            "basin_id", F.col("area").cast("double").alias("area")
        ).collect()
        areas = {r["basin_id"]: r["area"] for r in meta}
    else:
        # dimension-sized driver pass: polygon area from the WKB geometry
        # (reference takes gdfbnd.area per output row, geotools:304)
        from radohydro_spark.geometry.clip import polygon_area
        from radohydro_spark.geometry.wkb import parse_wkb_polygons

        areas = {
            r["basin_id"]: sum(polygon_area(p) for p in parse_wkb_polygons(bytes(r["geom"])))
            for r in basins.select("basin_id", "geom").collect()
        }
    width = max(1, math.ceil(math.log10(len(areas) + 1)))

    # (time, value) structs sort by time; a value renders as Java's
    # Double.toString of its 3-decimal rounding, a NULL as an empty field
    rows = F.array_sort(
        F.collect_list(
            F.struct(
                F.date_format("ts", "yyMMddHHmm").alias("t"),
                F.coalesce(F.round("rainfall_mm", 3).cast("string"), F.lit("")).alias("v"),
            )
        )
    )
    body = F.array_join(
        F.transform(rows, lambda r: F.concat(r["t"], F.lit(","), r["v"], F.lit("\n"))),
        "",
    )

    os.makedirs(out_dir, exist_ok=True)
    written = []
    for row in result.groupBy("basin_id").agg(body.alias("body")).toLocalIterator():
        bid = row["basin_id"]
        padded = str(bid).zfill(width)
        path = os.path.join(out_dir, f"basin_{padded}.csv")
        with open(path, "w") as out:
            out.write(f"basinID,{padded}\n")
            out.write(f"area[m2],{areas.get(bid, float('nan'))}\n")
            out.write("Time[yymmddhhmm],rainfall[mm]\n")
            out.write(row["body"])
        written.append(path)
    return sorted(written)


def write_wide_geoparquet(
    result: DataFrame,
    basins: DataFrame,
    path: str,
    ts_fmt: str = "yyMMddHHmm",
) -> None:
    """K2 — wide per-basin table joined back onto basin geometry, written
    as parquet with a WKB ``geom`` column.  The pivot happens ONLY here at
    the sink (long format internally, SURVEY.md §7.1); unlike the dBase
    target there is no 500-column refusal (README.md:17)."""
    wide = pivot_wide(result, ts_format=ts_fmt)
    out = basins.join(wide, "basin_id", "left")
    out.write.mode("overwrite").parquet(path)


def write_cellgrid_geoparquet(cells: DataFrame, path: str) -> None:
    """K3 — cell grid with box geometry as WKB parquet (the engine form of
    the optional datacellgrid.shp dump)."""
    from radohydro_spark.geometry.wkb import wkb_box  # noqa: F401 (doc pointer)
    import pandas as pd

    def add_geom(pdf: pd.DataFrame) -> pd.DataFrame:
        from radohydro_spark.geometry.wkb import wkb_box as box

        pdf = pdf.copy()
        pdf["geom"] = [
            box(l, b, r, t)
            for l, b, r, t in zip(pdf["left"], pdf["bottom"], pdf["right"], pdf["top"])
        ]
        return pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cells.schema.fields)
    out = cells.mapInPandas(
        lambda it: (add_geom(pdf) for pdf in it), schema=schema + ", geom binary"
    )
    out.write.mode("overwrite").parquet(path)


def _raster_dims(raster: DataFrame, value_col: str) -> tuple[DataFrame, int, int]:
    vals = raster.select(
        "cell_row", "cell_col", F.col(value_col).cast("double").alias("v")
    )
    dims = vals.agg(
        F.max("cell_row").alias("mr"), F.max("cell_col").alias("mc")
    ).first()
    if dims["mr"] is None:
        raise ValueError("empty raster")
    return vals, int(dims["mr"]) + 1, int(dims["mc"]) + 1


def write_ascii_grid(
    raster: DataFrame,
    path: str,
    xllcorner: float,
    yllcorner: float,
    cellsize: float,
    value_col: str = "burn",
    nodata: float = -9999.0,
) -> None:
    """K4 — render a (cell_row, cell_col, value) DataFrame to an ESRI
    ASCII grid file (the GTiff writer's format-portable sibling; fill value
    matches the reference's rasterize fill, geotools/geotools.py:367).

    Fully distributed render: each raster row becomes one text line inside
    an Arrow-batched ``applyInPandas`` kernel (dense nodata fill + ``%g``
    formatting executor-side); the driver writes the 6-line header, then
    streams the lines in row order through ``toLocalIterator``, holding
    one partition of lines at a time, never the raster.  Row 0 is the TOP
    row, matching the decoder in sources/ascii_grid.py.
    """
    import pandas as pd

    vals, n_rows, n_cols = _raster_dims(raster, value_col)

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        row = np.full(n_cols, nodata, dtype=np.float64)
        ok = pdf["v"].notna()
        row[pdf["cell_col"][ok].to_numpy()] = pdf["v"][ok].to_numpy()
        line = " ".join(f"{v:g}" for v in row)
        return pd.DataFrame({"cell_row": [int(pdf["cell_row"].iloc[0])], "line": [line]})

    lines = vals.groupBy("cell_row").applyInPandas(render, "cell_row int, line string")
    # raster rows with no cells at all still need a nodata line (the line
    # itself is built JVM-side, never on the driver)
    all_rows = vals.sparkSession.range(n_rows).select(
        F.col("id").cast("int").alias("cell_row")
    )
    nodata_line = F.array_join(F.array_repeat(F.lit(f"{nodata:g}"), n_cols), " ")
    lines = all_rows.join(lines, "cell_row", "left").select(
        "cell_row", F.coalesce("line", nodata_line).alias("line")
    )

    with open(path, "w") as f:
        f.write(f"ncols {n_cols}\n")
        f.write(f"nrows {n_rows}\n")
        f.write(f"xllcorner {xllcorner}\n")
        f.write(f"yllcorner {yllcorner}\n")
        f.write(f"cellsize {cellsize}\n")
        f.write(f"NODATA_value {nodata}\n")
        for row in lines.orderBy("cell_row").toLocalIterator():
            f.write(row["line"] + "\n")


def write_geotiff(
    raster: DataFrame,
    path: str,
    ulx: float,
    uly: float,
    xres: float,
    yres: float,
    value_col: str = "burn",
    nodata: float = -9999.0,
    dtype: str = "float32",
    compress: bool = True,
    rows_per_strip: int = 64,
) -> None:
    """K4 — render a (cell_row, cell_col, value) DataFrame to a GeoTIFF
    file (the reference's rasterio GTiff sink, geotools/geotools.py:369-381,
    via the dependency-free codec in sources/geotiff.py).

    Distributed strip pipeline: executors densify + DEFLATE-compress each
    ``rows_per_strip``-row strip (``applyInPandas`` keyed on
    ``cell_row // rows_per_strip``); the driver streams the finished strip
    blobs in order through ``toLocalIterator`` straight into the file
    behind a reserved header — peak driver memory is ONE strip, never the
    raster.  Byte-identical to ``encode_geotiff`` on the equivalent dense
    array (same header builder).  Row 0 is the TOP row.
    """
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.geotiff import build_geotiff_header, encode_strips

    vals, n_rows, n_cols = _raster_dims(raster, value_col)
    np_dtype = np.dtype(dtype)

    # unannotated: a partly annotated (key, pdf) function makes
    # applyInPandas warn that it cannot infer the eval type on every call
    def make_strip(key, pdf):
        strip_idx = int(key[0])
        r0 = strip_idx * rows_per_strip
        h = min(rows_per_strip, n_rows - r0)
        block = np.full((h, n_cols), nodata, dtype=np_dtype)
        ok = pdf["v"].notna()
        block[
            pdf["cell_row"][ok].to_numpy() - r0, pdf["cell_col"][ok].to_numpy()
        ] = pdf["v"][ok].to_numpy()
        (blob,) = encode_strips(block, compress=compress, rows_per_strip=rows_per_strip)
        return pd.DataFrame({"strip_idx": [strip_idx], "blob": [blob]})

    n_strips = (n_rows + rows_per_strip - 1) // rows_per_strip
    # every strip must exist even if no cell falls in it (all-nodata strip)
    all_strips = vals.sparkSession.range(n_strips).select(
        F.col("id").cast("int").alias("strip_idx")
    )
    present = (
        vals.withColumn(
            "strip_idx", (F.col("cell_row") / rows_per_strip).cast("int")
        )
        .groupBy("strip_idx")
        .applyInPandas(make_strip, "strip_idx int, blob binary")
    )
    strips = all_strips.join(present, "strip_idx", "left")

    def header(strip_lengths: list[int]) -> bytes:
        return build_geotiff_header(
            n_rows,
            n_cols,
            np_dtype,
            strip_lengths,
            ulx,
            uly,
            xres,
            yres,
            nodata=nodata,
            compress=compress,
            rows_per_strip=rows_per_strip,
        )

    # the header's size depends only on the strip count: reserve it, stream
    # the strips in order behind it (the driver holds one blob at a time),
    # then write the real header, with the strips' offsets, over the reserve
    strip_lengths: list[int] = []
    with open(path, "wb") as f:
        f.write(header([0] * n_strips))
        for row in strips.orderBy("strip_idx").toLocalIterator():
            blob = row["blob"]
            if blob is None:
                idx = row["strip_idx"]
                h = min(rows_per_strip, n_rows - idx * rows_per_strip)
                (blob,) = encode_strips(
                    np.full((h, n_cols), nodata, dtype=np_dtype),
                    compress=compress,
                    rows_per_strip=rows_per_strip,
                )
            blob = bytes(blob)
            strip_lengths.append(len(blob))
            f.write(blob)
        f.seek(0)
        f.write(header(strip_lengths))
