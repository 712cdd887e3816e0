"""ESRI ASCII-grid decoder (S6) — raster archive member → long obs rows.

Spark-first replacement for the reference's rasterio ``MemoryFile`` decode
(reference radohydro.py:211-222, :307-321): a ``mapInPandas`` one-to-many
kernel over a manifest DataFrame of ``(fname, payload)`` rows.  The
six-line header (ncols/nrows/xllcorner/yllcorner/cellsize/NODATA_value) is
parsed in Python; the body is vectorized NumPy.  Nodata becomes NULL at
ingest (F5; reference sentinel capture radohydro.py:217, replacement
radohydro.py:448) — magic numbers never propagate.

Grid convention: ASCII grids are north-up; raster row 0 is the TOP row.
``cell_row`` keeps raster order (row 0 = top), matching the reference's
array orientation; the cell-grid generator mirrors this with negative yres.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from radohydro_spark.schemas import OBS_SCHEMA
from radohydro_spark.sources.manifest import MemberCodec, decode_members

HEADER_KEYS = ("ncols", "nrows", "xllcorner", "yllcorner", "cellsize", "nodata_value")


def parse_ascii_grid(payload: bytes) -> tuple[dict, np.ndarray]:
    """Parse one ESRI ASCII grid: (header dict, 2-D float array with NaN
    nodata)."""
    text = payload.decode("ascii", errors="replace")
    lines = text.splitlines()
    header: dict[str, float] = {}
    body_start = 0
    for i, line in enumerate(lines):
        parts = line.split()
        if len(parts) == 2 and parts[0].lower() in HEADER_KEYS:
            header[parts[0].lower()] = float(parts[1])
            body_start = i + 1
        else:
            break
    ncols = int(header["ncols"])
    nrows = int(header["nrows"])
    body = " ".join(lines[body_start:])
    data = np.array(body.split(), dtype="float64").reshape(nrows, ncols)
    nodata = header.get("nodata_value")
    if nodata is not None:
        data = np.where(data == nodata, np.nan, data)
    return header, data


def grid_meta(payload: bytes) -> dict:
    """Driver-side metadata probe of one sample member — the engine form of
    the reference's first-iteration transform capture (radohydro.py:216-222).

    Returns ulx/uly/xres/yres/n_rows/n_cols with row 0 at the top
    (yres < 0), GDAL GeoTransform convention.
    """
    header, data = parse_ascii_grid(payload)
    cell = header["cellsize"]
    return {
        "n_rows": int(header["nrows"]),
        "n_cols": int(header["ncols"]),
        "ulx": header["xllcorner"],
        "uly": header["yllcorner"] + header["nrows"] * cell,
        "xres": cell,
        "yres": -cell,
    }


def parse_member(payload: bytes) -> np.ndarray:
    """One member payload → its 2-D grid (NaN nodata)."""
    return parse_ascii_grid(payload)[1]


CODEC = MemberCodec(parse_member, (KeyError, ValueError), "ASCII grid")


def decode_ascii_grids(
    manifest: DataFrame, date_type: str = "hours", permissive: bool = False
) -> DataFrame:
    """manifest(fname, payload) → obs(ts, cell_row, cell_col, value).

    One-to-many decode; the timestamp comes from the member filename (F8).
    NaN → NULL after the decode.  ``permissive=True`` skips undecodable
    members instead of failing the job — at archive scale a handful of
    corrupt tar members must not kill a backfill.
    """
    return decode_members(manifest, *CODEC, date_type, permissive)
