"""Dependency-free single-band GeoTIFF codec — S9 source + K4 sink format.

The reference's alternate raster path reads a georeferenced file via GDAL
(``gdal.Open`` / ``GetGeoTransform`` / ``ReadAsArray``, reference
geotools/geotools.py:49-54) and its raster sink writes GTiff via rasterio
(geotools/geotools.py:369-381).  Neither GDAL nor rasterio is available
here, and neither is needed: the subset of TIFF those paths produce/consume
is small — classic little/big-endian TIFF, one band, stripped or tiled,
uncompressed or DEFLATE, with the two GeoTIFF georeferencing tags
(ModelPixelScale 33550 + ModelTiepoint 33922) and GDAL's nodata tag
(42113).  This module implements exactly that subset in numpy + zlib.

Spark-side, ``decode_geotiffs`` is the same ``mapInPandas`` one-to-many
kernel as the ASCII-grid source (sources/ascii_grid.py): manifest
``(fname, payload)`` → long ``obs(ts, cell_row, cell_col, value)`` with
nodata → NULL at ingest (F5), so GeoTIFF archives drop into the exact same
pipeline as ASCII/REGNIE ones.
"""

from __future__ import annotations

import struct
import zlib
import numpy as np

from pyspark.sql import DataFrame

from radohydro_spark.sources.manifest import MemberCodec, decode_members

# TIFF tag ids
_T_WIDTH, _T_LENGTH, _T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 256, 257, 258, 259, 262
_T_STRIP_OFFSETS, _T_SAMPLES_PER_PX, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR, _T_SAMPLE_FORMAT = 284, 317, 339
_T_TILE_W, _T_TILE_L, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_MODEL_PIXEL_SCALE, _T_MODEL_TIEPOINT, _T_GDAL_NODATA = 33550, 33922, 42113

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d"}

# (sample_format, bits) -> numpy dtype char
_DTYPES = {
    (1, 8): "u1", (1, 16): "u2", (1, 32): "u4",
    (2, 8): "i1", (2, 16): "i2", (2, 32): "i4",
    (3, 32): "f4", (3, 64): "f8",
}


def encode_geotiff(
    data: np.ndarray,
    ulx: float,
    uly: float,
    xres: float,
    yres: float,
    nodata: float | None = None,
    compress: bool = True,
    rows_per_strip: int = 64,
) -> bytes:
    """Serialize a 2-D array (row 0 = top) as a little-endian GeoTIFF.

    ``yres`` is the GeoTransform convention (negative for north-up); the
    ModelPixelScale tag stores |yres|.  DEFLATE-compressed strips by
    default — what GDAL's ``COMPRESS=DEFLATE`` produces.
    """
    data = np.ascontiguousarray(data)
    if data.ndim != 2:
        raise ValueError("encode_geotiff wants a 2-D single-band array")
    n_rows, n_cols = data.shape
    strips = encode_strips(data, compress=compress, rows_per_strip=rows_per_strip)
    header = build_geotiff_header(
        n_rows,
        n_cols,
        data.dtype,
        [len(s) for s in strips],
        ulx,
        uly,
        xres,
        yres,
        nodata=nodata,
        compress=compress,
        rows_per_strip=rows_per_strip,
    )
    return header + b"".join(strips)


def encode_strips(
    data: np.ndarray, compress: bool = True, rows_per_strip: int = 64
) -> list[bytes]:
    """Encode a block of raster rows into TIFF strip payloads.  Callable
    per-partition in executors: ``write_geotiff`` compresses strips
    distributed and only streams the finished blobs through the driver."""
    strips = []
    for r0 in range(0, data.shape[0], rows_per_strip):
        raw = data[r0 : r0 + rows_per_strip].astype(data.dtype.newbyteorder("<")).tobytes()
        strips.append(zlib.compress(raw) if compress else raw)
    return strips


def build_geotiff_header(
    n_rows: int,
    n_cols: int,
    dtype: np.dtype,
    strip_lengths: list[int],
    ulx: float,
    uly: float,
    xres: float,
    yres: float,
    nodata: float | None = None,
    compress: bool = True,
    rows_per_strip: int = 64,
) -> bytes:
    """Everything before the strip data: TIFF header + IFD + out-of-line
    tag values, with StripOffsets computed from ``strip_lengths`` — so the
    strips themselves can be streamed into the file afterwards without
    ever materializing the whole raster in one process."""
    dtype = np.dtype(dtype)
    kind = {"u": 1, "i": 2, "f": 3}[dtype.kind]
    bits = dtype.itemsize * 8
    if (kind, bits) not in _DTYPES:
        raise ValueError(f"unsupported dtype {dtype}")

    entries: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, packed values)

    def short(tag: int, v: int) -> None:
        entries.append((tag, 3, 1, struct.pack("<H", v)))

    def long_(tag: int, vs: list[int]) -> None:
        entries.append((tag, 4, len(vs), struct.pack(f"<{len(vs)}I", *vs)))

    def dbl(tag: int, vs: list[float]) -> None:
        entries.append((tag, 12, len(vs), struct.pack(f"<{len(vs)}d", *vs)))

    short(_T_WIDTH, n_cols)
    short(_T_LENGTH, n_rows)
    short(_T_BITS, bits)
    short(_T_COMPRESSION, 8 if compress else 1)
    short(_T_PHOTOMETRIC, 1)
    long_(_T_STRIP_OFFSETS, [0] * len(strip_lengths))  # patched below
    short(_T_SAMPLES_PER_PX, 1)
    short(_T_ROWS_PER_STRIP, rows_per_strip)
    long_(_T_STRIP_COUNTS, list(strip_lengths))
    short(_T_PLANAR, 1)
    short(_T_SAMPLE_FORMAT, kind)
    dbl(_T_MODEL_PIXEL_SCALE, [xres, abs(yres), 0.0])
    dbl(_T_MODEL_TIEPOINT, [0.0, 0.0, 0.0, ulx, uly, 0.0])
    if nodata is not None:
        nd = (f"{nodata:g}").encode("ascii") + b"\x00"
        entries.append((_T_GDAL_NODATA, 2, len(nd), nd))
    entries.sort(key=lambda e: e[0])

    # layout: header(8) + IFD + out-of-line tag data + strip data
    ifd_size = 2 + 12 * len(entries) + 4
    ooline_at = 8 + ifd_size
    ooline: list[bytes] = []
    pos = ooline_at
    packed_entries = []
    for tag, typ, count, blob in entries:
        if len(blob) <= 4:
            packed_entries.append((tag, typ, count, blob.ljust(4, b"\x00"), None))
        else:
            packed_entries.append((tag, typ, count, struct.pack("<I", pos), len(ooline)))
            ooline.append(blob)
            pos += len(blob)
    data_at = pos
    offsets = []
    for n in strip_lengths:
        offsets.append(data_at)
        data_at += n
    # patch StripOffsets (always out-of-line unless 1 strip)
    for i, (tag, typ, count, val, oi) in enumerate(packed_entries):
        if tag == _T_STRIP_OFFSETS:
            blob = struct.pack(f"<{len(offsets)}I", *offsets)
            if oi is None:
                packed_entries[i] = (tag, typ, count, blob.ljust(4, b"\x00"), None)
            else:
                ooline[oi] = blob

    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, 8)
    out += struct.pack("<H", len(entries))
    for tag, typ, count, val, _ in packed_entries:
        out += struct.pack("<HHI", tag, typ, count) + val
    out += struct.pack("<I", 0)  # no next IFD
    for blob in ooline:
        out += blob
    return bytes(out)


def _read_ifd(payload: bytes, bo: str) -> dict[int, tuple[int, list]]:
    (ifd_at,) = struct.unpack_from(f"{bo}I", payload, 4)
    (n,) = struct.unpack_from(f"{bo}H", payload, ifd_at)
    tags: dict[int, tuple[int, list]] = {}
    for i in range(n):
        at = ifd_at + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{bo}HHI", payload, at)
        size = _TYPE_SIZES.get(typ, 1) * count
        vat = at + 8
        if size > 4:
            (vat,) = struct.unpack_from(f"{bo}I", payload, at + 8)
        if typ == 2:
            vals = [payload[vat : vat + count].split(b"\x00")[0].decode("ascii", "replace")]
        elif typ in _TYPE_FMT:
            vals = list(struct.unpack_from(f"{bo}{count}{_TYPE_FMT[typ]}", payload, vat))
        elif typ == 5 or typ == 10:  # rationals
            raw = struct.unpack_from(f"{bo}{2 * count}{'I' if typ == 5 else 'i'}", payload, vat)
            vals = [raw[2 * j] / (raw[2 * j + 1] or 1) for j in range(count)]
        else:
            vals = []
        tags[tag] = (typ, vals)
    return tags


def parse_geotiff(payload: bytes) -> tuple[dict, np.ndarray]:
    """Parse one GeoTIFF: (meta dict, 2-D float64 array, NaN where nodata).

    Meta carries the GDAL GeoTransform fields (ulx/uly/xres/yres, yres < 0
    for north-up) plus n_rows/n_cols — same contract as
    ``ascii_grid.grid_meta``.  Supports classic TIFF, both byte orders,
    strips or tiles, compression none/DEFLATE.
    """
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (magic,) = struct.unpack_from(f"{bo}H", payload, 2)
    if magic != 42:
        raise ValueError(f"not a classic TIFF (magic={magic})")
    tags = _read_ifd(payload, bo)

    def one(tag: int, default=None):
        if tag not in tags:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return tags[tag][1][0]

    n_cols, n_rows = int(one(_T_WIDTH)), int(one(_T_LENGTH))
    bits = int(one(_T_BITS, 8))
    comp = int(one(_T_COMPRESSION, 1))
    fmt = int(one(_T_SAMPLE_FORMAT, 1))
    if int(one(_T_SAMPLES_PER_PX, 1)) != 1:
        raise ValueError("only single-band rasters supported")
    if int(one(_T_PREDICTOR, 1)) != 1:
        raise ValueError("TIFF predictor not supported")
    if comp not in (1, 8, 32946):
        raise ValueError(f"unsupported compression {comp} (want none/DEFLATE)")
    dt = _DTYPES.get((fmt, bits))
    if dt is None:
        raise ValueError(f"unsupported sample format/bits {fmt}/{bits}")
    dtype = np.dtype(bo + dt)

    def chunk(at: int, nbytes: int, n_px: int) -> np.ndarray:
        raw = payload[at : at + nbytes]
        if comp != 1:
            raw = zlib.decompress(raw)
        return np.frombuffer(raw, dtype=dtype, count=n_px)

    if _T_TILE_OFFSETS in tags:
        tw, tl = int(one(_T_TILE_W)), int(one(_T_TILE_L))
        offs = [int(v) for v in tags[_T_TILE_OFFSETS][1]]
        cnts = [int(v) for v in tags[_T_TILE_COUNTS][1]]
        tiles_across = (n_cols + tw - 1) // tw
        data = np.empty((n_rows, n_cols), dtype=dtype)
        for ti, (o, c) in enumerate(zip(offs, cnts)):
            px = chunk(o, c, tw * tl).reshape(tl, tw)
            r0, c0 = (ti // tiles_across) * tl, (ti % tiles_across) * tw
            rs, cs = min(tl, n_rows - r0), min(tw, n_cols - c0)
            data[r0 : r0 + rs, c0 : c0 + cs] = px[:rs, :cs]
    else:
        offs = [int(v) for v in tags[_T_STRIP_OFFSETS][1]]
        cnts = [int(v) for v in tags[_T_STRIP_COUNTS][1]]
        rps = int(one(_T_ROWS_PER_STRIP, n_rows))
        parts = []
        for si, (o, c) in enumerate(zip(offs, cnts)):
            rows = min(rps, n_rows - si * rps)
            parts.append(chunk(o, c, rows * n_cols))
        data = np.concatenate(parts).reshape(n_rows, n_cols)

    out = data.astype("float64")
    meta = {"n_rows": n_rows, "n_cols": n_cols}
    if _T_MODEL_PIXEL_SCALE in tags and _T_MODEL_TIEPOINT in tags:
        sx, sy = tags[_T_MODEL_PIXEL_SCALE][1][:2]
        tp = tags[_T_MODEL_TIEPOINT][1]
        # tiepoint maps raster (i,j,k) -> model (x,y,z); standard case i=j=0
        meta.update(
            ulx=float(tp[3] - tp[0] * sx),
            uly=float(tp[4] + tp[1] * sy),
            xres=float(sx),
            yres=-float(sy),
        )
    if _T_GDAL_NODATA in tags:
        nd = float(tags[_T_GDAL_NODATA][1][0])
        meta["nodata"] = nd
        out = np.where(data == np.array(nd).astype(dtype), np.nan, out)
    return meta, out


def geotiff_meta(payload: bytes) -> dict:
    """Driver-side metadata probe of one sample member (compute-once grid
    geometry, the reference's ``GetGeoTransform`` capture,
    geotools/geotools.py:51-53)."""
    meta, _ = parse_geotiff(payload)
    return meta


def parse_member(payload: bytes) -> np.ndarray:
    """One member payload → its 2-D grid (NaN nodata)."""
    return parse_geotiff(payload)[1]


CODEC = MemberCodec(parse_member, (ValueError, struct.error, zlib.error), "GeoTIFF")


def decode_geotiffs(
    manifest: DataFrame, date_type: str = "hours", permissive: bool = False
) -> DataFrame:
    """manifest(fname, payload) → obs(ts, cell_row, cell_col, value).

    Same contract as ``decode_ascii_grids`` — GeoTIFF mirrors plug into
    ``precip_timeseries`` unchanged."""
    return decode_members(manifest, *CODEC, date_type, permissive)
