"""REGNIE fixed-width decoder (S7) with the fused-value repair heuristic (C6).

REGNIE day files are 971 lines x 611 values of 4-character fixed-width
fields (0.1 mm units, -999 = nodata), whitespace-separated *most* of the
time: values >= 1000 (0.1 mm = 100 mm daily rain) fuse with their neighbor
because the field is exactly 4 chars wide.  The reference repairs this with
a chunking heuristic (reference radohydro.py:95-144; stated assumptions:
daily rainfall never > 1999 and fused runs re-chunk by 4).

This engine parses by *fixed 4-char stride* as primary — REGNIE is
fixed-width by spec, so the stride parse is exact and needs no heuristic —
and keeps a `compat_heuristic` path reproducing the reference's
split-then-repair behavior for divergence testing (SURVEY.md §7.3).

Decode runs as ``mapInPandas`` over manifest rows (gzipped payloads),
emitting long obs rows; -999 → NULL at ingest.
"""

from __future__ import annotations

import functools
import gzip

import numpy as np

from pyspark.sql import DataFrame

from radohydro_spark.sources.manifest import MemberCodec, decode_members

REGNIE_COLS = 611
REGNIE_ROWS = 971
REGNIE_NAN = -999.0

# REGNIE grid georeference: hard-coded in the reference
# (radohydro.py:392-395): xll-ish origin (5.833333 - 1/120, 55.083333+1/240),
# xres = 1/60 deg, yres = -1/120 deg, EPSG:4326.
REGNIE_TRANSFORM = {
    "ulx": 5.833333 - 1.0 / 120.0,
    "uly": 55.083333 + 1.0 / 240.0,
    "xres": 1.0 / 60.0,
    "yres": -1.0 / 120.0,
    "n_rows": REGNIE_ROWS,
    "n_cols": REGNIE_COLS,
}


def parse_regnie_line_fixed(line: str, no_per_line: int = REGNIE_COLS) -> np.ndarray:
    """Exact fixed-width parse: 4 chars per value.

    REGNIE is fixed-width by spec, so this is the authoritative parse; the
    reference's whitespace-split + repair (radohydro.py:95-144) is only an
    approximation of this.
    """
    line = line.rstrip("\r\n")
    vals = [line[i : i + 4] for i in range(0, 4 * no_per_line, 4)]
    return np.array([v.strip() or "nan" for v in vals], dtype="float64")


def parse_regnie_line_compat(line: str, no_per_line: int = REGNIE_COLS) -> np.ndarray:
    """Reference-compatible parse: whitespace split, then repair fused >999
    values by the same chunk-by-4 / leading-digit-dispatch rules
    (reference radohydro.py:117-143).  Kept for divergence testing only.
    """
    s = str(line).replace("-", " -").strip()
    tokens = s.split()
    if len(tokens) == no_per_line:
        return np.array(tokens, dtype="float64")
    repaired: list[str] = []
    for value in tokens:
        if len(value) > 4:
            if len(value) % 4 == 0:
                repaired.extend(value[i : i + 4] for i in range(0, len(value), 4))
            elif value[0] in ("-", "1", "3", "4"):
                # three-digit value sits in the LAST three chars
                repaired.append(value[-3:])
                rest = value[:-3]
                repaired.extend(rest[i : i + 4] for i in range(0, len(rest), 4))
            else:
                # three-digit value sits in the FIRST three chars
                repaired.append(value[:3])
                rest = value[3:]
                repaired.extend(rest[i : i + 4] for i in range(0, len(rest), 4))
        else:
            repaired.append(value)
    return np.array(repaired, dtype="float64")


def decode_regnie_day(
    payload: bytes, compat_heuristic: bool = False, no_per_line: int = REGNIE_COLS
) -> np.ndarray:
    """Gunzip + parse one REGNIE day file into a 2-D array (NaN = nodata).

    Mirrors the drive loop at reference radohydro.py:440-448: the trailing
    line is metadata and dropped; -999 → NaN.
    """
    text = gzip.decompress(payload).decode("utf-8", errors="replace")
    lines = text.splitlines()[:-1]
    if not compat_heuristic:
        # vectorized fast path: a well-formed file is one uniform
        # 4-char-stride matrix, so parse it in a single C-level pass
        # (np.frombuffer view as S4 fields → strtod astype). ~10x faster
        # than per-line slicing at the real 971x611 shape; any ragged or
        # non-numeric content falls back to the per-line authoritative
        # parse (identical semantics, incl. all-space field → NaN).
        width = 4 * no_per_line
        stripped = [ln.rstrip("\r") for ln in lines]
        if stripped and all(len(ln) == width for ln in stripped):
            try:
                fields = np.frombuffer(
                    "".join(stripped).encode("ascii"), dtype="S4"
                )
                data = fields.astype("float64").reshape(len(stripped), no_per_line)
                return np.where(data == REGNIE_NAN, np.nan, data)
            except (ValueError, UnicodeEncodeError):
                pass
    parse = parse_regnie_line_compat if compat_heuristic else parse_regnie_line_fixed
    data = np.vstack([parse(line, no_per_line) for line in lines])
    return np.where(data == REGNIE_NAN, np.nan, data)


def regnie_codec(
    compat_heuristic: bool = False, no_per_line: int = REGNIE_COLS
) -> MemberCodec:
    """The REGNIE member codec for one parse configuration."""
    parse = functools.partial(
        decode_regnie_day, compat_heuristic=compat_heuristic, no_per_line=no_per_line
    )
    return MemberCodec(parse, (), "REGNIE")


def decode_regnie(
    manifest: DataFrame,
    compat_heuristic: bool = False,
    no_per_line: int = REGNIE_COLS,
) -> DataFrame:
    """manifest(fname, payload: gzipped day file) → obs long rows.

    Day-file names are ``raYYMMDD...`` (two-digit year, reference
    radohydro.py:434).
    """
    return decode_members(manifest, *regnie_codec(compat_heuristic, no_per_line), "days2")
