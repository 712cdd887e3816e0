"""Manifest source layer (S1-S5): file listings, date pruning, tar expansion.

The reference couples listing/fetch/extract/decode in one FTP loop
(reference radohydro.py:179-306, :405-440).  The engine splits these into
relational stages over one manifest schema so DWD-FTP, a local mirror, and
synthetic tests are interchangeable (SURVEY.md §7.1):

    list → prune-by-name (S3, Catalyst filter BEFORE any fetch/decode UDF —
    Python UDFs are optimization barriers, SURVEY.md §4) → fetch payloads →
    expand tars (S4, one-to-many mapInPandas) → member date filter (S5) →
    decode (ascii_grid.py / regnie.py / geotiff.py, one ``decode_members``)
"""

from __future__ import annotations

import io
import os
import sys
import tarfile
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radohydro_spark.functions.temporal import filename_to_ts
from radohydro_spark.schemas import MANIFEST_SCHEMA


def local_manifest(spark: SparkSession, path: str, kind: str = "recent") -> DataFrame:
    """Manifest from a local mirror directory via the binaryFile source —
    payloads stream from disk per task, never through the driver."""
    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.reverse(F.split(F.col("path"), "/")).getItem(0).alias("fname"),
        F.lit(None).cast("date").alias("dt"),
        F.lit(kind).alias("kind"),
        F.col("content").alias("payload"),
    )


def listing_manifest(
    spark: SparkSession, fnames: list[str], kind: str = "recent"
) -> DataFrame:
    """Manifest of names only (payload NULL) — the fetch-later shape used
    with remote providers."""
    rows = [(f, None, kind, None) for f in fnames]
    return spark.createDataFrame(rows, schema=MANIFEST_SCHEMA)


def prune_by_dates(manifest: DataFrame, dates: DataFrame, monthly: bool = False) -> DataFrame:
    """S3 — keep files whose name contains a wanted date.

    The engine form of the reference's ``product(dts, files)`` name scan
    (radohydro.py:188-189; historical monthly prefix match via ``dt[:-2]``,
    radohydro.py:275-277).  ``dates`` is a DataFrame with a ``dt``
    timestamp column (functions.temporal.date_range).  Broadcast semi-join:
    no shuffle, and it runs *before* any fetch/decode UDF.
    """
    fmt = "yyyyMM" if monthly else "yyyyMMdd"
    wanted = dates.select(F.date_format("dt", fmt).alias("_d")).distinct()
    return manifest.join(
        F.broadcast(wanted), F.col("fname").contains(F.col("_d")), "left_semi"
    )


def filter_members_by_range(
    members: DataFrame, start: str, end: str, date_type: str = "days"
) -> DataFrame:
    """S5/F2 — temporal BETWEEN on member filenames, evaluated before decode
    (cheap-first pipelining; reference radohydro.py:294-297, :432-435)."""
    ts = filename_to_ts("fname", date_type)
    return members.filter(ts.between(F.lit(start), F.lit(end)))


def _expand_tar(payload: bytes, nested: bool) -> Iterator[tuple[str, bytes]]:
    with tarfile.open(fileobj=io.BytesIO(payload)) as tar:
        for member in tar.getmembers():
            if not member.isfile():
                continue
            blob = tar.extractfile(member).read()
            name = os.path.basename(member.name)
            if nested and (name.endswith(".tar") or name.endswith(".tar.gz")):
                yield from _expand_tar(blob, nested=False)
            else:
                yield name, blob


def expand_tars(manifest: DataFrame, nested: bool = False) -> DataFrame:
    """S4 — one-to-many tar expansion: each archive row yields one manifest
    row per member.  ``nested=True`` handles the historical monthly-tar-of-
    daily-tars layout (reference radohydro.py:291-306).  In-memory BytesIO,
    the reference's "fully streambased" approach (radohydro.py:8), but per
    executor task instead of single-threaded.
    """

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for payload in pdf["payload"]:
                names, blobs = [], []
                for name, blob in _expand_tar(bytes(payload), nested):
                    names.append(name)
                    blobs.append(blob)
                if names:
                    yield pd.DataFrame({"fname": names, "payload": blobs})

    return manifest.select("fname", "payload").mapInPandas(
        gen, schema="fname string, payload binary"
    )


def expand_zips(manifest: DataFrame) -> DataFrame:
    """ZIP expansion (r6 corpus-interchange extension, sibling of S4's
    ``expand_tars``): each archive row yields one manifest row per stored
    member — the layout most public text-corpus drops ship in.  Stdlib
    ``zipfile`` over in-memory BytesIO per executor task (stored and
    DEFLATE members both); directories are skipped.
    """
    import io
    import zipfile

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for payload in pdf["payload"]:
                names, blobs = [], []
                with zipfile.ZipFile(io.BytesIO(bytes(payload))) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        names.append(info.filename)
                        blobs.append(zf.read(info))
                if names:
                    yield pd.DataFrame({"fname": names, "payload": blobs})

    return manifest.select("fname", "payload").mapInPandas(
        gen, schema="fname string, payload binary"
    )


# ---------------------------------------------------------------------------
# Optional live DWD-FTP provider (S1/S2).  Network-dependent: the mirrored /
# local path is the tested one (SURVEY.md §7.2 step 7).

DWD_SERVER = "opendata.dwd.de"
DWD_PATHS = {
    "recent": "/climate_environment/CDC/grids_germany/hourly/radolan/recent/asc/",
    "historical": "/climate_environment/CDC/grids_germany/hourly/radolan/historical/asc/{year}/",
    "regnie": "/climate_environment/CDC/grids_germany/daily/regnie/",
}


def with_member_ts(manifest: DataFrame, date_type: str) -> DataFrame:
    """manifest(fname, payload) → (fname, ts_us, payload): each member's
    timestamp (F8) parsed ONCE on its manifest row, as epoch microseconds
    a member UDF repeats instead of re-deriving per emitted row."""
    return manifest.select(
        "fname",
        F.unix_micros(filename_to_ts("fname", date_type)).alias("ts_us"),
        "payload",
    )


class MemberCodec(NamedTuple):
    """How one raster source decodes a member: ``parse`` turns a payload
    into its 2-D grid (row 0 at the top, NaN nodata), ``errors`` are the
    failures that mean a corrupt member, ``label`` names the format in
    error messages."""

    parse: Callable[[bytes], np.ndarray]
    errors: tuple[type[Exception], ...]
    label: str


class MemberShapeError(ValueError):
    """A member grid whose shape differs from the run's grid."""


def parsed_members(
    batches: Iterator[pd.DataFrame],
    parse: Callable[[bytes], np.ndarray],
    errors: tuple[type[Exception], ...],
    label: str,
    permissive: bool,
    shape: tuple[int, int] | None = None,
) -> Iterator[tuple[object, np.ndarray]]:
    """(ts_us, grid) per decodable member of ``with_member_ts``
    batches — the one member loop of every raster UDF.

    A parse failure of a type in ``errors``, or a grid whose shape is not
    ``shape``, is re-raised as ``undecodable <label> member <fname>``, or
    with ``permissive=True`` the member is skipped (the engine form of the
    reference's warn-and-continue prints, radohydro.py:141-142).
    """
    for pdf in batches:
        for fname, ts_us, payload in zip(pdf["fname"], pdf["ts_us"], pdf["payload"]):
            try:
                data = parse(bytes(payload))
                if shape is not None and data.shape != shape:
                    raise MemberShapeError(f"grid shape {data.shape}, expected {shape}")
            except errors + (MemberShapeError,) as exc:
                if permissive:
                    print(f"skipping undecodable member {fname}: {exc}", file=sys.stderr)
                    continue
                raise ValueError(f"undecodable {label} member {fname}: {exc}") from exc
            yield ts_us, data


def repeat_ts(ts_us, n: int):
    """One member's epoch-microsecond stamp as an ``n``-row column (NULL
    when its filename carries no timestamp)."""
    if pd.isna(ts_us):
        return pd.array([None] * n, dtype="Int64")
    return np.full(n, int(ts_us), dtype="int64")


def decode_members(
    manifest: DataFrame,
    parse: Callable[[bytes], np.ndarray],
    errors: tuple[type[Exception], ...],
    label: str,
    date_type: str,
    permissive: bool = False,
) -> DataFrame:
    """manifest(fname, payload) → obs(ts, cell_row, cell_col, value): one
    long row per cell of each member raster (row 0 at the top), the
    timestamp from the member filename (F8), NaN → NULL.

    ``parse`` decodes one payload into its 2-D grid; failures follow
    :func:`parsed_members`.  The timestamp is parsed once per member on
    its manifest row and repeated as one int64 column, so no per-cell
    string or per-cell ``filename_to_ts`` is ever built.
    """

    def rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for ts_us, data in parsed_members(it, parse, errors, label, permissive):
            nrows, ncols = data.shape
            yield pd.DataFrame(
                {
                    "ts_us": repeat_ts(ts_us, nrows * ncols),
                    "cell_row": np.repeat(np.arange(nrows, dtype="int32"), ncols),
                    "cell_col": np.tile(np.arange(ncols, dtype="int32"), nrows),
                    "value": data.ravel(),
                }
            )

    decoded = with_member_ts(manifest, date_type).mapInPandas(
        rows, schema="ts_us long, cell_row int, cell_col int, value double"
    )
    return decoded.select(
        F.timestamp_micros("ts_us").alias("ts"),
        "cell_row",
        "cell_col",
        F.when(F.isnan("value"), F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )


def ftp_list(kind: str = "recent", year: int | None = None, max_retries: int = 3) -> list[str]:
    """S1 — driver-side remote directory listing (reference
    radohydro.py:181-187).  Bounded retries instead of the reference's
    infinite loop."""
    from ftplib import FTP
    import time

    path = DWD_PATHS[kind].format(year=year)
    for attempt in range(max_retries):
        try:
            ftp = FTP(DWD_SERVER, timeout=30)
            ftp.login()
            ftp.cwd(path)
            names = ftp.nlst()
            ftp.quit()
            return names
        except OSError:
            time.sleep(2**attempt)
    raise ConnectionError(f"FTP listing failed after {max_retries} attempts: {path}")


def ftp_fetch_payloads(
    manifest: DataFrame,
    kind: str = "recent",
    year: int | None = None,
    ftp_factory=None,
) -> DataFrame:
    """S2 — fetch payloads for a names-only manifest inside executor tasks
    (each task downloads its files; retries via task retries + bounded
    in-UDF loop with reconnect, reference radohydro.py:191-204).

    ``ftp_factory`` (a no-arg callable returning a connected-able FTP-like
    object) is pickled into the task closure — the injection point for
    tests and for non-DWD servers."""
    path = DWD_PATHS[kind].format(year=year)

    def connect():
        if ftp_factory is not None:
            ftp = ftp_factory()
        else:
            from ftplib import FTP

            ftp = FTP(DWD_SERVER, timeout=60)
        ftp.login()
        ftp.cwd(path)
        return ftp

    def fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ftp = connect()
        for pdf in it:
            payloads = []
            for fname in pdf["fname"]:
                buf = io.BytesIO()
                for attempt in range(3):
                    try:
                        buf = io.BytesIO()
                        ftp.retrbinary(f"RETR {fname}", buf.write)
                        break
                    except OSError:
                        ftp = connect()
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"fname": pdf["fname"], "payload": payloads})

    return manifest.select("fname").mapInPandas(fetch, schema="fname string, payload binary")
