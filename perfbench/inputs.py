"""Seeded benchmark inputs, generated before set-up and cached per seed.

Nothing here imports pyspark: inputs are written with NumPy / pyarrow
so their cost never lands in ``setup_s``.  Every cached input directory
carries a ``sha256sums.json``; a directory whose files do not match it is
regenerated, so a half-written or edited cache is never measured.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

SUMS = "sha256sums.json"

# Grid placement and value law are those of radohydro_spark's
# RADOLAN_SCALE grid and its DuckDB oracle (sources/synthetic.py), so the
# oracle's closed form describes the mirror exactly.
X0, Y0, CELL = -523458.0, -4658645.0, 1000.0
START, END = "2024-01-01 00:00:00", "2024-01-01 23:59:00"


@dataclass(frozen=True)
class RadolanSize:
    n_cells: int  # square grid edge, in 1 km cells
    n_ts: int  # hourly rasters
    n_basins: int


@dataclass(frozen=True)
class LibrarySize:
    orders: int
    lineitem: int
    documents: int
    events: int


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _verified(d: str) -> bool:
    try:
        with open(os.path.join(d, SUMS)) as f:
            sums = json.load(f)
    except (OSError, ValueError):
        return False
    data = os.path.join(d, "data")
    return bool(sums) and sorted(os.listdir(data)) == sorted(sums) and all(
        _sha256(os.path.join(data, n)) == s for n, s in sums.items()
    )


def _cached(d: str, write) -> str:
    """Return ``d/data`` holding verified inputs, (re)writing them if
    needed.  The checksums sit beside ``data``, not in it, so a reader of
    the whole directory (the mirror's binaryFile source) never sees them."""
    if _verified(d):
        os.utime(d)  # most recently used, for prune_cache
        return os.path.join(d, "data")
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "data")
    os.makedirs(data)
    write(data)
    sums = {n: _sha256(os.path.join(data, n)) for n in sorted(os.listdir(data))}
    with open(os.path.join(tmp, SUMS), "w") as f:
        json.dump(sums, f, indent=0, sort_keys=True)
    os.rename(tmp, d)
    return os.path.join(d, "data")


def prune_cache(root: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used per-seed directories."""
    if not os.path.isdir(root):
        return
    dirs = sorted(
        (os.path.join(root, n) for n in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# radolan_day: an hourly ESRI-ASCII mirror (seed-independent) + seeded basins


def radolan_mirror(root: str, size: RadolanSize) -> str:
    """Hourly rasters of the oracle's value law; row 0 of a file is north."""
    n, n_ts = size.n_cells, size.n_ts

    def write(d: str) -> None:
        header = (
            f"ncols {n}\nnrows {n}\nxllcorner {X0}\nyllcorner {Y0}\n"
            f"cellsize {CELL}\nnodata_value -1\n"
        )
        r = np.arange(n)[:, None]
        c = np.arange(n)[None, :]
        for h in range(n_ts):
            vals = (r * 31 + c * 17 + h * 13) % 120
            nodata = ((r * 13 + c * 7) % 5 == 0) & ((h + r + c) % 8 == 0)
            grid = np.where(nodata, -1, vals).astype(np.int32)
            # the member name's leading digits are its yyyyMMddHHmm stamp
            with open(os.path.join(d, f"radolan_20240101{h:02d}00.asc"), "w") as f:
                f.write(header)
                np.savetxt(f, grid[::-1], fmt="%d")

    return _cached(os.path.join(root, f"mirror_{n}x{n}x{n_ts}"), write)


def radolan_rects(seed: int, size: RadolanSize) -> list[tuple[int, float, float, float, float]]:
    """Basin rectangles as offsets from the grid origin: the side lengths
    follow ``radolan_scale_rects`` (5-60 km, 500 m wider than tall); the
    positions are drawn from ``seed`` on a 1 m lattice, so edges fall
    inside cells and every basin has fractional fragments."""
    rng = np.random.default_rng(seed)
    extent = size.n_cells * CELL
    rects = []
    for i in range(size.n_basins):
        side = min(5000.0 + (i * 2901.0) % 55000.0, extent / 2)
        left = float(rng.integers(2000, int(extent - side - 2500)))
        bottom = float(rng.integers(2000, int(extent - side - 2000)))
        rects.append((i + 1, left, bottom, left + side + 500.0, bottom + side))
    return rects


# ---------------------------------------------------------------------------
# library_mix: seeded row subsamples of the committed pool of real tables

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool")
LIBRARY_TABLES = ("orders", "lineitem", "documents", "events")
# the dedup queries plant duplicates by copying the documents with
# doc_id < 20, so every subsample keeps those rows
KEEP_DOCS = 20


def _draw(table, rows: int, keep: int, rng: np.random.Generator):
    """``rows`` rows of ``table`` in their original order: every row whose
    first column is below ``keep``, the rest drawn without replacement."""
    first = table.column(0).to_numpy()
    kept = np.flatnonzero(first < keep)
    rest = np.flatnonzero(first >= keep)
    drawn = rng.choice(rest, rows - len(kept), replace=False)
    return table.take(np.sort(np.concatenate([kept, drawn])))


def library_tables(root: str, seed: int, size: LibrarySize) -> str:
    import pyarrow.parquet as pq

    if not _verified(POOL):
        raise ValueError(f"table pool {POOL} does not match its sha256sums.json")

    def write(d: str) -> None:
        rng = np.random.default_rng(seed)
        for name in LIBRARY_TABLES:
            table = pq.read_table(os.path.join(POOL, "data", f"{name}.parquet"))
            keep = KEEP_DOCS if name == "documents" else 0
            pq.write_table(
                _draw(table, getattr(size, name), keep, rng),
                os.path.join(d, f"{name}.parquet"),
            )

    return _cached(os.path.join(root, f"seed_{seed}"), write)


SIZES = {
    "radolan_day": {
        "full": RadolanSize(n_cells=200, n_ts=24, n_basins=20),
        "smoke": RadolanSize(n_cells=40, n_ts=2, n_basins=5),
    },
    "library_mix": {
        "full": LibrarySize(orders=15000, lineitem=60000, documents=500, events=10000),
        "smoke": LibrarySize(orders=1500, lineitem=6000, documents=50, events=1000),
    },
}


def prepare(workload: str, seed: int, smoke: bool, root: str) -> dict:
    """Generate (or verify the cache of) one workload's inputs; returns
    the JSON-able description the worker process reads."""
    size = SIZES[workload]["smoke" if smoke else "full"]
    if workload == "radolan_day":
        return {
            "mirror": radolan_mirror(os.path.join(root, "radolan"), size),
            "size": size.__dict__,
            "rects": radolan_rects(seed, size),
        }
    seeds_root = os.path.join(root, "library_smoke" if smoke else "library")
    tables = library_tables(seeds_root, seed, size)
    prune_cache(seeds_root, keep=4)
    return {"tables": tables}


def ts_stamp(h: int) -> str:
    """The per-basin CSV / wide-column time stamp (yyMMddHHmm) of hour h."""
    t = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
    return t.strftime("%y%m%d%H%M")
