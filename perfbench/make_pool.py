"""Write the committed ``library_mix`` table pool from the project's test data.

    python3 perfbench/make_pool.py <testdata>/sf0.1

The pool is a fixed row subsample of the sf0.1 tables the ``library_mix``
queries read: ``POOL_ROWS`` rows of each table, drawn with ``POOL_SEED``
and kept in their original order.  Documents with ``doc_id < KEEP_DOCS``
are always in it, because the dedup queries copy exactly those rows to
plant duplicates.  The benchmark then draws each seed's tables from this
pool (``inputs.library_tables``), so it reads real value distributions
without needing the test data at run time.  The files land in
``perfbench/pool/data`` with their SHA-256 sums in
``perfbench/pool/sha256sums.json``; ``inputs.py`` refuses a pool that
does not match them.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import KEEP_DOCS, POOL, _cached, _draw  # noqa: E402

POOL_SEED = 20240101
# twice the per-seed sizes of inputs.SIZES["library_mix"]["full"], so two
# seeds share about half their rows
POOL_ROWS = {"orders": 30000, "lineitem": 120000, "documents": 1000, "events": 20000}


def main() -> int:
    import pyarrow.parquet as pq

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("src", help="directory holding the sf0.1 parquet tables")
    a = ap.parse_args()
    rng = np.random.default_rng(POOL_SEED)

    def write(d: str) -> None:
        for name, rows in POOL_ROWS.items():
            table = pq.read_table(os.path.join(a.src, f"{name}.parquet"))
            keep = KEEP_DOCS if name == "documents" else 0
            pq.write_table(
                _draw(table, rows, keep, rng),
                os.path.join(d, f"{name}.parquet"),
                compression="zstd",
            )

    shutil.rmtree(POOL, ignore_errors=True)
    print(_cached(POOL, write))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
