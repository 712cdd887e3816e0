"""Dump formatted physical plans of the BENCH headline queries, one file
per query, to plans/<round>/<query>_<tag>.txt.

Usage: SPARK_GRAFT_PLAN_ROUND=r17 python scripts/dump_bench_plans.py <tag> [sf_dir] [query ...]

<tag> is e.g. "before" / "after".  Defaults to every query in
bench.HEADLINE at /root/testdata/sf0.1.  Streaming queries (whose wall is
the micro-batch runtime, not one batch plan) dump the logical plan of the
source-side transformation where a batch plan is unavailable.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE  # noqa: E402
from radohydro_spark import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    rest = sys.argv[2:]
    sf_dir = rest[0] if rest and "/" in rest[0] else "/root/testdata/sf0.1"
    only = [a for a in rest if "/" not in a]
    names = only or HEADLINE

    outdir = os.path.join(
        os.path.join(ROOT, "plans"), os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r17")
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_bench_plans")
    qs = entrymod.queries()
    from radohydro_spark.plans.pipeline import release_persisted

    for name in names:
        buf = io.StringIO()
        try:
            df = qs[name](spark, sf_dir)
            with redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # noqa: BLE001
            buf.write(f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n")
        finally:
            release_persisted()
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
