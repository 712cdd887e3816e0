"""Local stand-in for the driver's correctness gate.

Runs every entry in ``__spark_entry__.queries()`` at sf0.01, runs the
matching ``oracle_sql()`` through DuckDB over the same parquet tables, and
compares row count, column-name set, and (column-name-sorted, row-sorted)
values. Floats compare with rel tol 1e-9; everything else exact.

With ``--strict``, floats are NOT rounded and compare by exact repr —
mirroring the driver's exact value-hash, which the default tolerant mode
cannot emulate (it masked the r5 ``orders_snapshot_diff`` one-cent
divergence).  Run the driver window through --strict before each round.

Strict mode also fetches the oracle via ``.arrow()`` (the driver's path)
instead of ``fetchall()``: duckdb's fetchall converts HUGEINT to Python
int, which masked the r6 triple-red (``SUM(BIGINT)`` → HUGEINT →
Arrow decimal128, hashing differently from Spark's int64).  Any decimal
column in the oracle's Arrow schema is a hard FAIL — cast it away in the
SQL (``CAST(SUM(x) AS BIGINT)`` / ``CAST(lit AS DOUBLE)``).

Usage: python scripts/check_correctness.py [--strict] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

STRICT = "--strict" in sys.argv

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from radohydro_spark import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if STRICT:
            # exact: -0.0 == 0.0 canonicalised, everything else bit-exact
            return repr(v + 0.0)
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):  # datetime/date -> string so tz-naive == tz-aware UTC
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, bool):
        return int(v)
    try:  # Decimal and friends
        import decimal

        if isinstance(v, decimal.Decimal):
            if STRICT:
                return repr(float(v) + 0.0)
            return round(float(v), 9)
    except Exception:
        pass
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def values_match(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                try:
                    if not math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=1e-9):
                        return False
                except (TypeError, ValueError):
                    return False
            elif x != y:
                return False
    return True


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    only = [a for a in argv if "/" not in a]
    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    from radohydro_spark.plans.pipeline import release_persisted

    for name in sorted(qs):
        if only and name not in only:
            continue
        # per-query isolation: drop pool-registered caches (semdedup,
        # triangle_count, build_lsh_index) so no query greens only
        # because an earlier one left its frames cached — the driver
        # evaluates each query in its own right
        release_persisted()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            if STRICT:
                # driver contract: its canonicalizer sorts rows in pandas and
                # crashes on unhashable list cells (r7/r8 text_inverted_index
                # err) — the tuple-ization in norm_cell would false-green it
                # here. Hard-fail array/map outputs like we hard-fail decimals.
                bad_cols = [
                    f"{f.name}:{f.dataType.simpleString()}"
                    for f in sdf.schema.fields
                    if f.dataType.typeName() in ("array", "map")
                ]
                if bad_cols:
                    print(
                        f"FAIL  {name}: query emits array/map columns "
                        f"{bad_cols} — the driver canonicalizer cannot hash "
                        f"list cells; array_join to a string on both engines"
                    )
                    failures.append(name)
                    continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle)")
            continue
        try:
            if STRICT:
                tbl = con.execute(oracles[name]).arrow()
                bad_types = [
                    f"{f.name}:{f.type}"
                    for f in tbl.schema
                    if "decimal" in str(f.type) or "list" in str(f.type)
                ]
                if bad_types:
                    print(
                        f"FAIL  {name}: oracle emits Arrow decimal/list columns "
                        f"{bad_types} — cast to BIGINT/DOUBLE or "
                        f"array_to_string in the SQL (driver hashes via Arrow; "
                        f"decimal128 != int64/float64, list cells unhashable)"
                    )
                    failures.append(name)
                    continue
                ocols = tbl.schema.names
                orows = [tuple(d.values()) for d in tbl.to_pylist()]
            else:
                cur = con.execute(oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            failures.append(name)
            continue
        sc, sv = canon(scols, srows)
        oc, ov = canon(ocols, orows)
        if sc != oc:
            print(f"FAIL  {name}: columns spark={sc} oracle={oc}")
            failures.append(name)
        elif len(sv) != len(ov):
            print(f"FAIL  {name}: rowcount spark={len(sv)} oracle={len(ov)}")
            failures.append(name)
        elif not values_match(sv, ov):
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if not values_match([a], [b])
            )
            print(f"FAIL  {name}: values differ at sorted-row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(sv)}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
