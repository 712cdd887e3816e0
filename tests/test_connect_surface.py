"""Ratchet toward Spark Connect: the library may not reach into the JVM.

Spark Connect clients have no ``sparkContext``, no ``_jvm``/``_jsc``
gateway and no ``DataFrame.rdd``, and ``spark_partition_id()`` ties a
result to physical partitioning.  The walk below fails on any new use;
the allow-list names the sites that remain, by enclosing function, so a
site that goes away must also leave the list.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1] / "radohydro_spark"

BANNED = {"spark_partition_id"}
CLASSIC_ONLY = {"_jvm", "_jsc", "rdd", "sparkContext"}

ALLOWED = Counter(
    {
        # listing the band directories of a persisted LSH index
        ("operators/dedup.py", "_validate_index_geometry", "_jvm"): 1,
        ("operators/dedup.py", "_validate_index_geometry", "_jsc"): 1,
        # repartition an under-parallel scan before the bootstrap fan
        ("operators/aggregate.py", "_poisson_replicate_means", "sparkContext"): 1,
        ("operators/aggregate.py", "_poisson_replicate_means", "rdd"): 1,
        ("session.py", "get_spark", "sparkContext"): 1,
    }
)


def _sites() -> tuple[Counter, list[str]]:
    found, banned = Counter(), []

    def walk(node: ast.AST, path: str, fn: str | None) -> None:
        for ch in ast.iter_child_nodes(node):
            inner = ch.name if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            name = (
                ch.attr
                if isinstance(ch, ast.Attribute)
                else ch.id
                if isinstance(ch, ast.Name)
                else ch.value
                if isinstance(ch, ast.Constant) and isinstance(ch.value, str)
                else None
            )
            if name in BANNED:
                banned.append(f"{path}:{ch.lineno}")
            elif isinstance(ch, ast.Attribute) and name in CLASSIC_ONLY:
                found[(path, fn, name)] += 1
            walk(ch, path, inner)

    for p in sorted(ROOT.rglob("*.py")):
        walk(ast.parse(p.read_text()), p.relative_to(ROOT).as_posix(), None)
    return found, banned


def test_no_spark_partition_id_in_library():
    _, banned = _sites()
    assert banned == []


def test_classic_only_reaches_stay_on_the_allow_list():
    found, _ = _sites()
    assert found - ALLOWED == Counter(), "new classic-only reach"
    assert ALLOWED - found == Counter(), "site removed: drop it from ALLOWED"
