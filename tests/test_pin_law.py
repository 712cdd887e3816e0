"""One way to pin: every cached or persisted intermediate goes through
``session.pin``, so ``release_persisted()`` reaches all of them.

The walk below fails on a ``.cache()``/``.persist(...)`` call in the
library or the driver contract that is not the direct argument of
``pin(...)``, and on any use of the registry's private name outside
``session.py``.  The release test guards the cold accounting that the
bench and perfbench rely on: after ``release_persisted()`` no cached
relation may be left.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
LIBRARY = sorted((REPO / "radohydro_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
SCRIPTS = sorted((REPO / "scripts").rglob("*.py"))
REGISTRY = REPO / "radohydro_spark" / "session.py"


def _rel(p: Path) -> str:
    return p.relative_to(REPO).as_posix()


def _names(tree: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name)
    return out


def _unpinned_storage_calls(tree: ast.AST, path: str) -> tuple[int, list[str]]:
    pinned = {
        id(arg)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "pin"
        for arg in n.args
    }
    n_calls, bad = 0, []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("cache", "persist")
        ):
            n_calls += 1
            if id(n) not in pinned:
                bad.append(f"{path}:{n.lineno}")
    return n_calls, bad


def test_registry_name_lives_only_in_session():
    users = [
        _rel(p)
        for p in LIBRARY + SCRIPTS
        if p != REGISTRY and "_PERSISTED" in _names(ast.parse(p.read_text()))
    ]
    assert users == []


def test_every_cache_and_persist_is_pinned():
    total, bad = 0, []
    for p in LIBRARY:
        n, b = _unpinned_storage_calls(ast.parse(p.read_text()), _rel(p))
        total += n
        bad += b
    assert total > 0, "walk found no storage call at all"
    assert bad == [], "cache()/persist() not wrapped in pin(...)"


def test_release_persisted_empties_the_cache_manager(spark):
    from radohydro_spark.operators.dedup import ngram_jaccard_pairs
    from radohydro_spark.plans.pipeline import precip_timeseries, release_persisted
    from radohydro_spark.sources.synthetic import (
        synthetic_basins,
        synthetic_cells,
        synthetic_obs,
    )

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    release_persisted()
    assert cache_manager.isEmpty()

    precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    ).collect()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "an entirely different sentence about rain"),
        ],
        "doc_id long, text string",
    )
    assert ngram_jaccard_pairs(docs, "text", "doc_id").filter(
        F.col("id_a") == 1
    ).count() == 1
    assert not cache_manager.isEmpty()

    release_persisted()
    assert cache_manager.isEmpty()
