"""Driver-contract guards for __spark_entry__.

The driver's correctness gate runs every queries() entry against its
oracle_sql() twin.  These tests catch contract drift cheaply:

* every oracle key refers to a declared query (a dangling oracle would
  make the driver fail the whole gate, not just one query);
* every shared-ANSI TPC-H statement parses and plans through Catalyst
  (explain-only — execution is the oracle harness's job).
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def test_every_oracle_has_a_query():
    qs, oracles = entry.queries(), entry.oracle_sql()
    dangling = set(oracles) - set(qs)
    assert not dangling, f"oracles without queries: {sorted(dangling)}"


def test_query_names_are_unique_and_nonempty():
    qs = entry.queries()
    assert len(qs) >= 78
    assert all(n and n == n.strip() for n in qs)


TPCH_SQL = sorted(n for n in dir(entry) if n.startswith("SQL_Q"))


@pytest.mark.parametrize("const", TPCH_SQL)
def test_tpch_sql_plans_through_catalyst(spark, const):
    entry._register(spark, SF_DIR)
    df = spark.sql(getattr(entry, const))
    # planning only: resolves columns/tables and runs the optimizer
    df.explain(mode="cost")


def test_query_notes_reference_real_queries():
    """QUERY_NOTES (the QUERIES.md index source) must not drift: every key
    names a declared query, and every query has either a note or a
    docstring to describe it."""
    qs = entry.queries()
    dangling = set(entry.QUERY_NOTES) - set(qs)
    assert not dangling, f"notes for unknown queries: {sorted(dangling)}"
    undescribed = [
        n
        for n, fn in qs.items()
        if n not in entry.QUERY_NOTES and not getattr(fn, "__doc__", None)
    ]
    assert not undescribed, f"queries with no description: {undescribed}"


def test_queries_md_is_rendered_from_the_registry():
    """QUERIES.md is generated, never hand-edited: it must equal what
    ``scripts/dump_queries.py`` renders from queries() and the query
    docstrings today.  No Spark."""
    import importlib.util
    from pathlib import Path

    repo = Path(entry.__file__).resolve().parent
    spec = importlib.util.spec_from_file_location(
        "dump_queries", repo / "scripts" / "dump_queries.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert (repo / "QUERIES.md").read_text() == mod.render(), (
        "QUERIES.md is stale: run python scripts/dump_queries.py"
    )
