"""Generate QUERIES.md — the per-query coverage index.

One row per ``__spark_entry__.queries()`` entry: oracle status, the Spark
entry point (function or shared-ANSI SQL), and a one-line description pulled
from the callable's docstring (or synthesized for shared-SQL closures).

    python scripts/dump_queries.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod


def describe(name: str, fn) -> tuple[str, str]:
    """(entry point, one-line description)."""
    qual = getattr(fn, "__qualname__", "")
    entry = "shared ANSI SQL" if qual.startswith("_sql.") else fn.__name__
    note = entrymod.QUERY_NOTES.get(name)
    if note:
        return entry, note
    doc = getattr(fn, "__doc__", None)
    if doc:
        return entry, " ".join(doc.strip().split("\n\n")[0].split())
    return entry, ""


def render() -> str:
    """QUERIES.md's full text, from the query registry and its docstrings."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    lines = [
        "# QUERIES — driver-verified coverage index",
        "",
        f"{len(qs)} queries; {len(set(qs) & set(oracles))} with exact DuckDB value-hash",
        "oracles (rows-only checks are approximate by nature and marked weak).",
        "Regenerate with `python scripts/dump_queries.py`.",
        "",
        "| # | query | oracle | entry point | what it verifies |",
        "|---|---|---|---|---|",
    ]
    for i, name in enumerate(sorted(qs), 1):
        entry, desc = describe(name, qs[name])
        oracle = "exact" if name in oracles else "rows-only (weak)"
        desc = desc.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {oracle} | `{entry}` | {desc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write(render())
    print(f"wrote QUERIES.md ({len(entrymod.queries())} queries)")


if __name__ == "__main__":
    main()
