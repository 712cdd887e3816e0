"""One soak harness: every soak and A/B script measures through
``scripts/soak.py``, which reads stage totals only via
``perfbench/tracing.py``.

The walk below fails on a script that reads the status REST API itself
(a ``_stage_totals`` definition, ``uiWebUrl`` or ``/api/v1``), on a
fixed checkout path (scripts derive the repo root from ``__file__``),
on a script named after a development round rather than what it
measures, on a reproduction command in SOAK.md or README.md that names
a missing script, and on a script that does not compile.  No Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))
ROUND_NAME = re.compile(r"(^|_)r\d+[a-z]?(_|\.py$)")
SCRIPT_REF = re.compile(r"scripts/(\w+\.py)")
# the checkout path the scripts once pinned; a copy of the repo elsewhere
# must not import or overwrite that checkout either
PINNED_CHECKOUT = "/root/repo"


def test_scripts_exist():
    assert len(SCRIPTS) > 10


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_measures_through_the_harness(path):
    src = path.read_text()
    tree = ast.parse(src, filename=str(path))  # also: every script compiles
    compile(tree, str(path), "exec")
    defined = {n.name for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
    assert "_stage_totals" not in defined, "stage totals come from perfbench.tracing via scripts/soak.py"
    for needle in ("uiWebUrl", "/api/v1"):
        assert needle not in src, f"{needle}: read stage totals through scripts/soak.py"
    for checkout in (PINNED_CHECKOUT, str(REPO)):
        assert checkout not in src, "derive the repo root from __file__"


def test_no_script_is_named_after_a_round():
    assert [p.name for p in SCRIPTS if ROUND_NAME.search(p.name)] == []


@pytest.mark.parametrize("doc", ["SOAK.md", "README.md"])
def test_documented_scripts_exist(doc):
    names = set(SCRIPT_REF.findall((REPO / doc).read_text()))
    assert names, f"{doc} names no script"
    assert sorted(n for n in names if not (REPO / "scripts" / n).is_file()) == []
