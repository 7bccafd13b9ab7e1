"""Every third-party module the package imports is declared in
``pyproject.toml``'s ``[project].dependencies``, so a fresh install
can import it."""

from __future__ import annotations

import ast
import re
import sys
import tomllib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "etl_finance_pipeline_spark"

#: import name -> the distribution that provides it, where they differ
DISTRIBUTION = {"yaml": "pyyaml", "py4j": "pyspark"}


@pytest.fixture(autouse=True, scope="module")
def _release_unreferenced_rdds():
    """Overrides conftest's fixture of that name: this module starts no
    Spark session, so it has no persisted RDDs to release."""
    yield


def _top_level_imports(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.add(node.module.split(".")[0])
    return names


def test_third_party_imports_are_declared():
    project = tomllib.loads((ROOT / "pyproject.toml").read_text())["project"]
    declared = {re.split(r"[\s<>=!~;\[]", d, maxsplit=1)[0].lower() for d in project["dependencies"]}
    imported = set().union(*(_top_level_imports(p) for p in (ROOT / PACKAGE).rglob("*.py")))
    third_party = imported - set(sys.stdlib_module_names) - {PACKAGE}
    undeclared = sorted(m for m in third_party if DISTRIBUTION.get(m, m) not in declared)
    assert undeclared == []
