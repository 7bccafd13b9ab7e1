"""The query registry behind the driver contract (``__spark_entry__``):
every registered plan carries its DuckDB oracle, the three plan
modules' tables do not shadow one another, and the showcase order the
driver records is well formed. Reads the registry only."""

from __future__ import annotations

import ast
import inspect
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_finance_pipeline_spark.plans import queries as queries_mod  # noqa: E402
from etl_finance_pipeline_spark.plans.analytics import REGISTRY_AN  # noqa: E402
from etl_finance_pipeline_spark.plans.training_data import REGISTRY_TD  # noqa: E402

#: registered queries; moves with every query added or removed
N_QUERIES = 341

#: leading entries of queries() that the driver's capped correctness
#: artifact (CORRECTNESS_r*.json) records
N_RECORDED = 50


@pytest.fixture(autouse=True, scope="module")
def _release_unreferenced_rdds():
    """Overrides conftest's fixture of that name: this module starts no
    Spark session, so it has no persisted RDDs to release."""
    yield


def _own_names() -> list[str]:
    """The names queries.py writes into ``REGISTRY`` itself, ahead of
    its ``**`` merges of the other modules' tables."""
    tree = ast.parse(inspect.getsource(queries_mod))
    for node in tree.body:
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", None) == "REGISTRY":
            return [k.value for k in node.value.keys if k is not None]
    raise AssertionError("no REGISTRY table in plans/queries.py")


def test_every_query_has_an_oracle():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert len(qs) == N_QUERIES
    assert list(qs) == list(oracles)
    assert all(callable(fn) for fn in qs.values())
    empty = [name for name, sql in oracles.items() if not isinstance(sql, str) or not sql.strip()]
    assert empty == []


def test_module_tables_are_disjoint():
    # a later ** merge would silently replace an earlier entry of the same name
    own = _own_names()
    assert set(own).isdisjoint(REGISTRY_TD)
    assert set(own).isdisjoint(REGISTRY_AN)
    assert set(REGISTRY_TD).isdisjoint(REGISTRY_AN)
    assert len(own) + len(REGISTRY_TD) + len(REGISTRY_AN) == len(entrymod.queries())


def test_showcase_names_are_distinct_and_registered():
    showcase = entrymod._SHOWCASE_FIRST
    repeated = sorted({n for n in showcase if showcase.count(n) > 1})
    assert repeated == []
    assert set(showcase) - set(entrymod.queries()) == set()


def test_driver_records_the_showcase_head():
    head = list(entrymod.queries())[:N_RECORDED]
    assert head == list(entrymod._SHOWCASE_FIRST[:N_RECORDED])
