"""Every registry row keeps the plan shape its declaration promises.

A row lists, on its ``@row(..., plan=...)`` line, fragments that its
executed physical plan must contain (``"BroadcastHashJoin"``) or, with
a leading ``!``, must not contain (``"!SortMergeJoin"``): broadcast
semi-joins, pushed filters, pruned columns, top-k heaps instead of a
global sort. One case per row builds the row at sf0.01 (running the
eager work its callable does) and reads the executed plan; nothing is
collected. The module starts from cleared session caches and leaves
none behind.
"""

from __future__ import annotations

import pytest

from parquet_sampler_spark import queries as registry
from tests.conftest import SF_MED

CONTRACTS = {n: r.plan for n, r in registry.rows().items() if r.plan}


@pytest.fixture(scope="module", autouse=True)
def _cleared_caches(spark):
    registry.clear_caches()
    yield
    registry.clear_caches()


def _broken(fragment: str, plan: str) -> bool:
    if fragment.startswith("!"):
        return fragment[1:] in plan
    return fragment not in plan


@pytest.mark.parametrize("name", list(CONTRACTS))
def test_plan_contracts(spark, name):
    df = registry.rows()[name].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    broken = [f for f in CONTRACTS[name] if _broken(f, plan)]
    assert not broken, f"{name} breaks {broken} in its executed plan:\n{plan}"
