"""``bench.SETUPS`` is the one table of setup rows, and it holds.

Every harness (``bench.run_suite``, ``bench.time_cell`` and the scaling
tools built on it, ``tools/profile_rows.py``) reads the table, so a
wrong entry mis-attributes build time everywhere at once. The static
tests pin its shape; the import test loads every tool that reads it;
the sf0.001 test runs each builder from a cleared session and checks
that its consumers then find their state already built: building a
consumer's DataFrame adds no key to ``plans.cache.MEMO``.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

import bench
from parquet_sampler_spark import queries as registry
from parquet_sampler_spark.plans import cache
from tests.conftest import SF_SMALL

TOOLS = Path(__file__).resolve().parent.parent / "tools"
TABLE_READERS = ["bench_scaling", "scale_decade2", "scale_decade3",
                 "scale_decade3_heaps", "profile_rows"]


def test_setup_table_contract():
    qs = registry.queries()
    seen: dict[str, str] = {}
    for setup, (build, consumers) in bench.SETUPS.items():
        assert setup.startswith("setup_"), setup
        assert callable(build), setup
        for row in consumers:
            assert row in qs, f"{setup}: consumer {row} not in queries()"
            assert row not in seen, (
                f"{row} consumes both {seen[row]} and {setup}")
            seen[row] = setup
    assert seen == bench.SETUP_OF
    assert bench.SESSION_WARM_ROWS <= set(bench.SETUPS)
    for setup in bench.SESSION_WARM_ROWS:
        assert bench.SETUPS[setup][1] == (), setup


@pytest.mark.parametrize("tool", TABLE_READERS)
def test_table_reader_imports(tool):
    spec = importlib.util.spec_from_file_location(
        f"tool_{tool}", TOOLS / f"{tool}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)


def test_setup_builds_the_state_its_consumers_reuse(spark):
    qs = registry.queries()
    try:
        for setup, (build, consumers) in bench.SETUPS.items():
            registry.clear_caches()
            build(spark, SF_SMALL)
            for row in consumers:
                before = set(cache.MEMO)
                qs[row](spark, SF_SMALL)  # built, not executed
                added = set(cache.MEMO) - before
                assert not added, f"{setup} leaves {row} to build {added}"
    finally:
        registry.clear_caches()
