"""Registry-wide driver-contract lint (r14, VERDICT r13 #2).

The driver's correctness harness canonicalizes each query's output in
pandas: it sorts the rows and factorizes every column, which requires
HASHABLE (scalar) cells. A registered query returning an array / map /
struct column is therefore driver-RED even when its values are
perfectly correct — exactly how r13's ``embedding_admit`` (raw
``array<float>`` output) became the round's one red row while being
hash-green in the local gate (whose canonicalizer happens to stringify
lists). The repo convention since r2 is to EXPLODE such columns to
scalar long-form rows (``_q_multimodal_features``) or emit a scalar
fingerprint.

This test makes the failure class unshippable: it walks every
``queries()`` entry at sf0.001 and asserts the output schema is
scalar-only. It builds each DataFrame (running whatever eager work the
callable does — model fits, stream drains) but never collects, so it
is strictly cheaper than the local oracle sweep that already runs
every entry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from tests.conftest import SF_MED

SF_SMALL = "/root/testdata/sf0.001"

_NON_SCALAR = (T.ArrayType, T.MapType, T.StructType)


def test_all_registered_query_outputs_are_scalar(spark):
    import __spark_entry__ as e
    from parquet_sampler_spark.queries import clear_caches

    bad: list[str] = []
    errors: list[str] = []
    try:
        for name, fn in e.queries().items():
            try:
                df = fn(spark, SF_SMALL)
            except Exception as ex:  # pragma: no cover - sweep covers
                errors.append(f"{name}: {type(ex).__name__}: {ex}")
                continue
            for f in df.schema.fields:
                if isinstance(f.dataType, _NON_SCALAR):
                    bad.append(
                        f"{name}.{f.name}: {f.dataType.simpleString()}"
                    )
    finally:
        clear_caches()
    assert not errors, "queries failed to build: " + "; ".join(errors)
    assert not bad, (
        "non-scalar output columns violate the driver canonicalizer "
        "contract (explode to long-form scalar rows or emit a "
        "fingerprint): " + "; ".join(bad)
    )


def test_clear_caches_drops_coreset_oracle_sql(monkeypatch):
    """The ivf_coreset oracle SQL inlines centroids fitted to the data
    in its sf_dir; ``clear_caches()`` must drop it like the other
    data-fitted oracle caches, or a regenerated directory is checked
    against stale literals."""
    from parquet_sampler_spark import queries_ext
    from parquet_sampler_spark.plans.cache import MEMO
    from parquet_sampler_spark.queries import clear_caches

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_SMALL)
    sql = queries_ext._sql_ivf_coreset()
    assert MEMO[("coreset_sql", SF_SMALL)] == sql
    clear_caches()
    assert ("coreset_sql", SF_SMALL) not in MEMO


# ---------------------------------------------------------------------------
# One @row(name, oracle) declaration per registry row
# ---------------------------------------------------------------------------

# the oracles whose SQL inlines literals fitted to embeddings.parquet:
# the only ones that degrade to rows-only when that file is missing
_FITTED = {
    "ann_ivf", "ann_pq", "ann_ivfpq", "ann_ivfpq_residual",
    "ann_ivfpq_residual8", "ann_ivf_hier", "ann_ivf_sized",
    "ivf_coreset", "semantic_dedup",
}


def test_row_rejects_a_second_declaration_of_a_name():
    from parquet_sampler_spark import queries as R

    declared = R.queries()["sample_lineitem"]
    with pytest.raises(ValueError, match="sample_lineitem"):
        R.row("sample_lineitem", lambda: "SELECT 1")
    assert R.queries()["sample_lineitem"] is declared


def test_every_row_has_exactly_one_oracle(monkeypatch):
    from parquet_sampler_spark.queries import (
        clear_caches,
        oracle_sql,
        queries,
    )

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_MED)
    try:
        qs, sql = queries(), oracle_sql()
    finally:
        clear_caches()
    assert set(qs) == set(sql)
    assert len(qs) == 203
    assert all(isinstance(s, str) and s.strip() for s in sql.values())


def test_queries_builds_no_oracle(monkeypatch):
    from parquet_sampler_spark.plans.cache import MEMO
    from parquet_sampler_spark.queries import clear_caches, queries

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_MED)
    clear_caches()
    queries()
    assert not MEMO, sorted(map(str, MEMO))


def test_fitted_oracles_degrade_without_their_data(monkeypatch, tmp_path):
    from parquet_sampler_spark.queries import (
        clear_caches,
        oracle_sql,
        queries,
    )

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", str(tmp_path))
    try:
        qs = queries()
        sql = oracle_sql()
    finally:
        clear_caches()
    assert len(qs) == 203
    assert set(qs) - set(sql) == _FITTED
    assert len(sql) == 194


def test_other_oracle_failures_still_raise(monkeypatch):
    from parquet_sampler_spark import queries as R

    declared = R.rows()["sample_lineitem"]
    monkeypatch.setitem(R._ROWS, "sample_lineitem",
                        declared._replace(oracle=lambda: 1 // 0))
    with pytest.raises(ZeroDivisionError):
        R.oracle_sql()


def test_row_rejects_a_bare_string_plan():
    from parquet_sampler_spark import queries as R

    with pytest.raises(TypeError, match="plan"):
        R.row("one_string_plan", lambda: "SELECT 1", plan="LeftSemi")
    assert "one_string_plan" not in R.rows()


def test_plan_fragments_are_nonempty_strings():
    from parquet_sampler_spark.queries import rows

    plans = {n: r.plan for n, r in rows().items() if r.plan}
    assert len(plans) == 65
    for name, plan in plans.items():
        for frag in plan:
            assert isinstance(frag, str) and frag.removeprefix("!"), (
                name, frag)


def test_full_eval_rows():
    from parquet_sampler_spark.queries import rows

    assert {n for n, r in rows().items() if r.full_eval} == {
        "decontaminate_scrub", "dup_triangles"}
