"""Session state lives in ``plans.cache`` only, and one call drains it.

``queries.clear_caches()`` is ``plans.cache.clear()`` plus the tmp-root
cleanup. The drain test fills one memo entry of every kind, clears, and
checks nothing survives: no memo entry, no registered plan, no persisted
RDD, no session tmp root. The guard test keeps new module-level caches
from growing back beside the memo.
"""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

PKG = Path(__file__).resolve().parent.parent / "parquet_sampler_spark"

# module-level containers that are not session caches (the registry
# declarations are filled once at import)
_ALLOWED = {("queries.py", "_TMP_ROOTS"), ("queries.py", "_ROWS")}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Call) and not node.keywords:
        name = getattr(node.func, "id", getattr(node.func, "attr", None))
        if name in ("dict", "list", "set", "OrderedDict"):
            return not node.args
        return name == "defaultdict"
    return False


def _module_statements(body):
    """Statements at module scope, descending into if/try/with blocks
    but not into functions or classes."""
    for stmt in body:
        yield stmt
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            continue
        for field in ("body", "orelse", "finalbody", "handlers"):
            yield from _module_statements(getattr(stmt, field, []))


def test_no_module_level_cache_outside_plans_cache():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "plans/cache.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in _module_statements(tree.body):
            if isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            elif isinstance(stmt, ast.AnnAssign):
                targets, value = [stmt.target], stmt.value
            else:
                continue
            if not _is_empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if (rel, name) not in _ALLOWED:
                    found.append(f"{rel}:{stmt.lineno} {name}")
    assert not found, (
        "module-level caches outside plans/cache.py (key an entry in "
        "plans.cache.MEMO instead): " + ", ".join(found)
    )


def test_clear_caches_drains_every_kind(spark, monkeypatch):
    from parquet_sampler_spark import queries, queries_ext, queries_olap
    from parquet_sampler_spark.operators import sample, similarity
    from parquet_sampler_spark.plans import cache

    jsc = spark.sparkContext._jsc
    app = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"psx_{app}")
    monkeypatch.delenv("PSX_EXACT_PAIR_GRAPH", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_SMALL)
    # start from a clean session: earlier tests in this process may
    # hold persists of their own
    queries.clear_caches()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)

    # dataframe entries
    assert queries.lineitem_sample(spark, SF_SMALL).count() > 0
    queries_ext._jaccard_pairs_cached(spark, SF_SMALL).count()
    queries_ext._dup_graph_cached(spark, SF_SMALL).count()
    queries_olap._q_merge_upsert(spark, SF_SMALL).count()
    # value entries: a fitted IVF model and its oracle SQL, BPE merges,
    # a vector width
    queries_ext._q_ann_ivf(spark, SF_SMALL)
    queries_ext._sql_ann_ivf()
    queries_ext._bpe_merges_cached(spark, SF_SMALL)
    similarity._vec_dim(
        queries.table(spark, SF_SMALL, "embeddings"), "embedding")
    # path and catalog entries
    n_zorder = queries_ext._q_zorder_scan(spark, SF_SMALL).count()
    queries_ext._q_compaction_scan(spark, SF_SMALL)
    n_dpp = queries_ext._q_dpp_scan(spark, SF_SMALL).count()
    queries_ext._q_bucketed_join(spark, SF_SMALL)
    # the sampler's prefiltered candidate set (>= 200k input rows)
    hits = sample.PREFILTER_STATS["hit"]
    big = spark.range(250_000).withColumnRenamed("id", "k")
    assert sample.sample_exact(big, 0.01, key_cols=["k"]).count() == 2500
    assert sample.PREFILTER_STATS["hit"] == hits + 1

    kinds = {k[0] for k in cache.MEMO if isinstance(k[0], str)}
    assert {
        "sample", "pairs", "merge", "ivf_sql", "bpe_merges", "vec_dim",
        "zorder", "compact", "dpp", "bucketed",
    } <= kinds
    assert any(isinstance(k[0], tuple) and k[0][0] == "ivf_model"
               for k in cache.MEMO)
    assert ("pairs", app, SF_SMALL, "lsh") in cache.MEMO
    assert cache._PERSISTED
    assert jsc.getPersistentRDDs().size() > 0
    assert os.path.isdir(root)

    queries.clear_caches()
    assert cache.MEMO == {}
    assert cache._PERSISTED == []
    assert jsc.getPersistentRDDs().size() == 0
    assert not os.path.exists(root)

    # the trees are rebuilt from scratch after the clear
    assert queries_ext._q_zorder_scan(spark, SF_SMALL).count() == n_zorder
    assert queries_ext._q_dpp_scan(spark, SF_SMALL).count() == n_dpp
    for kind in ("zorder", "dpp"):
        (path,) = [v for k, v in cache.MEMO.items() if k[0] == kind]
        assert os.path.isdir(path)
    queries.clear_caches()


def test_prefilter_candidates_register_in_plan_lru(spark):
    """The sampler keeps its prefilter candidate set alive through the
    plan LRU, deduped by plan: repeating a sample adds no entry."""
    from parquet_sampler_spark.operators.sample import sample_exact
    from parquet_sampler_spark.plans import cache
    from parquet_sampler_spark.queries import clear_caches

    clear_caches()
    big = spark.range(250_000).select(F.col("id").alias("k"))
    first = sample_exact(big, 0.01, key_cols=["k"])
    assert len(cache._PERSISTED) == 1
    again = sample_exact(big, 0.01, key_cols=["k"])
    assert len(cache._PERSISTED) == 1
    assert sorted(first.collect()) == sorted(again.collect())
    clear_caches()
