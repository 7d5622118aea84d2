"""Session state lives in ``plans.cache`` only, and one call drains it.

``queries.clear_caches()`` is ``plans.cache.clear()`` plus the tmp-root
cleanup. The drain test fills one memo entry of every kind and runs the
checkpointing graph operators, clears, and checks nothing survives: no
memo entry, no registered plan, no persisted RDD, no session tmp root.
The registry keeps every plan until that clear. The guard tests keep
new module-level caches from growing back beside the memo, keep
environment variables from becoming hidden switches between code
paths, keep streaming state on its two drivers (``foreachBatch``
loops in the three snapshot sinks, memory sinks in the one drain that
drops its view), and keep the ANN family's pandas UDFs in one set of
kernel factories.
"""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame
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


# the environment variables the package may read: deployment settings,
# not switches between code paths
_ENV_SETTINGS = {
    "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_ORACLE_SF_DIR",
    "PSX_CHECKPOINT_DIR", "PSX_CHECKPOINT_INTERVAL",
}
_ENVIRON = {"os.environ", "environ"}


def _env_reads(tree):
    """The key expression of every environment read in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            func = node.func
            if ast.unparse(func) in ("os.getenv", "getenv") or (
                isinstance(func, ast.Attribute)
                and ast.unparse(func.value) in _ENVIRON
                and func.attr in ("get", "setdefault", "pop")
            ):
                yield node.args[0] if node.args else func
        elif (isinstance(node, ast.Subscript)
              and ast.unparse(node.value) in _ENVIRON):
            yield node.slice
        elif isinstance(node, ast.Compare) and any(
                ast.unparse(c) in _ENVIRON for c in node.comparators):
            yield node.left


def test_package_reads_only_deployment_env_vars():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for key in _env_reads(tree):
            name = key.value if isinstance(key, ast.Constant) else None
            if name not in _ENV_SETTINGS:
                found.append(f"{path.relative_to(PKG).as_posix()}:"
                             f"{key.lineno} {ast.unparse(key)}")
    assert not found, (
        "environment reads outside the deployment settings (pass a "
        "parameter or use a constant instead): " + ", ".join(found)
    )


def _calls_by_function(node, fn=None):
    """``(outermost enclosing function name or None, call)`` for every
    call under ``node``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _calls_by_function(child, fn or child.name)
            continue
        if isinstance(child, ast.Call):
            yield fn, child
        yield from _calls_by_function(child, fn)


def _method_calls_outside(method, allowed, arg=None):
    """``path:line`` of every ``.method(...)`` call (whose first argument
    is the constant ``arg``, when given) outside the ``allowed``
    functions of the package."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn, call in _calls_by_function(tree):
            func = call.func
            if not (isinstance(func, ast.Attribute) and func.attr == method):
                continue
            if arg is not None and not (
                    call.args and isinstance(call.args[0], ast.Constant)
                    and call.args[0].value == arg):
                continue
            if fn not in allowed:
                found.append(f"{path.relative_to(PKG).as_posix()}:"
                             f"{call.lineno} in {fn}")
    return found


def test_foreach_batch_only_in_snapshot_sinks():
    found = _method_calls_outside("foreachBatch", {
        "snapshot_stream", "stream_merge_sink", "incremental_merge_sink",
    })
    assert not found, (
        "foreachBatch outside the snapshot sinks (pass a fold to "
        "streaming.sinks.snapshot_stream instead): " + ", ".join(found)
    )


def test_pandas_udfs_only_in_kernel_factories():
    found = _method_calls_outside("pandas_udf", {
        "_sig_udf", "_assign_udf", "_cell_dist_udf", "_probe_udf",
        "_codes_udf", "_lut_udf", "_unit_dot_arrow", "simhash_pairs",
    })
    assert not found, (
        "pandas_udf outside the kernel factories (build the kernel from "
        "a factory in operators/similarity.py instead): "
        + ", ".join(found)
    )


def test_driver_rows_only_through_local_frame():
    found = _method_calls_outside("createDataFrame", {"local_frame"})
    assert not found, (
        "createDataFrame outside sources.io.local_frame (build driver-"
        "local rows with local_frame, an Arrow LocalRelation, instead of "
        "a pickled Python RDD): " + ", ".join(found)
    )


def test_dataframe_debugging_context_is_off(spark):
    """get_spark turns off PySpark's per-call call-site capture."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_memory_sink_only_in_the_drain():
    found = _method_calls_outside(
        "format", {"run_stream_to_memory"}, arg="memory")
    assert not found, (
        "memory sink outside streaming.sampling.run_stream_to_memory "
        "(its view would outlive the drain): " + ", ".join(found)
    )


def test_stream_drain_leaves_no_sink_view(spark):
    """A registry row drained through the memory sink leaves no
    ``psx_stream_*`` view behind, and the frame it returns still counts
    every drained row."""
    from parquet_sampler_spark import queries_ext

    out = queries_ext._q_streaming_hourly(spark, SF_SMALL)
    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("psx_stream_")]
    assert views == []
    hours = queries_ext._events(spark, SF_SMALL).groupBy(
        F.window("ts", "1 hour"), "event_type").count().count()
    assert out.count() == hours > 0


def test_clear_caches_drains_every_kind(spark, monkeypatch):
    from parquet_sampler_spark import queries, queries_ext, queries_olap
    from parquet_sampler_spark.operators import sample, similarity
    from parquet_sampler_spark.operators.dedup import duplicate_clusters
    from parquet_sampler_spark.operators.graph import pagerank
    from parquet_sampler_spark.plans import cache

    jsc = spark.sparkContext._jsc
    app = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"psx_{app}")
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
    # localCheckpoint generations: every PageRank round, and every
    # label-propagation round at checkpoint_interval=1
    queries_ext._q_pagerank_dups(spark, SF_SMALL).count()
    queries_ext._q_dup_clusters(spark, SF_SMALL).count()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], "src long, dst long")
    assert pagerank(edges, num_iterations=3).count() == 5
    docs = spark.range(1, 7).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    labels = duplicate_clusters(docs, pairs, "doc_id", checkpoint_interval=1)
    assert sorted(labels.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)]

    kinds = {k[0] for k in cache.MEMO if isinstance(k[0], str)}
    assert {
        "sample", "pairs", "merge", "ivf_sql", "bpe_merges", "vec_dim",
        "zorder", "compact", "dpp", "bucketed",
    } <= kinds
    assert any(isinstance(k[0], tuple) and k[0][0] == "ivf_model"
               for k in cache.MEMO)
    assert ("pairs", app, SF_SMALL, "lsh") in cache.MEMO
    assert cache._PERSISTED
    # every persisted frame the memo hands out is one clear() releases
    registered = [df for _, df in cache._PERSISTED]
    memo_dfs = [v for v in cache.MEMO.values() if isinstance(v, DataFrame)]
    assert len(memo_dfs) == 4
    assert all(any(v is df for df in registered) for v in memo_dfs)
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


def test_prefilter_candidates_register_in_plan_registry(spark):
    """The sampler keeps its prefilter candidate set alive through the
    plan registry, deduped by plan: repeating a sample adds no entry."""
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


def test_registry_keeps_every_plan_until_clear(spark):
    """The registry has no bound: after 100 distinct persisted plans the
    first is still served from its cache entry."""
    from parquet_sampler_spark.plans import cache

    def plan(k):
        return spark.range(10).selectExpr(f"id + {k} AS x")

    cache.clear()
    for k in range(100):
        cache.persist(plan(k))
    executed = plan(0)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in executed
    assert len(cache._PERSISTED) == 100
    cache.clear()
    assert cache._PERSISTED == []
