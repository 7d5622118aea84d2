"""Semantics-pinning tests for the semi-join reducer (SURVEY.md §5.5):
NULL-key matching, probe-duplicate preservation, build-duplicate
collapse, at-most-once emission, missing-column error."""

from __future__ import annotations

import pytest

from parquet_sampler_spark.operators.semijoin import semi_join_reduce


@pytest.fixture(scope="module")
def nullkeys(spark):
    """FIXTURES.md Group B `nullkeys`: probe with NULL + duplicate keys,
    build with NULLs and duplicates."""
    probe = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d"), (None, "e"), (9, "f")],
        "k long, payload string",
    )
    build = spark.createDataFrame(
        [(1,), (1,), (None,), (5,)], "k long"
    )
    return probe, build


def test_idiomatic_null_never_matches(nullkeys):
    probe, build = nullkeys
    out = semi_join_reduce(probe, "k", build, "k")
    got = sorted(r.payload for r in out.collect())
    assert got == ["a", "b"]  # NULL probe rows dropped; k=9 dropped


def test_faithful_null_matches_null(nullkeys):
    """Reference mode: stringified NULL is a valid set key on both sides
    (join.rs:66-70,115-119) → NULL probe rows survive."""
    probe, build = nullkeys
    out = semi_join_reduce(probe, "k", build, "k", null_safe=True, stringly=True)
    got = sorted(r.payload for r in out.collect())
    assert got == ["a", "b", "d", "e"]


def test_probe_duplicates_preserved_build_collapse(nullkeys):
    probe, build = nullkeys
    out = semi_join_reduce(probe, "k", build, "k")
    # k=1 appears twice in probe AND twice in build: emitted exactly
    # twice (probe dups preserved, build dups collapse — at-most-once
    # per probe row, join.rs:122-124)
    assert out.filter("k = 1").count() == 2


def test_output_schema_is_probe_schema(nullkeys):
    probe, build = nullkeys
    out = semi_join_reduce(probe, "k", build, "k")
    assert out.schema == probe.schema


def test_missing_column_raises(nullkeys):
    probe, build = nullkeys
    with pytest.raises(ValueError):
        semi_join_reduce(probe, "nope", build, "k")
    with pytest.raises(ValueError):
        semi_join_reduce(probe, "k", build, "nope")


def test_reduction_on_star_schema(spark, orders, lineitem):
    """End-to-end reference workflow at sf0.001: every surviving order
    key must appear in the sample; reduction must be strict."""
    from parquet_sampler_spark.operators.sample import sample_exact

    s = sample_exact(lineitem, 0.01, seed=42,
                     key_cols=["l_orderkey", "l_linenumber"])
    red = semi_join_reduce(orders, "o_orderkey", s, "l_orderkey")
    n_red, n_all = red.count(), orders.count()
    assert 0 < n_red < n_all
    sample_keys = {r.l_orderkey for r in s.select("l_orderkey").collect()}
    assert all(r.o_orderkey in sample_keys
               for r in red.select("o_orderkey").collect())


def test_broadcast_join_in_plan(spark, orders, lineitem):
    """The physical plan must use BroadcastHashJoin (build side small —
    reproduces the reference's build/probe asymmetry at zero shuffle)."""
    from parquet_sampler_spark.operators.sample import sample_exact

    s = sample_exact(lineitem, 0.01, seed=42,
                     key_cols=["l_orderkey", "l_linenumber"])
    red = semi_join_reduce(orders, "o_orderkey", s, "l_orderkey")
    plan = red._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_no_broadcast_path_plans_shuffle_join(spark, orders, lineitem):
    """broadcast=False with auto-broadcast disabled must fall back to a
    shuffled join (the build-side-too-big-to-broadcast path)."""
    from parquet_sampler_spark.operators.sample import sample_exact

    s = sample_exact(lineitem, 0.01, seed=42,
                     key_cols=["l_orderkey", "l_linenumber"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        red = semi_join_reduce(orders, "o_orderkey", s, "l_orderkey",
                               broadcast=False)
        plan = red._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        # result identical to the broadcast path
        bcast = semi_join_reduce(orders, "o_orderkey", s, "l_orderkey")
        assert red.count() == bcast.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_star_snapshot_manifest_consistent(spark):
    """The 7-row manifest agrees with the individually-computed
    snapshot members, and the checksum moves when a member changes."""
    from parquet_sampler_spark.queries import (
        _q_semijoin_orders,
        _q_star_snapshot,
        lineitem_sample,
    )

    sf = "/root/testdata/sf0.001"
    manifest = {r.tbl: r for r in _q_star_snapshot(spark, sf).collect()}
    assert set(manifest) == {
        "lineitem_sample", "orders", "customer", "nation", "region",
        "part", "supplier",
    }
    assert manifest["lineitem_sample"].n_rows == lineitem_sample(
        spark, sf
    ).count()
    assert manifest["orders"].n_rows == _q_semijoin_orders(
        spark, sf
    ).count()
    # consistency: every customer in the snapshot has its nation; a
    # coherent snapshot can never have more nations than customers
    assert manifest["nation"].n_rows <= manifest["customer"].n_rows
    assert manifest["region"].n_rows <= manifest["nation"].n_rows
    # a one-row perturbation of a member must move its fingerprint
    from pyspark.sql import functions as F

    from parquet_sampler_spark.queries import _snap_fp

    o = _q_semijoin_orders(spark, sf)
    first_key = o.first().o_orderkey
    fp0 = _snap_fp(o, "orders", [F.col("o_orderkey")]).collect()[0]
    fp1 = _snap_fp(
        o.withColumn(
            "o_orderkey",
            F.when(F.col("o_orderkey") == first_key,
                   F.col("o_orderkey") + 1).otherwise(F.col("o_orderkey")),
        ),
        "orders", [F.col("o_orderkey")],
    ).collect()[0]
    assert (fp0.xor_hash, fp0.sum_hash) != (fp1.xor_hash, fp1.sum_hash)
    assert fp0.n_rows == fp1.n_rows


def test_star_snapshot_drift_worklist(spark):
    """Drift between two snapshot versions: the sample-derived members
    must appear in the worklist (different seeds sample different
    rows); identical manifests diff to empty."""
    from parquet_sampler_spark.queries import (
        SAMPLE_SEED,
        _q_star_snapshot_drift,
        _star_manifest,
    )
    from parquet_sampler_spark.operators.integrity import fingerprint_diff

    sf = "/root/testdata/sf0.001"
    drift = {r.tbl for r in _q_star_snapshot_drift(spark, sf).collect()}
    assert "lineitem_sample" in drift and "orders" in drift
    assert drift <= {
        "lineitem_sample", "orders", "customer", "nation", "region",
        "part", "supplier",
    }
    same = fingerprint_diff(
        _star_manifest(spark, sf, SAMPLE_SEED).withColumnRenamed(
            "tbl", "bucket"),
        _star_manifest(spark, sf, SAMPLE_SEED).withColumnRenamed(
            "tbl", "bucket"),
    )
    assert same.count() == 0


def test_star_snapshot_refresh_selective_equals_full(spark):
    """The merged store (v1 + only-drifted re-publish) manifests
    IDENTICALLY to a from-scratch v2 — and the worklist genuinely
    skipped members (the selective claim is non-vacuous)."""
    from parquet_sampler_spark.queries import (
        _DRIFT_SEED,
        _q_star_snapshot_drift,
        _q_star_snapshot_refresh,
        _star_manifest,
    )

    sf = "/root/testdata/sf0.001"
    merged = sorted(
        tuple(r) for r in _q_star_snapshot_refresh(spark, sf).collect()
    )
    full_v2 = sorted(
        tuple(r) for r in _star_manifest(spark, sf, _DRIFT_SEED).collect()
    )
    assert merged == full_v2
    n_drift = _q_star_snapshot_drift(spark, sf).count()
    assert 0 < n_drift < 7  # something shipped, something was skipped


# ---------------------------------------------------------------------------
# Broadcast path: build keys broadcast as projected, no distinct()
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tripled(spark):
    """Probe with NULL and duplicate keys; a build side whose every key
    (NULL included) appears three times."""
    probe = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "e"), (None, "f"),
         (7, "g")],
        "k long, payload string",
    )
    build = spark.createDataFrame(
        [(k,) for k in [1, 2, None, 5] for _ in range(3)], "k long"
    )
    return probe, build


def _distinct_formulation(probe, build, how, null_safe, stringly):
    """The pre-broadcast-path formulation: de-duplicated keys, broadcast."""
    from pyspark.sql import functions as F

    bk, pk = F.col("k"), probe["k"]
    if stringly:
        bk, pk = bk.cast("string"), pk.cast("string")
    keys = F.broadcast(build.select(bk.alias("bk")).distinct())
    cond = pk.eqNullSafe(keys["bk"]) if null_safe else pk == keys["bk"]
    return probe.join(keys, cond, how)


@pytest.mark.parametrize("how", ["left_semi", "left_anti"])
@pytest.mark.parametrize("null_safe,stringly",
                         [(False, False), (True, False), (True, True)])
def test_broadcast_without_distinct_same_rows(tripled, how, null_safe,
                                              stringly):
    """Tripled build keys change nothing: each probe row is emitted at
    most once, the same row multiset as the distinct() formulation."""
    probe, build = tripled
    out = semi_join_reduce(probe, "k", build, "k", how=how,
                           null_safe=null_safe, stringly=stringly)
    want = _distinct_formulation(probe, build, how, null_safe, stringly)
    got_rows = sorted(map(tuple, out.collect()), key=repr)
    assert got_rows == sorted(map(tuple, want.collect()), key=repr)
    assert len(got_rows) == len(set(got_rows))  # probe rows are unique


def test_broadcast_plan_has_no_aggregate(spark, tripled):
    """The broadcast build side is the projected key column itself: no
    HashAggregate under the BroadcastExchange (it would cost a
    shuffle-map job)."""
    probe, build = tripled
    for kw in [{}, {"null_safe": True, "stringly": True},
               {"how": "left_anti"}]:
        out = semi_join_reduce(probe, "k", build, "k", **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastExchange" in plan
        assert "HashAggregate" not in plan


def test_shuffle_hash_path_keeps_distinct(spark, tripled):
    """The shuffle strategies still de-duplicate the build keys (the
    partial aggregation shrinks the shuffle), with the same rows."""
    probe, build = tripled
    out = semi_join_reduce(probe, "k", build, "k", broadcast="shuffle_hash")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "HashAggregate" in plan
    bcast = semi_join_reduce(probe, "k", build, "k")
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, bcast.collect()))
