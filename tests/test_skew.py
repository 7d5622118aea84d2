"""Salted-join equivalence tests and the hot-key cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_sampler_spark.plans.skew import drop_hot_keys, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share key 1 (hot key), the rest spread over 100 keys
    big = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, 1).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(100)], "k long, name string"
    )
    return big, small


def test_inner_matches_plain_join(skewed):
    big, small = skewed
    plain = big.join(small, "k", "inner")
    salted = salted_join(big, small, "k", salt=8)
    assert salted.count() == plain.count()
    assert (sorted(map(tuple, salted.collect()))
            == sorted(map(tuple, plain.collect())))


def test_left_keeps_unmatched(skewed):
    big, small = skewed
    big2 = big.union(big.sparkSession.createDataFrame(
        [(999, -1)], "k long, payload long"))
    plain = big2.join(small, "k", "left")
    salted = salted_join(big2, small, "k", salt=8, how="left")
    assert salted.count() == plain.count()
    assert salted.filter(F.col("k") == 999).collect()[0].name is None


def test_rejects_unsupported_how(skewed):
    big, small = skewed
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="full")


def test_aqe_skew_join_split_triggers(spark):
    """Measured AQE skew handling: with a 90%-hot key and test-lowered
    skew thresholds, the runtime re-plan must actually SPLIT the skewed
    partition (the executed SortMergeJoin is marked skew=true) — the
    mechanism SCALING.md leans on for hot keys before reaching for
    salted_join."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id"))
            .alias("key"),
            F.col("id").alias("payload"),
        )
        right = spark.range(10_000).select(
            F.col("id").alias("key"), (F.col("id") * 2).alias("val")
        )
        joined = big.join(right, "key")
        # collect() executes THIS DataFrame's own query execution, so
        # its adaptive plan is final afterwards (count() would build a
        # separate execution and leave this one unplanned)
        n = len(joined.collect())
        # 270k rows share key 0 (matched once); the rest match iff the
        # unique key is < 10k
        assert n == 270_000 + sum(
            1 for i in range(300_000) if i % 10 == 9 and i < 10_000
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected(spark):
    """Runtime bloom-filter join pruning: for a selective dim filter on
    a non-broadcast join, Spark injects a might_contain(bloom) predicate
    on the fact side — rows failing the filter die at the scan instead
    of crossing the shuffle. At real scale (app-side scan >= 10 GB) this
    triggers by default; the test lowers the size thresholds to observe
    it at test scale."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sf = "/root/testdata/sf0.01"
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        ).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt
        # and the result is still exactly the plain join
        plain = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
        assert j.count() == plain.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_agg_equals_plain_groupby(spark):
    """salted_agg must be result-identical to a plain groupBy for
    mergeable aggregates, on data where one key holds 90% of rows."""
    from pyspark.sql import functions as F

    from parquet_sampler_spark.plans.skew import salted_agg

    n = 200_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 37).cast("string")))
        .alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    got = {
        (r.k): (r.sum_v, r.n)
        for r in salted_agg(df, ["k"], sum_cols=["v"]).collect()
    }
    want = {
        (r.k): (r.sum_v, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_drop_hot_keys_keeps_rows_of_keys_at_or_under_cap(spark):
    """Rows whose key occurs more than ``cap`` times go, every other
    row stays (the cap is inclusive); keys may span columns, and
    ``cap=None`` returns the frame unchanged."""
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 11), (1, "a", 12),   # (1, a) x3: hot
         (1, "b", 13), (1, "b", 14),                 # (1, b) x2: at cap
         (2, "a", 15)],
        "k long, g string, v long",
    )
    assert drop_hot_keys(df, ["k", "g"], None) is df
    kept = sorted(r.v for r in drop_hot_keys(df, ["k", "g"], 2).collect())
    assert kept == [13, 14, 15]
    assert sorted(r.v for r in drop_hot_keys(df, "k", 1).collect()) == [15]
