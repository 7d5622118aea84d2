"""Scale smoke: the sampler's prefilter path at 50M rows.

Not a micro-benchmark — a structural check that at real row counts
(a) the closed-form prefilter engages, (b) the candidate set stays
~k·margin (the property that bounds the top-k sort at 100 TB), and
(c) the result is still exactly k rows.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from parquet_sampler_spark.functions.hashing import MODULUS, lehmer_hash
from parquet_sampler_spark.operators.sample import (
    _MARGIN,
    sample_exact,
)


def test_prefilter_at_50m_rows(spark):
    n, ratio = 50_000_000, 0.0001  # k = 5000
    df = spark.range(n).withColumnRenamed("id", "k")
    s = sample_exact(df, ratio, seed=99, key_cols=["k"], total_rows=n)
    k = math.floor(n * ratio)
    assert s.count() == k

    # candidate-set size: the scan-side filter keeps ~k·margin rows
    threshold = int(MODULUS * ratio * _MARGIN) + 1
    cand = df.withColumn("pr", lehmer_hash(["k"], 99)) \
             .filter(F.col("pr") < threshold).count()
    assert k <= cand < 3 * k, cand


def test_50m_sample_deterministic_slice(spark):
    """Same seed ⇒ same sample, even at this scale (first 5 keys by
    value compared across two runs)."""
    n, ratio = 50_000_000, 0.00002  # k = 1000
    df = spark.range(n).withColumnRenamed("id", "k")
    a = sample_exact(df, ratio, seed=7, key_cols=["k"], total_rows=n) \
        .orderBy("k").limit(5).collect()
    b = sample_exact(df, ratio, seed=7, key_cols=["k"], total_rows=n) \
        .orderBy("k").limit(5).collect()
    assert a == b


def test_semijoin_at_50m_rows(spark):
    """Broadcast semi-join over a 50M-row probe: BroadcastHashJoin plan
    (zero probe shuffle) + correct reduction arithmetic."""
    from parquet_sampler_spark.operators.sample import sample_exact
    from parquet_sampler_spark.operators.semijoin import semi_join_reduce

    n = 50_000_000
    probe = spark.range(n).select(
        (F.col("id") % 1_000_000).alias("k"), F.col("id").alias("payload")
    )
    build_src = spark.range(1_000_000).withColumnRenamed("id", "k")
    build = sample_exact(build_src, 0.001, seed=3, key_cols=["k"],
                         total_rows=1_000_000)  # 1000 distinct keys
    red = semi_join_reduce(probe, "k", build, "k")
    plan = red._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # each of the 1000 sampled keys appears exactly 50 times in probe
    assert red.count() == 1000 * 50


def test_block_neardup_at_200k_vectors(spark):
    """Structural check for the block-GEMM near-dup join at a row count
    where the all-pairs HOF formulation is hopeless (200k vectors =
    2·10^10 candidate dot products): the block grid must finish and
    find exactly the planted duplicates. Uses 8-dim vectors to keep
    GEMM flops bounded; the plan shape is dimension-independent."""
    from parquet_sampler_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    n = 200_000
    # deterministic pseudo-random 8-dim vectors from the row id; rows i
    # and i+n (i < 5) are exact duplicates planted across blocks
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64(F.col("id") * F.lit(j + 1)), F.lit(1000))
             .cast("double") / 500.0 - 1.0).cast("float")
            for j in range(8)
        ]).alias("embedding"),
    )
    dups = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding"
    )
    df = base.unionByName(dups)
    got = {(r.id_a, r.id_b)
           for r in embedding_neardup_pairs(
               df, "vec_id", "embedding", threshold=0.999999,
               method="block", nblocks=32).collect()}
    assert {(i, i + n) for i in range(5)} <= got
    # 8-dim random vectors can collide at cos~1 by chance, but every
    # emitted pair must genuinely clear the threshold (verify is exact)
    assert len(got) < 100


def test_assign_splits_at_10m_rows(spark):
    """Split proportions and disjointness at 10M rows — one map pass,
    no shuffle, no driver state."""
    from parquet_sampler_spark.operators.sample import assign_splits

    df = spark.range(10_000_000).withColumnRenamed("id", "k")
    counts = {r.split: r.n for r in
              assign_splits(df, ["k"], seed=11)
              .groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == 10_000_000
    assert abs(counts["train"] / n - 0.8) < 0.002
    assert abs(counts["val"] / n - 0.1) < 0.002
    assert abs(counts["test"] / n - 0.1) < 0.002


def test_interval_join_at_10m_facts_10k_intervals(spark):
    """Bucketized interval join at 10M facts x 10k intervals: the
    exploded build side stays ~2x intervals (bounded fan-out), the join
    is a plain hash equi-join (no BNLJ/cartesian), and every fact lands
    in exactly its one covering interval."""
    from parquet_sampler_spark.operators.rangejoin import interval_join

    n_facts, n_iv, width = 10_000_000, 10_000, 3600
    facts = spark.range(n_facts).select(
        F.col("id").alias("fact_id"),
        F.timestamp_seconds(
            (F.col("id") % (n_iv * width)).cast("double")
        ).alias("ts"),
    )
    intervals = spark.range(n_iv).select(
        F.col("id").alias("iv_id"),
        F.timestamp_seconds((F.col("id") * width).cast("double"))
        .alias("start"),
        F.timestamp_seconds(((F.col("id") + 1) * width).cast("double"))
        .alias("end"),
    )
    joined = interval_join(
        facts, intervals, "ts", "start", "end", bucket_seconds=width
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # each fact matches exactly one interval, and the right one
    assert joined.count() == n_facts
    bad = joined.filter(
        F.col("iv_id")
        != F.floor((F.col("fact_id") % (n_iv * width)) / width)
    ).count()
    assert bad == 0


def test_edit_distance_blocking_at_1m_docs(spark, tmp_path):
    """The edit-distance near-dup query end-to-end at 1M synthetic
    docs: a stop-phrase opener block of ~250k docs is excluded by the
    block cap (otherwise ~3e10 in-block pairs), the remaining blocks
    stay small, and the whole thing completes in suite budget."""
    from parquet_sampler_spark.queries_ext import _q_edit_distance_pairs

    n = 1_000_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang"), (F.col("id") % 2).cast("string"))
        .alias("lang"),
        F.when(
            F.col("id") % 4 == 0,  # 250k docs share the 'the' opener
            F.concat(F.lit("the common opener text number "),
                     (F.col("id") % 97).cast("string")),
        ).otherwise(
            F.concat(
                F.lit("opener"),
                ((F.col("id") / 4) % 125_000).cast("bigint").cast("string"),
                F.lit(" body text variant "),
                (F.col("id") % 3).cast("string"),
            )
        ).alias("text"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    path = str(tmp_path / "corpus")
    docs.write.mode("overwrite").parquet(f"{path}/documents.parquet")

    pairs = _q_edit_distance_pairs(spark, path)
    got = pairs.count()
    # non-capped blocks: (lang, openerK, length-bucket) of ~4 docs with
    # distance-<=4 prefixes -> up to C(4,2)=6 pairs per block; the
    # capped 'the' blocks contribute nothing. Bound: 6 * 250k blocks.
    assert 0 < got <= 6 * 250_000, got
    # cap effectiveness: no emitted pair opens with the stop phrase
    d = spark.read.parquet(f"{path}/documents.parquet").select(
        F.col("doc_id").alias("a"),
        F.substring_index(F.trim(F.lower("text")), " ", 1).alias("__t1"),
    )
    the_pairs = pairs.join(d, "a").filter(F.col("__t1") == "the").count()
    assert the_pairs == 0


def test_zorder_second_column_file_skip(spark, tmp_path):
    """Z-order's reason to exist: after clustering on [a, b], parquet
    footer min/max stats on the SECOND column must exclude most files
    for a point probe — while linear range clustering on [a, b] leaves
    b's per-file range full-width (nothing skippable). Measured from
    the actual written footers, not the plan."""
    import glob

    import pyarrow.parquet as pq

    from parquet_sampler_spark.plans.layout import (
        cluster_by_range,
        cluster_by_zorder,
    )

    n, files, probe = 200_000, 16, 777
    df = spark.range(n).select(
        (F.col("id") % 1024).alias("a"),
        ((F.col("id") * 7919) % 1024).alias("b"),
    )

    def skippable(path: str) -> tuple[int, int]:
        skipped = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("b")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min), maxs.append(st.max)
            total += 1
            if min(mins) > probe or max(maxs) < probe:
                skipped += 1
        return skipped, total

    zp = str(tmp_path / "zorder")
    cluster_by_zorder(df, ["a", "b"], num_files=files, bits=10) \
        .write.mode("overwrite").parquet(zp)
    rp = str(tmp_path / "ranged")
    cluster_by_range(df, ["a", "b"], num_files=files) \
        .write.mode("overwrite").parquet(rp)

    z_skip, z_total = skippable(zp)
    r_skip, r_total = skippable(rp)
    assert z_total >= files and r_total >= files
    # z-order: a point probe on b must skip at least half the files;
    # range clustering on leading column a skips essentially none on b
    assert z_skip >= z_total // 2, (z_skip, z_total)
    assert z_skip > r_skip, (z_skip, r_skip)


def test_bucketed_rolling_window_at_10m_rows(spark):
    """The r4 verdict's scale-killer fix: the trailing-RANGE window must
    NOT partition by event type alone (parallelism = #types). At 10M
    rows / 5 types the bucketed two-pass plan must (a) window-partition
    on (type, bucket) with far more groups than types, and (b) match
    the flat single-window formulation exactly — carries included,
    duplicate timestamps included."""
    from pyspark.sql import Window

    from parquet_sampler_spark.queries_ext import bucketed_trailing_range

    n, types, w_us = 10_000_000, 5, 3 * 3600 * 1_000_000
    # ~35 days of microsecond-spaced events; // 7 forces duplicate
    # timestamps (RANGE peers) across neighbouring ids
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % types).cast("string").alias("part"),
        F.expr("id * 300000000 div 7").alias("us"),
        (F.col("id") % 1000).alias("vc"),
    )
    out = bucketed_trailing_range(df, "part", "us", "vc", w_us)

    # (a) the executed Window partitions on the bucket, and the data
    # really spreads over many (part, bucket) groups
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bkt" in plan, plan[:2000]
    n_groups = (
        df.select("part", F.floor(F.col("us") / w_us).alias("b"))
        .distinct().count()
    )
    assert n_groups > 50 * types, n_groups

    # (b) exact equality with the flat formulation on a slice (full
    # 10M collect would be driver-bound): compare one type's rows in a
    # narrow id window that straddles many bucket boundaries
    flat_w = (
        Window.partitionBy("part").orderBy("us")
        .rangeBetween(-w_us, 0)
    )
    flat = df.select(
        "event_id",
        F.count(F.lit(1)).over(flat_w).alias("n"),
        F.sum("vc").over(flat_w).alias("s"),
    )
    lo, hi = 4_000_000, 4_050_000
    got = {
        r["event_id"]: (r["__n"], r["__sum"])
        for r in out.filter(F.col("event_id").between(lo, hi)).collect()
    }
    want = {
        r.event_id: (r.n, r.s)
        for r in flat.filter(F.col("event_id").between(lo, hi)).collect()
    }
    assert got == want and len(got) == hi - lo + 1


def test_compaction_restores_file_count_and_clusters(spark):
    """compaction_scan's maintenance properties (r08): the degraded
    fixture really has 64 data files, the compacted layout has the 4
    target files, rows are conserved, and — the free bonus of
    repartitionByRange — the compacted files' user_id footer ranges
    are (near-)disjoint, so min/max skipping works post-compaction."""
    import os

    import pyarrow.parquet as pq

    from parquet_sampler_spark import queries_ext as QX
    from parquet_sampler_spark.plans.cache import MEMO

    sf = "/root/testdata/sf0.01"
    out = QX._q_compaction_scan(spark, sf)
    compacted = MEMO[
        ("compact", spark.sparkContext.applicationId, os.path.abspath(sf))
    ]
    small = os.path.join(os.path.dirname(compacted), "small")

    def data_files(d):
        return [
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet")
        ]

    assert len(data_files(small)) == QX._COMPACT_SMALL_FILES
    cfiles = data_files(compacted)
    assert len(cfiles) == QX._COMPACT_TARGET_FILES
    n_raw = spark.read.parquet(f"{sf}/events.parquet").count()
    assert out.count() == n_raw

    # range-clustering: per-file user_id [min, max] windows must not
    # overlap beyond their boundary values (repartitionByRange splits
    # at sampled quantiles, so a shared boundary key may straddle)
    ranges = []
    for f in cfiles:
        md = pq.read_metadata(f)
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "user_id"
            )
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert lo2 >= hi1 - 1, (ranges,)
