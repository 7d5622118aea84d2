"""Bucket-granular copy-on-write snapshot sink
(streaming/incremental.py): merge correctness, file SHARING between
versions (the property that distinguishes it from the full-copy sink),
commit-protocol crash atomicity, exactly-once replay, delete-emptied
buckets, and time travel."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from parquet_sampler_spark.streaming.incremental import (
    apply_cdc_batch_incremental,
    incremental_merge_sink,
    list_incremental_versions,
    read_incremental_snapshot,
)

NB = 8


def _initial(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.lit(False).alias("is_deleted"),
    )


def _batch(spark):
    # touches keys 0, 8, 16 (a few buckets of 8), deletes key 24,
    # inserts key 1000
    return spark.createDataFrame(
        [(0, 100.0, False), (8, 108.0, False), (16, 116.0, False),
         (24, 0.0, True), (1000, 9.0, False)],
        "k long, v double, is_deleted boolean",
    )


def test_incremental_merge_and_file_sharing(spark, tmp_path):
    base = str(tmp_path / "snap")
    apply_cdc_batch_incremental(
        _initial(spark), 0, base, ["k"], nbuckets=NB,
        delete_col="is_deleted", retain_versions=2,
    )
    m0 = {r.k: r.v for r in
          read_incremental_snapshot(spark, base).collect()}
    assert len(m0) == 200 and m0[24] == 24.0

    apply_cdc_batch_incremental(
        _batch(spark), 1, base, ["k"], nbuckets=NB,
        delete_col="is_deleted", retain_versions=2,
    )
    live = {r.k: r.v for r in
            read_incremental_snapshot(spark, base).collect()}
    assert live[0] == 100.0 and live[8] == 108.0 and live[16] == 116.0
    assert 24 not in live and live[1000] == 9.0
    assert len(live) == 200  # 200 - 1 delete + 1 insert

    # time travel: version 0 is the pre-merge state
    v0 = {r.k: r.v for r in
          read_incremental_snapshot(spark, base, version=0).collect()}
    assert v0 == m0

    # FILE SHARING: buckets untouched by the batch keep their v0 paths
    # in the v1 manifest verbatim
    from parquet_sampler_spark.streaming.incremental import (
        _load_manifest,
    )

    man0, man1 = _load_manifest(base, 0), _load_manifest(base, 1)
    shared = {b for b in man0 if man1.get(b) == man0[b]}
    rewritten = {b for b in man1 if man1[b].startswith("data/v00000001")}
    assert shared and rewritten
    assert shared | rewritten == set(man1)
    # the batch hashed into len(rewritten) buckets; every other bucket
    # is shared, so v1 stored strictly less than a full copy
    assert len(rewritten) < NB


def test_crash_in_commit_window_and_replay(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "cdc"
    src.mkdir()

    def wb(name, rows, mtime):
        tbl = pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.float64()),
            "is_deleted": pa.array([r[2] for r in rows], pa.bool_()),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    wb("a.parquet", [(1, 10.0, False), (2, 20.0, False)], 1_000_000)
    wb("b.parquet", [(2, 21.0, False), (1, 0.0, True),
                     (3, 30.0, False)], 2_000_000)

    base = str(tmp_path / "snap2")
    ckpt = str(tmp_path / "ck")

    def stream():
        return (spark.readStream
                .schema("k long, v double, is_deleted boolean")
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    from parquet_sampler_spark.streaming import incremental

    publish = incremental._publish

    def crash_on_batch_1(base_path, manifest_name, run_id=None):
        if manifest_name == "m00000001.json":
            raise RuntimeError(f"injected crash before publishing "
                               f"manifest {manifest_name}")
        publish(base_path, manifest_name, run_id)

    with monkeypatch.context() as m:
        m.setattr(incremental, "_publish", crash_on_batch_1)
        q = (incremental_merge_sink(stream(), base, ["k"], nbuckets=NB,
                                    delete_col="is_deleted",
                                    checkpoint_dir=ckpt)
             .trigger(availableNow=True).start())
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)

    # batch 0 still live; batch 1's manifest+data written but
    # uncommitted: neither listed nor servable
    got = {r.k: r.v for r in
           read_incremental_snapshot(spark, base).collect()}
    assert got == {1: 10.0, 2: 20.0}
    assert list_incremental_versions(base) == [0]
    with pytest.raises(FileNotFoundError, match=r"available: \[0\]"):
        read_incremental_snapshot(spark, base, version=1)

    # replay heals: batch 1 re-applies and publishes
    q = (incremental_merge_sink(stream(), base, ["k"], nbuckets=NB,
                                delete_col="is_deleted",
                                checkpoint_dir=ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.k: r.v for r in
           read_incremental_snapshot(spark, base).collect()}
    assert got == {2: 21.0, 3: 30.0}


def test_exactly_once_skip_and_delete_emptied_bucket(spark, tmp_path):
    base = str(tmp_path / "snap3")
    one = spark.createDataFrame(
        [(5, 1.0, False)], "k long, v double, is_deleted boolean"
    )
    apply_cdc_batch_incremental(one, 0, base, ["k"], nbuckets=NB,
                                delete_col="is_deleted")
    # re-applying the same batch id is a no-op (exactly-once)
    apply_cdc_batch_incremental(
        spark.createDataFrame([(5, 99.0, False)],
                              "k long, v double, is_deleted boolean"),
        0, base, ["k"], nbuckets=NB, delete_col="is_deleted",
    )
    got = {r.k: r.v for r in
           read_incremental_snapshot(spark, base).collect()}
    assert got == {5: 1.0}

    # deleting the only row empties its bucket: the manifest drops the
    # bucket and an empty table refuses to read with a clear error
    apply_cdc_batch_incremental(
        spark.createDataFrame([(5, 0.0, True)],
                              "k long, v double, is_deleted boolean"),
        1, base, ["k"], nbuckets=NB, delete_col="is_deleted",
    )
    with pytest.raises(ValueError, match="empty table"):
        read_incremental_snapshot(spark, base)


def test_retention_prunes_unreferenced_bucket_dirs(spark, tmp_path):
    base = str(tmp_path / "snap4")
    apply_cdc_batch_incremental(
        _initial(spark, 64), 0, base, ["k"], nbuckets=NB,
        delete_col="is_deleted", retain_versions=1,
    )
    apply_cdc_batch_incremental(
        _batch(spark), 1, base, ["k"], nbuckets=NB,
        delete_col="is_deleted", retain_versions=1,
    )
    assert list_incremental_versions(base) == [1]
    # v0's REWRITTEN buckets were pruned, its still-referenced (shared)
    # buckets survive
    from parquet_sampler_spark.streaming.incremental import (
        _load_manifest,
    )

    man1 = _load_manifest(base, 1)
    on_disk = set()
    ddir = os.path.join(base, "data")
    for vdir in os.listdir(ddir):
        for bdir in os.listdir(os.path.join(ddir, vdir)):
            if os.path.isdir(os.path.join(ddir, vdir, bdir)):
                on_disk.add(f"data/{vdir}/{bdir}")
    assert on_disk == set(man1.values())
    # and the live read still returns the complete merged table
    live = {r.k: r.v for r in
            read_incremental_snapshot(spark, base).collect()}
    assert len(live) == 64  # 64 - 1 delete + 1 insert
