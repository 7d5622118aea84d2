"""Bucket-granular copy-on-write snapshot table (incremental CDC sink).

``streaming/sinks.py`` publishes FULL snapshot copies per version —
correct, but N retained versions cost N complete tables. Real table
formats (Delta, Iceberg — jars absent in this environment) share
unchanged data files between versions through manifests; this module
is that storage model at hash-bucket granularity, built only on
parquet + the same atomic-pointer commit protocol::

    base_path/
        _CURRENT                      # live manifest name + query id
        manifests/m00000007.json      # {"3": "data/v00000007/__b=3", …}
        data/v00000003/__b=5/*.parquet

A CDC batch touches only the buckets its keys hash into
(``pmod(xxhash64(keys), nbuckets)``): those buckets are read, merged
via :func:`~parquet_sampler_spark.operators.merge.merge_upsert`, and
rewritten under the new batch's ``data/v{batch}/`` directory in ONE
partitioned write job; every other bucket's manifest entry carries
over verbatim, so unchanged bytes are SHARED by all retained versions
that reference them. Commit = write ``m{batch}.json``, fsync, then
sinks.py's atomic pointer swap, which also records the publishing
streaming query's id. Crash and replay consequences mirror sinks.py:

- crash before publish: the old manifest stays live; the replayed
  batch overwrites ``data/v{batch}`` and ``m{batch}.json`` wholesale.
- crash after publish, before the stream checkpoint commits: the
  replay sees a published id ≥ its own and SKIPS — exactly-once.
- a manifest or data dir whose id is beyond the published pointer is
  uncommitted and is never listed or served.
- a fresh checkpoint over a live table raises instead of skipping its
  early epochs (``sinks.guard_epoch``).

Scale: per-batch write cost is O(touched buckets × bucket size), not
O(table) — the property that makes frequent small CDC batches viable
on a 100 TB snapshot. ``nbuckets`` is the rewrite-granularity knob
(more buckets = finer rewrites + more files; size it so a bucket ≈ a
healthy parquet file). Reads are manifest-addressed parquet; time
travel to any retained version costs one manifest read, no log replay.

Local-filesystem paths only (``os.replace`` atomicity is a POSIX
rename guarantee), and — like the full-copy sink — a reader holding a
version that falls out of retention mid-read can lose files to the
prune; real deployments put a table format's snapshot-isolation layer
(Delta/Iceberg) here. ``nbuckets`` is part of the table layout: never
change it on an existing table (manifests would mix hash spaces).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_sampler_spark.operators.merge import merge_upsert
from parquet_sampler_spark.sources.io import read_parquet
from parquet_sampler_spark.streaming.sinks import (
    _POINTER,
    _keep_last,
    _publish,
    checkpoint_query_id,
    guard_epoch,
    published_epoch,
)


def _manifest_name(batch_id: int) -> str:
    return f"m{batch_id:08d}.json"


def _load_manifest(base_path: str, batch_id: int) -> dict[str, str]:
    p = os.path.join(base_path, "manifests", _manifest_name(batch_id))
    with open(p, encoding="utf-8") as f:
        return json.load(f)


def list_incremental_versions(base_path: str) -> list[int]:
    """Batch ids of retained PUBLISHED manifests, oldest first
    (manifests beyond the published pointer are uncommitted crash
    leftovers and excluded)."""
    mdir = os.path.join(base_path, "manifests")
    published = published_epoch(base_path)
    if published is None or not os.path.isdir(mdir):
        return []
    out = []
    for n in os.listdir(mdir):
        if n.startswith("m") and n.endswith(".json"):
            try:
                v = int(n[1:-5])
            except ValueError:
                continue
            if v <= published:
                out.append(v)
    return sorted(out)


def read_incremental_snapshot(
    spark: SparkSession, base_path: str, version: int | None = None
) -> DataFrame:
    """Read the live (or a retained historical) snapshot version —
    the ``VERSION AS OF`` path. Raises for pruned, never-published, or
    uncommitted (crash-window) versions."""
    published = published_epoch(base_path)
    if published is None:
        raise FileNotFoundError(
            f"no published snapshot at {base_path} (no {_POINTER})"
        )
    v = published if version is None else version
    mpath = os.path.join(base_path, "manifests", _manifest_name(v))
    if v > published or not os.path.exists(mpath):
        raise FileNotFoundError(
            f"version {v} not retained at {base_path}; "
            f"available: {list_incremental_versions(base_path)}"
        )
    manifest = _load_manifest(base_path, v)
    if not manifest:
        raise ValueError(
            f"version {v} at {base_path} is an empty table — nothing "
            f"to read (every row was deleted)"
        )
    paths = [os.path.join(base_path, rel) for rel in manifest.values()]
    df = read_parquet(spark, paths)
    return df.drop("__b") if "__b" in df.columns else df


def _prune(base_path: str, retain_versions: int) -> None:
    """Keep the newest ``retain_versions`` published manifests; delete
    older manifests and every bucket directory no retained manifest
    references. Crash-safe: the pointer already names the newest
    manifest, and data dirs are removed only after the manifests that
    referenced them are gone from the retained set."""
    versions = list_incremental_versions(base_path)
    keep = versions[-max(retain_versions, 1):]
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_load_manifest(base_path, v).values())
    for v in versions:
        if v not in keep:
            try:
                os.remove(os.path.join(
                    base_path, "manifests", _manifest_name(v)))
            except OSError:
                pass
    ddir = os.path.join(base_path, "data")
    if not os.path.isdir(ddir):
        return
    for vdir in os.listdir(ddir):
        vpath = os.path.join(ddir, vdir)
        if not os.path.isdir(vpath):
            continue
        for bdir in os.listdir(vpath):
            bpath = os.path.join(vpath, bdir)
            if not os.path.isdir(bpath):
                continue  # _SUCCESS markers ride with their version dir
            rel = f"data/{vdir}/{bdir}"
            if rel not in referenced:
                shutil.rmtree(bpath, ignore_errors=True)
        # only marker files left → no retained manifest references this
        # version dir at all; drop it wholesale
        if not any(
            os.path.isdir(os.path.join(vpath, d))
            for d in os.listdir(vpath)
        ):
            shutil.rmtree(vpath, ignore_errors=True)


def apply_cdc_batch_incremental(
    batch_df: DataFrame,
    batch_id: int,
    base_path: str,
    key_cols: list[str],
    nbuckets: int = 64,
    delete_col: str | None = None,
    order_col: str | None = None,
    retain_versions: int = 1,
    run_id: str | None = None,
) -> None:
    """Merge ONE CDC batch into the bucketed snapshot, rewriting only
    the buckets the batch's keys hash into. ``nbuckets`` must stay
    constant for the lifetime of a table (it defines the layout).
    Exactly-once: a batch id at or below the published one is skipped.
    ``run_id`` is the streaming query's identity
    (:func:`~parquet_sampler_spark.streaming.sinks.checkpoint_query_id`);
    with it, a different query driving this table raises instead of
    skipping its early epochs (see
    :func:`~parquet_sampler_spark.streaming.sinks.guard_epoch`).
    """
    if nbuckets <= 0:
        raise ValueError(f"nbuckets must be positive, got {nbuckets}")
    spark = batch_df.sparkSession
    os.makedirs(os.path.join(base_path, "manifests"), exist_ok=True)
    if guard_epoch(base_path, batch_id, run_id):
        return
    published = published_epoch(base_path)
    batch_df = _keep_last(batch_df, key_cols, order_col)
    data_cols = [c for c in batch_df.columns if c != delete_col]
    bcol = F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(nbuckets)
    ).cast("int")
    # the touched-bucket list is bounded by nbuckets — a driver-safe
    # collect by construction
    changed = sorted(
        r["__b"]
        for r in batch_df.select(bcol.alias("__b")).distinct().collect()
    )
    manifest = _load_manifest(base_path, published) \
        if published is not None else {}
    old_rel = [manifest[str(b)] for b in changed if str(b) in manifest]
    if old_rel:
        base = read_parquet(
            spark, [os.path.join(base_path, rel) for rel in old_rel]
        )
        if "__b" in base.columns:
            base = base.drop("__b")
        base = base.select(*data_cols)
    else:
        base = batch_df.limit(0).select(*data_cols)
    merged = merge_upsert(base, batch_df, key_cols, delete_col=delete_col)
    vrel = f"data/v{batch_id:08d}"
    # one partitioned job writes every touched bucket; mode=overwrite
    # replaces a partial dir left by a crashed prior attempt
    merged.select(*data_cols).withColumn("__b", bcol) \
        .write.mode("overwrite").partitionBy("__b") \
        .parquet(os.path.join(base_path, vrel))
    new_manifest = {
        k: v for k, v in manifest.items() if int(k) not in set(changed)
    }
    for b in changed:
        # a bucket whose rows were all deleted produces no output dir
        # and must drop out of the manifest entirely
        if os.path.isdir(os.path.join(base_path, vrel, f"__b={b}")):
            new_manifest[str(b)] = f"{vrel}/__b={b}"
    mpath = os.path.join(
        base_path, "manifests", _manifest_name(batch_id)
    )
    with open(mpath, "w", encoding="utf-8") as f:
        json.dump(new_manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    _publish(base_path, _manifest_name(batch_id), run_id)
    _prune(base_path, retain_versions)


def incremental_merge_sink(
    updates: DataFrame,
    base_path: str,
    key_cols: list[str],
    nbuckets: int = 64,
    delete_col: str | None = None,
    order_col: str | None = None,
    checkpoint_dir: str | None = None,
    retain_versions: int = 1,
):
    """Streaming wrapper: a started-ready ``DataStreamWriter`` that
    applies every micro-batch through
    :func:`apply_cdc_batch_incremental`. Same contract as
    :func:`~parquet_sampler_spark.streaming.sinks.stream_merge_sink`,
    but versions share unchanged bucket files instead of copying the
    full table."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch_incremental(
            batch_df, batch_id, base_path, key_cols,
            nbuckets=nbuckets, delete_col=delete_col,
            order_col=order_col, retain_versions=retain_versions,
            run_id=(
                checkpoint_query_id(checkpoint_dir)
                if checkpoint_dir else None
            ),
        )

    writer = updates.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
