"""Versioned parquet snapshots: the commit protocol every streaming
state maintainer shares, and the CDC merge sink built on it.

:func:`snapshot_stream` is the one ``foreachBatch`` loop whose state is
"the current snapshot": the reservoir samplers and the quantile and
heavy-hitter maintainers each supply only a fold of one micro-batch
into the live snapshot. :func:`stream_merge_sink` applies CDC:
``foreachBatch`` + :func:`~parquet_sampler_spark.operators.merge.
merge_upsert` gives MERGE-into-table semantics without a table format:
every micro-batch of upserts/deletes is merged against the current
snapshot and a new snapshot is published. The per-batch merge is the
scalable part: one anti-join of the snapshot against a broadcastable
CDC batch.

Crash atomicity — versioned snapshots + pointer file. The snapshot
"table" is a directory::

    base_path/
        _CURRENT        # text file naming the live snapshot dir
        v00000003/      # parquet snapshot published by batch 3
        v00000002/      # previous snapshot (pruned after publish)

A batch writes its merged result to a NEW versioned directory, then
publishes by atomically replacing ``_CURRENT`` (``os.replace`` of a
same-directory temp file — atomic on POSIX). Readers resolve the
pointer via :func:`read_snapshot`. Consequences:

- Crash DURING the snapshot write (or between write and publish):
  ``_CURRENT`` still names the old snapshot, which was never touched —
  readers are unaffected, and the replayed batch overwrites the
  partial ``v*`` directory. There is no wreckage state that needs
  manual recovery.
- Crash AFTER publish but before the streaming checkpoint commits:
  the replayed batch finds ``_CURRENT`` already at its own batch id
  and SKIPS (Delta-style transaction-version check) — exactly-once,
  not merely idempotent re-merge.
- Old snapshot dirs are pruned only after the pointer moves past
  them; a crash mid-prune leaves stale dirs that the next batch's
  pre-prune removes.

Real deployments use a transactional table format (Delta/Iceberg —
jars not present in this environment); this module is the engine-level
emulation of the same commit protocol (versioned data files + an
atomically-swapped pointer is exactly Delta's ``_last_checkpoint`` /
Iceberg's ``version-hint.text`` scheme). ``retain_versions`` keeps the
newest N published snapshots, and ``read_snapshot(version=...)``
time-travels to any retained one — the ``VERSION AS OF`` read path.
Local-filesystem paths only: ``os.replace`` atomicity is a POSIX
rename guarantee; on S3 this layer is replaced by the table format.

Run-identity scoping (r9): epoch ids are CHECKPOINT-scoped while the
published epoch is STATE-scoped, so the replay guard additionally
records the publishing query's id (``checkpoint_query_id``) on the
pointer and :func:`guard_epoch` RAISES when a different query (i.e. a
fresh checkpoint) tries to drive existing state — without this, the
fresh checkpoint's restarted epoch numbering would silently skip
early epochs carrying genuinely new data. Reusing a state path with
a fresh checkpoint requires deleting the state first.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_sampler_spark.operators.merge import merge_upsert
from parquet_sampler_spark.sources.io import read_parquet

_POINTER = "_CURRENT"


def _pointer_path(base_path: str) -> str:
    return os.path.join(base_path, _POINTER)


def current_snapshot_path(base_path: str) -> str | None:
    """Resolve the live snapshot directory, or None if no snapshot has
    ever been published."""
    ptr = _pointer_path(base_path)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="ascii") as f:
        name = f.readline().strip()
    return os.path.join(base_path, name)


def published_run_id(base_path: str) -> str | None:
    """Streaming-query identity recorded by the last publish (second
    line of the pointer file), or None if the snapshot predates run
    scoping / was published without one. See :func:`guard_epoch` for
    why this exists: epoch ids are CHECKPOINT-scoped, so comparing
    them across different checkpoints is meaningless."""
    ptr = _pointer_path(base_path)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="ascii") as f:
        f.readline()
        run = f.readline().strip()
    return run or None


def checkpoint_query_id(checkpoint_dir: str) -> str | None:
    """The structured-streaming query id persisted in a checkpoint's
    ``metadata`` file — STABLE across restarts of the same checkpoint
    (unlike ``runId``), fresh for a fresh checkpoint, which is exactly
    the identity the epoch guard needs. Returns None before the query
    has started (Spark writes ``metadata`` at query start, so inside a
    ``foreachBatch`` body it always exists)."""
    import json

    meta = os.path.join(checkpoint_dir, "metadata")
    if not os.path.exists(meta):
        return None
    with open(meta, encoding="utf-8") as f:
        return json.load(f).get("id")


def guard_epoch(
    base_path: str, epoch_id: int, run_id: str | None = None
) -> bool:
    """Shared replay/identity gate for every ``publish_snapshot``
    consumer — call FIRST in the ``foreachBatch`` body; True means
    "this epoch is already in the snapshot, skip it".

    Epoch ids are scoped to one streaming CHECKPOINT; the published
    epoch is scoped to the STATE directory. Comparing them is only
    sound when both belong to the same query, so when both the
    caller's ``run_id`` (from :func:`checkpoint_query_id`) and the
    snapshot's recorded run id are known and DIFFER, this raises
    instead of comparing: a fresh checkpoint over existing state
    restarts epoch numbering at 0, and the bare ``pub >= epoch_id``
    compare would silently skip early epochs carrying genuinely new
    data (r8 ADVICE — silent data loss, not an error). The caller
    must either delete/move the state directory or restart from the
    original checkpoint.

    With no run identity on either side (legacy snapshots, callers
    without a managed checkpoint) the guard degrades to the bare
    epoch compare — correct for same-checkpoint crash replay and for
    re-delivery of identical data, but unable to detect the
    fresh-checkpoint-over-live-state hazard; callers that reuse state
    paths across checkpoints must pass ``checkpoint_dir`` so identity
    is enforced."""
    pub = published_epoch(base_path)
    if pub is None:
        return False
    stored = published_run_id(base_path)
    if run_id is not None and stored is not None and run_id != stored:
        raise ValueError(
            f"state at {base_path} was published by streaming query "
            f"{stored}, but this query is {run_id} (fresh checkpoint "
            f"over existing state?). Epoch ids are checkpoint-scoped, "
            f"so the replay guard cannot compare them across queries: "
            f"delete/move the state directory to start fresh, or "
            f"restart from the original checkpoint."
        )
    return pub >= epoch_id


def read_snapshot(
    spark: SparkSession, base_path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot of a versioned state directory: the CDC table of
    :func:`stream_merge_sink` or the state of any :func:`snapshot_stream`
    maintainer.

    ``version=None`` reads the live snapshot (pointer-resolved).
    Passing a batch id time-travels to that published version if it is
    still retained (``retain_versions`` on the sink); reading a pruned
    or never-published version raises with the retained list — the
    engine-level equivalent of Delta's ``VERSION AS OF``. A ``v*``
    directory whose id is beyond the published pointer (a crash landed
    in the commit window between snapshot write and pointer swap) is
    uncommitted data and is never served (r4 ADVICE finding)."""
    if version is not None:
        p = os.path.join(base_path, f"v{version:08d}")
        published = published_epoch(base_path)
        if not os.path.isdir(p) or published is None \
                or version > published:
            raise FileNotFoundError(
                f"version {version} not retained at {base_path}; "
                f"available: {list_snapshot_versions(base_path)}"
            )
        return read_parquet(spark, p)
    snap = current_snapshot_path(base_path)
    if snap is None:
        raise FileNotFoundError(
            f"no published snapshot at {base_path} (no {_POINTER})"
        )
    return read_parquet(spark, snap)


def list_snapshot_versions(base_path: str) -> list[int]:
    """Batch ids of the retained PUBLISHED snapshot versions, oldest
    first. A ``v*`` directory beyond the published pointer (crash in
    the commit window) is uncommitted and excluded; the replay of its
    batch overwrites it wholesale."""
    if not os.path.isdir(base_path):
        return []
    published = published_epoch(base_path)
    if published is None:
        return []
    out = []
    for d in os.listdir(base_path):
        if d.startswith("v") and d[1:].isdigit() \
                and os.path.isdir(os.path.join(base_path, d)) \
                and int(d[1:]) <= published:
            out.append(int(d[1:]))
    return sorted(out)


def _publish(
    base_path: str, version_name: str, run_id: str | None = None
) -> None:
    """Atomically point ``_CURRENT`` at ``version_name``. When
    ``run_id`` is given it rides the same atomic swap as a second
    pointer-file line, so snapshot version and publishing-query
    identity can never disagree. When it is None (a maintainer run
    without an explicit checkpoint_dir), a PREVIOUSLY recorded
    identity is carried forward rather than erased — dropping it
    would silently disarm :func:`guard_epoch`'s fresh-checkpoint
    protection for every later run against this state."""
    if run_id is None:
        run_id = published_run_id(base_path)
    ptr = _pointer_path(base_path)
    tmp = ptr + ".__tmp"
    with open(tmp, "w", encoding="ascii") as f:
        f.write(version_name + "\n")
        if run_id is not None:
            f.write(run_id + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ptr)


def _prune(base_path: str, keep: str, retain_versions: int = 1) -> None:
    """Remove all but the newest ``retain_versions`` snapshot dirs
    (``keep``, the live one, is always among them). Safe to crash
    mid-way: the pointer already names ``keep``."""
    versions = list_snapshot_versions(base_path)
    keep_ids = set(versions[-max(retain_versions, 1):])
    keep_ids.add(int(keep[1:]))
    for v in versions:
        if v in keep_ids:
            continue
        shutil.rmtree(
            os.path.join(base_path, f"v{v:08d}"), ignore_errors=True
        )


def published_epoch(base_path: str) -> int | None:
    """Epoch id of the live published snapshot, or None before the
    first publish. The pointer names a snapshot dir (``v00000007``)
    or, for the bucketed sink (``streaming/incremental.py``), a
    manifest (``m00000007.json``); both carry the epoch. Every
    ``publish_snapshot`` consumer MUST skip a batch whose ``epoch_id``
    is at or below this (the guard
    ``apply_cdc_batch`` pioneered): a crash can land after the
    pointer swap but before the streaming checkpoint commits, and the
    replayed epoch would otherwise (a) read ``v<N>`` lazily while
    overwriting the same ``v<N>`` — Spark refuses, wedging the stream
    — or (b) for additive state, silently fold the same batch in
    twice. Skipping is what makes at-least-once delivery exactly-once
    state."""
    snap = current_snapshot_path(base_path)
    if snap is None:
        return None
    return int(os.path.splitext(os.path.basename(snap))[0][1:])


def publish_snapshot(
    df: DataFrame, base_path: str, epoch_id: int, retain: int = 2,
    run_id: str | None = None,
) -> None:
    """The shared state-commit (r08): write ``df`` as a fresh
    ``v<epoch>`` dir, atomically swap the ``_CURRENT`` pointer, prune
    to the ``retain`` newest PUBLISHED versions. Crash at any byte
    offset leaves the pointer on the last published snapshot; the
    replayed epoch overwrites its uncommitted dir wholesale. Used by
    :func:`snapshot_stream` and :func:`apply_cdc_batch`. Callers must
    gate on :func:`guard_epoch` FIRST (see :func:`published_epoch` for
    the crash window this closes); passing the same ``run_id`` given
    to :func:`guard_epoch` records the publishing query's identity on
    the pointer so the guard can detect a fresh checkpoint reusing
    this state path."""
    vname = f"v{epoch_id:08d}"
    df.write.mode("overwrite").parquet(os.path.join(base_path, vname))
    _publish(base_path, vname, run_id=run_id)
    _prune(base_path, vname, retain_versions=retain)


def snapshot_stream(
    events: DataFrame,
    path: str,
    fold: Callable[[DataFrame, DataFrame | None], DataFrame],
    checkpoint_dir: str | None = None,
):
    """The one ``foreachBatch`` loop whose state is "the current
    snapshot" at ``path``: each micro-batch publishes
    ``fold(batch, current)``, where ``current`` is the live snapshot
    (``None`` before the first publish). Returns the
    ``DataStreamWriter``; the caller adds a trigger and calls
    ``.start()``. Read the state with :func:`read_snapshot`.

    Crash atomicity (r08, found by the kill-restart test): a plain
    ``mode("overwrite")`` of a state dir deletes the old state BEFORE
    the new write completes, so a kill mid-write leaves corrupt state
    the restart cannot read. Each epoch therefore commits through
    :func:`publish_snapshot`: a NEW ``v<epoch>`` directory and an
    atomic ``_CURRENT`` swap. Writing a fresh dir also means the sink
    is never its own source mid-write.

    Exactly-once: a crash after publish but before the checkpoint
    commit replays the epoch, which :func:`guard_epoch` skips.
    Re-folding it would double additive state (quantile weights,
    heavy-hitter counts and ``n``), and would lazily read ``v<N>``
    while overwriting ``v<N>``, which Spark refuses (stream wedge).
    ``checkpoint_dir``, when given, is attached as the stream's
    ``checkpointLocation`` and its stable query id scopes the guard:
    a fresh checkpoint over existing state raises instead of silently
    skipping its early epochs. Local-filesystem paths only (POSIX
    rename atomicity; on object stores this layer is a table
    format's job)."""
    spark = events.sparkSession

    def commit(batch: DataFrame, epoch_id: int) -> None:
        run_id = (
            checkpoint_query_id(checkpoint_dir)
            if checkpoint_dir is not None else None
        )
        if guard_epoch(path, epoch_id, run_id):
            return
        # pointer-resolved read: an uncommitted v* dir from a crashed
        # attempt is invisible here; a transient READ error on a
        # published snapshot must fail the batch (stream retries),
        # never silently reset accumulated state — read_parquet falls
        # back to Spark's own read, which raises
        snap = current_snapshot_path(path)
        current = None if snap is None else read_parquet(spark, snap)
        publish_snapshot(
            fold(batch, current), path, epoch_id, run_id=run_id
        )

    writer = events.writeStream.foreachBatch(commit)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def _keep_last(
    batch_df: DataFrame, key_cols: list[str], order_col: str | None
) -> DataFrame:
    """Keep-last-per-key compaction of a CDC batch in event order: the
    row with the greatest ``order_col`` per key, ``order_col`` dropped
    (see :func:`stream_merge_sink`). ``order_col=None`` passes the
    batch through."""
    if order_col is None:
        return batch_df
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        batch_df.withColumn("__psx_rn", F.row_number().over(w))
        .filter(F.col("__psx_rn") == 1)
        .drop("__psx_rn", order_col)
    )


def apply_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_path: str,
    key_cols: list[str],
    delete_col: str | None = None,
    order_col: str | None = None,
    retain_versions: int = 1,
    run_id: str | None = None,
) -> None:
    """Merge ONE batch of CDC events into the versioned snapshot table
    at ``base_path`` and publish the result — the full commit protocol
    (write new version → atomic pointer swap → prune), usable from a
    batch pipeline directly; :func:`stream_merge_sink` calls this per
    micro-batch. Exactly-once: a batch id at or below the published one
    is skipped. ``run_id`` is the streaming query's identity
    (:func:`checkpoint_query_id`); with it, a different query driving
    this state raises (see :func:`guard_epoch`)."""
    spark = batch_df.sparkSession
    os.makedirs(base_path, exist_ok=True)
    if guard_epoch(base_path, batch_id, run_id):
        # crash landed after publish but before the streaming
        # checkpoint committed: this batch is already in the
        # snapshot — exactly-once by skipping, not re-merging
        return
    batch_df = _keep_last(batch_df, key_cols, order_col)
    data_cols = [c for c in batch_df.columns if c != delete_col]
    snap = current_snapshot_path(base_path)
    if snap is not None:
        base = read_parquet(spark, snap)
    else:
        # empty base with the data schema: the first batch goes
        # through the SAME merge path (dup-key validation, delete
        # handling) as every later batch
        base = batch_df.limit(0).select(*data_cols)
    merged = merge_upsert(
        base, batch_df, key_cols, delete_col=delete_col
    )
    publish_snapshot(
        merged.select(*data_cols), base_path, batch_id,
        retain=retain_versions, run_id=run_id,
    )


def stream_merge_sink(
    updates: DataFrame,
    base_path: str,
    key_cols: list[str],
    delete_col: str | None = None,
    order_col: str | None = None,
    checkpoint_dir: str | None = None,
    retain_versions: int = 1,
):
    """Return a started-ready ``DataStreamWriter`` that merges every
    micro-batch of ``updates`` into the versioned parquet snapshot at
    ``base_path`` (created on first batch). Caller picks the trigger
    and calls ``.start()``. Read the result with
    :func:`read_snapshot` (the directory holds versions plus a
    pointer file, not bare parquet).

    ``order_col``: a column that totally orders CDC events per key
    (sequence number / commit timestamp). Each micro-batch is first
    COMPACTED to the last event per key — several changes to one key
    landing in one batch is the normal CDC case, not an error (an
    insert-then-delete batch nets out to the delete). Without
    ``order_col``, batches must carry at most one event per key
    (``merge_upsert`` validates and raises otherwise — on every batch,
    including the first).

    ``retain_versions``: how many published snapshot versions to keep
    on disk — versions older than the newest N are pruned after each
    publish. N > 1 enables :func:`read_snapshot` time travel.

    ``checkpoint_dir``: the stream's ``checkpointLocation``; its query
    id scopes the replay guard, so a fresh checkpoint over existing
    state raises instead of skipping its early epochs.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            batch_df, batch_id, base_path, key_cols,
            delete_col=delete_col, order_col=order_col,
            retain_versions=retain_versions,
            run_id=(
                checkpoint_query_id(checkpoint_dir)
                if checkpoint_dir else None
            ),
        )

    writer = updates.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
