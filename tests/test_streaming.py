"""Structured Streaming smoke tests: file-source stream over the events
table, stateless hash sampling, watermarked windowed rollup. The memory
sink + availableNow trigger drives each query to completion
synchronously (no timing flakes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_sampler_spark.streaming.sampling import (
    read_event_stream,
    run_stream_to_memory,
    streaming_hash_sample,
    windowed_rollup,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def event_stream(spark):
    return read_event_stream(spark, EVENTS)


def test_stream_passthrough_counts(spark, event_stream):
    out = run_stream_to_memory(event_stream)
    static_n = spark.read.parquet(EVENTS).count()
    assert out.count() == static_n


def test_streaming_sample_matches_batch_filter(spark, event_stream):
    """The hash sample is deterministic: the streaming result equals the
    same filter applied in batch — replay-safe by construction."""
    sampled = streaming_hash_sample(event_stream, 0.2, seed=9)
    out = run_stream_to_memory(sampled)

    from parquet_sampler_spark.queries_ext import _events

    batch = streaming_hash_sample(
        _events(spark, "/root/testdata/sf0.001"), 0.2, seed=9
    )
    got = sorted(r.event_id for r in out.collect())
    want = sorted(r.event_id for r in batch.collect())
    assert got == want
    n = spark.read.parquet(EVENTS).count()
    assert 0.1 * n < len(got) < 0.3 * n


def test_streaming_sample_ratio_validation(event_stream):
    with pytest.raises(ValueError):
        streaming_hash_sample(event_stream, 1.5)


def test_windowed_rollup(spark, event_stream):
    agg = windowed_rollup(event_stream, window="1 hour",
                          watermark="2 hours")
    out = run_stream_to_memory(agg, output_mode="append")
    rows = out.collect()
    assert len(rows) > 0
    # windows are hour-aligned and counts sum to ≤ total (append mode
    # emits only watermark-finalized windows)
    total = spark.read.parquet(EVENTS).count()
    assert sum(r.n_events for r in rows) <= total
    for r in rows:
        assert r.window_start.minute == 0 and r.window_start.second == 0


def test_stateful_sessionize_stream(spark, event_stream):
    """applyInPandasWithState sessionizer: closed sessions from the
    stream must agree with a batch recomputation of the same rule."""
    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    out = run_stream_to_memory(
        sessionize_stream(event_stream, gap_minutes=30)
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.session_start_us <= r.session_end_us
        assert r.n_events >= 1

    # batch recomputation: sessions whose successor gap > 30min (closed
    # sessions only — the stream keeps the final open session in state)
    from parquet_sampler_spark.queries_ext import _events
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _events(spark, "/root/testdata/sf0.001").select(
        "user_id", F.unix_micros("ts").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap_us = 30 * 60 * 1_000_000
    sess = (e.withColumn(
        "new", F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > gap_us, 1
        ).otherwise(0))
        .withColumn("sid", F.sum("new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts_us").alias("session_start_us"),
             F.max("ts_us").alias("session_end_us"),
             F.count("*").alias("n_events"))
        .withColumn("max_sid", F.max("sid").over(
            Window.partitionBy("user_id")))
        .filter(F.col("sid") < F.col("max_sid"))  # drop open sessions
        .select("user_id", "session_start_us", "session_end_us",
                "n_events"))
    want = sorted(map(tuple, sess.collect()))
    got = sorted(map(tuple, out.collect()))
    assert got == want


def test_stream_stream_attribution(spark, event_stream):
    """Watermarked stream-stream interval join: every emitted pair obeys
    the interval; pair count matches the batch interval join."""
    from parquet_sampler_spark.streaming.joins import (
        stream_stream_attribution,
    )

    purchases = event_stream.filter(F.col("event_type") == "purchase")
    clicks = event_stream.filter(F.col("event_type") == "click")
    out = run_stream_to_memory(
        stream_stream_attribution(purchases, clicks, lookback="1 hour")
    )
    rows = out.collect()
    assert rows
    for r in rows:
        assert r.c_ts <= r.p_ts
        delta = (r.p_ts - r.c_ts).total_seconds()
        assert delta <= 3600

    from parquet_sampler_spark.queries_ext import _events

    e = _events(spark, "/root/testdata/sf0.001")
    p = e.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id pu", "event_id pid", "ts pts")
    c = e.filter(F.col("event_type") == "click").selectExpr(
        "user_id cu", "event_id cid", "ts cts")
    want = p.join(c, F.expr(
        "pu = cu AND cts <= pts AND cts >= pts - interval 1 hour")).count()
    assert len(rows) == want


def test_streaming_exact_sample_matches_batch(spark, event_stream, tmp_path):
    """After consuming the whole stream, the online reservoir equals the
    batch exact-count sample with the same seed."""
    from parquet_sampler_spark.streaming.joins import streaming_exact_sample
    from parquet_sampler_spark.streaming.sinks import read_snapshot
    from parquet_sampler_spark.operators.sample import sample_exact
    from parquet_sampler_spark.queries_ext import _events

    res = str(tmp_path / "reservoir")
    q = streaming_exact_sample(
        event_stream, k=50, reservoir_path=res, key_cols=["event_id"],
        seed=5,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = sorted(
        r.event_id
        for r in read_snapshot(spark, res).select("event_id").collect()
    )
    e = _events(spark, "/root/testdata/sf0.001")
    n = e.count()
    batch = sample_exact(e, 50 / n, seed=5, key_cols=["event_id"],
                         total_rows=n)
    want = sorted(r.event_id for r in batch.select("event_id").collect())
    assert len(got) == 50
    assert got == want


def test_streaming_exact_sample_replay_idempotent(spark, event_stream,
                                                  tmp_path):
    """Replaying the entire stream against an existing reservoir must be
    a no-op (exactly-once by idempotence)."""
    from parquet_sampler_spark.streaming.joins import streaming_exact_sample
    from parquet_sampler_spark.streaming.sinks import read_snapshot

    res = str(tmp_path / "res")
    runs = []
    for _ in range(2):
        q = streaming_exact_sample(
            event_stream, k=20, reservoir_path=res,
            key_cols=["event_id"], seed=9,
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        runs.append(sorted(
            r.event_id for r in read_snapshot(spark, res).collect()))
    assert runs[0] == runs[1]
    assert len(set(runs[0])) == 20


def test_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches: batch 2 contains an event far older than the
    watermark advanced by batch 1 — the late row must NOT appear in any
    finalized window (append-mode watermark semantics)."""
    import datetime as dt

    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "stream_src"
    src.mkdir()

    def write_batch(name, rows, mtime):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        })
        path = str(src / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))  # file source orders by mtime

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch A: events across hours 0..10 (advances watermark to ~8h
    # with a 2h watermark)
    write_batch("a.parquet", [
        (i, t0 + dt.timedelta(hours=i), 1, "view", 1.0)
        for i in range(11)
    ], mtime=1_000_000)
    # batch B: hour-11 event — the 8h watermark (from batch A) now
    # applies, finalizing + evicting the hour-0 window
    write_batch("b.parquet", [(50, t0 + dt.timedelta(hours=11), 1,
                               "view", 1.0)], mtime=2_000_000)
    # batch C: one event in hour 0 again — its window is already
    # finalized and evicted → must be dropped (watermark semantics note:
    # a late row is only guaranteed-dropped once its window left the
    # state store; eviction lags the watermark by one batch)
    write_batch("c.parquet", [(99, t0 + dt.timedelta(minutes=30), 1,
                               "view", 1.0)], mtime=3_000_000)

    from parquet_sampler_spark.streaming.sampling import windowed_rollup

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = windowed_rollup(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName("late_test")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM late_test").collect()
    # hour-0 window finalized with exactly 1 event: the late row (99)
    # was dropped, not merged
    h0 = [r for r in out
          if r.window_start == t0]
    assert h0 and h0[0].n_events == 1
    # the late event contributed to NO finalized window
    assert sum(r.n_events for r in out) <= 12


def test_stateful_checkpoint_recovery(spark, tmp_path):
    """Open-session state survives a query restart via checkpointing:
    a session whose events span two separate query runs is emitted once,
    with the event count accumulated across the restart."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def wb(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    out_dir = str(tmp_path / "sessions_out")

    def run(query_name):
        # file sink: fault-tolerant, supports checkpoint recovery
        # (memory sink rejects restarts from an existing checkpoint)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(str(src))
        )
        q = (sessionize_stream(stream, gap_minutes=30)
             .writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    # run 1: two events 10 min apart — session stays OPEN in state
    wb("a.parquet", [(1, t0), (1, t0 + dt.timedelta(minutes=10))],
       1_000_000)
    out1 = run("ckpt_run1")
    assert out1 == []  # nothing closed yet

    # run 2 (fresh query, same checkpoint): one more event inside the
    # gap, then one 2h later that CLOSES the session
    wb("b.parquet", [(1, t0 + dt.timedelta(minutes=20)),
                     (1, t0 + dt.timedelta(hours=3))], 2_000_000)
    out2 = run("ckpt_run2")
    closed = [r for r in out2 if r.user_id == 1]
    assert len(closed) == 1
    s = closed[0]
    # the closed session spans the restart: events from BOTH runs
    assert s.n_events == 3
    assert s.session_start_us == int(t0.timestamp() * 1_000_000)


def test_sessionize_out_of_order_batches(spark, tmp_path):
    """A late cross-batch event merges into the open session without
    corrupting it (regression: end < start and spurious splits)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "ooo"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def wb(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    # batch 1: events at 100min and 110min (open session)
    wb("a.parquet", [(1, t0 + dt.timedelta(minutes=100)),
                     (1, t0 + dt.timedelta(minutes=110))], 1_000_000)
    # batch 2: LATE event at 95min (before last_us), then a closer at +4h
    wb("b.parquet", [(1, t0 + dt.timedelta(minutes=95)),
                     (1, t0 + dt.timedelta(hours=6))], 2_000_000)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (sessionize_stream(stream, gap_minutes=30)
         .writeStream.outputMode("append")
         .format("memory").queryName("ooo_sessions")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ooo_sessions").collect()
    assert len(rows) == 1
    s = rows[0]
    assert s.session_start_us <= s.session_end_us
    # late event merged: 3 events, start extended back to 95min
    assert s.n_events == 3
    assert s.session_start_us == int(
        (t0 + dt.timedelta(minutes=95)).timestamp() * 1_000_000)


def test_sessionize_idle_timeout_evicts_state(spark, tmp_path):
    """With idle_timeout_minutes set, a user idle past the timeout has
    their OPEN session flushed by the processing-time timeout at a later
    micro-batch (state eviction — the bounded-state mode), instead of
    staying in state forever."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "idle"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def wb(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    # batch 1: user 1 opens a session; batch 2+3: only user 2 has data,
    # so user 1's group is visited via the timeout path (a micro-batch
    # takes far longer than the 1 ms timeout, so expiry between
    # batches is deterministic on any machine)
    wb("a.parquet", [(1, t0)], 1_000_000)
    wb("b.parquet", [(2, t0 + dt.timedelta(minutes=1))], 2_000_000)
    wb("c.parquet", [(2, t0 + dt.timedelta(minutes=2))], 3_000_000)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (sessionize_stream(stream, gap_minutes=30,
                           idle_timeout_minutes=1 / 60000.0)
         .writeStream.outputMode("append")
         .format("memory").queryName("idle_sessions")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM idle_sessions").collect()
    evicted = [r for r in rows if r.user_id == 1]
    assert len(evicted) == 1
    assert evicted[0].n_events == 1
    assert evicted[0].session_start_us == int(t0.timestamp() * 1_000_000)


def test_sessionize_rejects_zero_timeout(spark, tmp_path):
    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(tmp_path)))
    with pytest.raises(ValueError, match="millisecond"):
        sessionize_stream(stream, idle_timeout_minutes=0)


def test_sessionize_event_time_timeout_closes_by_watermark(spark, tmp_path):
    """Event-time timeout mode: a session is closed when the WATERMARK
    passes last_event + gap — deterministic (replay-identical), no
    wall-clock dependence. User 1's lone event must be emitted once
    user 2's much-later events advance the watermark past the gap."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "evt"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def wb(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    wb("a.parquet", [(1, t0)], 1_000_000)
    # user 2 events far past t0 + gap(30m) + watermark delay(10m);
    # two batches because watermark eviction lags one batch
    wb("b.parquet", [(2, t0 + dt.timedelta(hours=2))], 2_000_000)
    wb("c.parquet", [(2, t0 + dt.timedelta(hours=2, minutes=1))],
       3_000_000)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src))
              .withWatermark("ts", "10 minutes"))
    q = (sessionize_stream(stream, gap_minutes=30,
                           event_time_timeout=True)
         .writeStream.outputMode("append")
         .format("memory").queryName("evt_sessions")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM evt_sessions").collect()
    closed = [r for r in rows if r.user_id == 1]
    assert len(closed) == 1
    assert closed[0].n_events == 1
    assert closed[0].session_start_us == int(t0.timestamp() * 1_000_000)


def test_sessionize_timeout_modes_exclusive(spark, tmp_path):
    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(tmp_path)))
    with pytest.raises(ValueError, match="mutually exclusive"):
        sessionize_stream(stream, idle_timeout_minutes=1,
                          event_time_timeout=True)


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed event ids arriving within
    the lateness window are emitted exactly once, with key-memory
    expiring at the watermark (bounded state)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.sampling import streaming_dedup

    src = tmp_path / "dups"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def wb(name, rows, mtime):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    wb("a.parquet", [(1, t0), (2, t0), (3, t0)], 1_000_000)
    wb("b.parquet", [(2, t0 + dt.timedelta(minutes=1)),
                     (3, t0 + dt.timedelta(minutes=1)),
                     (4, t0 + dt.timedelta(minutes=1))], 2_000_000)

    stream = (spark.readStream.schema("event_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (streaming_dedup(stream, ["event_id"], delay="10 minutes")
         .writeStream.outputMode("append")
         .format("memory").queryName("deduped_events")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    ids = sorted(r.event_id
                 for r in spark.sql("SELECT * FROM deduped_events").collect())
    assert ids == [1, 2, 3, 4]


def test_stream_merge_sink_applies_cdc_batches(spark, tmp_path):
    """foreachBatch CDC apply: two micro-batches of upserts/deletes
    merged sequentially into a parquet snapshot — final state equals
    insert(k1,k2) → update(k2) + delete(k1) + insert(k3)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.sinks import (
        read_snapshot,
        stream_merge_sink,
    )

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

    base = str(tmp_path / "snapshot")
    stream = (spark.readStream
              .schema("k long, v double, is_deleted boolean")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (stream_merge_sink(stream, base, ["k"], delete_col="is_deleted",
                           checkpoint_dir=str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert got == {2: 21.0, 3: 30.0}


def test_stream_merge_sink_compacts_multi_event_batches(spark, tmp_path):
    """Several CDC events for one key inside ONE micro-batch are the
    normal case: with order_col the batch compacts to the last event
    per key, so insert-then-delete nets out to the delete — including
    on the very first batch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.sinks import (
        read_snapshot,
        stream_merge_sink,
    )

    src = tmp_path / "cdc2"
    src.mkdir()
    tbl = pa.table({
        "k": pa.array([1, 1, 2], pa.int64()),
        "v": pa.array([10.0, 0.0, 20.0], pa.float64()),
        "is_deleted": pa.array([False, True, False], pa.bool_()),
        "seq": pa.array([1, 2, 1], pa.int64()),
    })
    pq.write_table(tbl, str(src / "a.parquet"))

    base = str(tmp_path / "snap2")
    stream = (spark.readStream
              .schema("k long, v double, is_deleted boolean, seq long")
              .parquet(str(src)))
    q = (stream_merge_sink(stream, base, ["k"], delete_col="is_deleted",
                           order_col="seq",
                           checkpoint_dir=str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert got == {2: 20.0}


def test_stream_merge_sink_survives_crash_before_publish(spark, tmp_path,
                                                       monkeypatch):
    """Crash-injection through the commit window: kill the sink after
    batch 1's snapshot write but BEFORE the pointer publish. The old
    snapshot (batch 0's state) must remain the live, readable version;
    restarting the stream from the same checkpoint must replay batch 1
    and land on the exactly-once final state."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming import sinks
    from parquet_sampler_spark.streaming.sinks import (
        read_snapshot,
        stream_merge_sink,
    )

    src = tmp_path / "cdc3"
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

    base = str(tmp_path / "snap3")
    ckpt = str(tmp_path / "ck3")

    def make_stream():
        return (spark.readStream
                .schema("k long, v double, is_deleted boolean")
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    # run 1: batch 0 commits, batch 1 crashes between write and publish
    publish = sinks._publish

    def crash_on_batch_1(base_path, version_name, run_id=None):
        if version_name == "v00000001":
            raise RuntimeError(f"injected crash before publishing "
                               f"{version_name}")
        publish(base_path, version_name, run_id)

    with monkeypatch.context() as m:
        m.setattr(sinks, "_publish", crash_on_batch_1)
        q = (stream_merge_sink(make_stream(), base, ["k"],
                               delete_col="is_deleted",
                               checkpoint_dir=ckpt)
             .trigger(availableNow=True).start())
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)

    # old snapshot still live and readable: batch 0's state, untouched
    got = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert got == {1: 10.0, 2: 20.0}

    # batch 1's dir was WRITTEN but never published: it is uncommitted
    # data and must be neither listed nor servable as a version read
    from parquet_sampler_spark.streaming.sinks import (
        list_snapshot_versions,
    )

    assert os.path.isdir(os.path.join(base, "v00000001"))
    assert list_snapshot_versions(base) == [0]
    with pytest.raises(FileNotFoundError, match=r"available: \[0\]"):
        read_snapshot(spark, base, version=1)

    # run 2: same checkpoint, no fault — batch 1 replays and publishes
    q = (stream_merge_sink(make_stream(), base, ["k"],
                           delete_col="is_deleted", checkpoint_dir=ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert got == {2: 21.0, 3: 30.0}


def test_stream_merge_sink_skips_republished_batch(spark, tmp_path):
    """Crash AFTER publish but before the streaming checkpoint commit:
    the replayed batch finds the pointer already at its own batch id
    and must skip — the snapshot is not re-merged (exactly-once, pinned
    by the version check rather than idempotence)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.sinks import (
        published_epoch,
        read_snapshot,
        stream_merge_sink,
    )

    src = tmp_path / "cdc4"
    src.mkdir()
    tbl = pa.table({
        "k": pa.array([1], pa.int64()),
        "v": pa.array([1.0], pa.float64()),
    })
    pq.write_table(tbl, str(src / "a.parquet"))

    base = str(tmp_path / "snap4")
    ckpt = str(tmp_path / "ckA")

    # first run publishes batch 0 with checkpoint A
    q = (stream_merge_sink(
            (spark.readStream.schema("k long, v double")
             .parquet(str(src))),
            base, ["k"], checkpoint_dir=ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert published_epoch(base) == 0
    snap_before = os.path.getmtime(
        os.path.join(base, "v00000000"))

    # drop batch 0's commit record (and its checksum): the restart
    # from checkpoint A replays batch 0, as after a crash after
    # publish, before the checkpoint commit
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    q = (stream_merge_sink(
            (spark.readStream.schema("k long, v double")
             .parquet(str(src))),
            base, ["k"], checkpoint_dir=ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    # skipped: same version dir, untouched on disk
    assert published_epoch(base) == 0
    assert os.path.getmtime(
        os.path.join(base, "v00000000")) == snap_before
    got = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert got == {1: 1.0}


def test_stream_merge_sink_time_travel_retention(spark, tmp_path):
    """retain_versions=2 keeps the previous snapshot on disk: after two
    batches, version 0 is readable as the pre-merge state (VERSION AS
    OF), the live read reflects batch 1, and a pruned/never-published
    version raises with the retained list."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from parquet_sampler_spark.streaming.sinks import (
        list_snapshot_versions,
        read_snapshot,
        stream_merge_sink,
    )

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
    wb("b.parquet", [(2, 21.0, False), (1, 0.0, True)], 2_000_000)

    base = str(tmp_path / "snapshot")
    stream = (spark.readStream
              .schema("k long, v double, is_deleted boolean")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (stream_merge_sink(stream, base, ["k"], delete_col="is_deleted",
                           checkpoint_dir=str(tmp_path / "ckpt"),
                           retain_versions=2)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    assert list_snapshot_versions(base) == [0, 1]
    v0 = {r.k: r.v for r in
          read_snapshot(spark, base, version=0).collect()}
    assert v0 == {1: 10.0, 2: 20.0}
    live = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert live == {2: 21.0}
    with pytest.raises(FileNotFoundError, match=r"available: \[0, 1\]"):
        read_snapshot(spark, base, version=7)


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark state is BOUNDED: a duplicate
    arriving within the delay is dropped; one arriving after the
    watermark expired its key's state is NOT (that's the contract that
    keeps state finite on an infinite stream — vs dropDuplicates which
    would dedup both but leak state forever)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.sampling import (
        read_event_stream,
        streaming_dedup,
    )

    src = tmp_path / "dedup_src"
    src.mkdir()

    def write_batch(name, rows, mtime):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        })
        path = str(src / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch A: key 1 at hour 0, key 2 at hour 0:30 — and an in-batch
    # duplicate of key 1 (dropped: state is fresh)
    write_batch("a.parquet", [
        (1, t0, 1, "view", 1.0),
        (1, t0 + dt.timedelta(minutes=5), 1, "view", 1.0),
        (2, t0 + dt.timedelta(minutes=30), 1, "view", 1.0),
    ], mtime=1_000_000)
    # batch B: advance the watermark far past key 1's expiry
    # (delay = 1h → key-1 state expires once watermark > t0:05 + 1h)
    write_batch("b.parquet", [
        (9, t0 + dt.timedelta(hours=10), 1, "view", 1.0),
    ], mtime=2_000_000)
    # batch C: one more batch — state eviction runs at END of batch, so
    # key 1's entry is actually removed after this batch (wm 9h)
    write_batch("c.parquet", [
        (8, t0 + dt.timedelta(hours=10, minutes=30), 1, "view", 1.0),
    ], mtime=3_000_000)
    # batch D: key 1 again, above the 9:30 watermark so not LATE, and
    # its dedup state was evicted at the end of batch C — EMITTED again
    write_batch("d.parquet", [
        (1, t0 + dt.timedelta(hours=9, minutes=45), 1, "view", 1.0),
    ], mtime=4_000_000)

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    dd = streaming_dedup(stream, ["event_id"], "ts", "1 hour")
    q = (
        dd.writeStream.format("memory").queryName("t_sdd_bounded")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r.event_id, r.ts.minute + 60 * r.ts.hour)
        for r in spark.table("t_sdd_bounded").collect()
    )
    # key 1 appears TWICE (fresh emit + post-expiry re-emit), the
    # within-delay duplicate at minute 5 is dropped, keys 2/8/9 once
    assert got == [(1, 0), (1, 585), (2, 30), (8, 630), (9, 600)]


def test_native_session_window_matches_stateful(spark):
    """The JVM-native session_window sessionizer (r07) must emit the
    exact session set the applyInPandasWithState fold emits on the
    same replayed stream — bounds as min/max EVENT time, counts
    included. The two implementations share only the sentinel source;
    state machinery is disjoint (JVM state store vs Python fold), so
    equality here pins the session semantics, not the plumbing.
    Exact-gap ties merge identically under both rules (pinned by
    test_sessionize_exact_gap_tie_semantics), so the equality is
    corpus-independent."""
    from parquet_sampler_spark import queries_ext as QX

    sf = "/root/testdata/sf0.001"
    stateful = sorted(
        map(tuple, QX._q_streaming_sessionize(spark, sf).collect())
    )
    native = sorted(
        map(tuple, QX._q_streaming_sessionize_native(spark, sf).collect())
    )
    assert native == stateful and native


def test_sessionize_exact_gap_tie_semantics(spark, tmp_path):
    """Pin the exact-gap tie boundary (VERDICT r07 #4): an event
    landing EXACTLY ``gap`` after its predecessor. The stateful fold
    (and the registered batch oracle) use strict ``delta > gap`` to
    open a session, so the tie stays MERGED — and, measured here
    rather than assumed, Spark's ``session_window`` does the SAME:
    its gap extension is inclusive (an event at ``prev + gap`` still
    merges; verified on pyspark 4.x by this test), NOT the half-open
    ``[t, t+gap)`` split the r07 docstring hypothesized. So the two
    engines agree even on ties and the native row's green is a
    semantics match by construction, not corpus-conditional."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "tie"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def wb(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    # the tie pair: second event EXACTLY 30 min after the first;
    # a +6h closer in a LATER file advances the watermark/gap rule so
    # both engines emit the tie pair's session(s) before drain
    wb("a.parquet", [(1, t0), (1, t0 + dt.timedelta(minutes=30))],
       1_000_000)
    wb("b.parquet", [(1, t0 + dt.timedelta(hours=6))], 2_000_000)

    def file_stream():
        return (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )

    # stateful fold, strict > gap: tie pair MERGES -> 1 closed session
    q = (sessionize_stream(file_stream(), gap_minutes=30)
         .writeStream.outputMode("append")
         .format("memory").queryName("tie_fold")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    fold = sorted(
        (r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.table("tie_fold").collect()
    )
    us = lambda d: int(d.timestamp() * 1_000_000)
    assert fold == [(us(t0), us(t0 + dt.timedelta(minutes=30)), 2)]

    # session_window: inclusive gap extension — tie MERGES here too
    native = (
        file_stream().withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.min("ts").alias("smin"), F.max("ts").alias("smax"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_micros("smin").alias("session_start_us"),
                F.unix_micros("smax").alias("session_end_us"),
                "n_events")
    )
    q = (native.writeStream.outputMode("append")
         .format("memory").queryName("tie_native")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    nat = sorted(
        (r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.table("tie_native").collect()
    )
    assert nat == fold  # same session set, tie included


def test_streaming_exact_sample_kill_restart_checkpoint(spark, tmp_path):
    """Restart/exactly-once e2e (VERDICT r07 #6): a foreachBatch
    reservoir query is KILLED mid-stream (stop() after at least one
    committed batch of a 3-file source) and restarted from the same
    checkpoint — the final reservoir must equal the uninterrupted
    run's, byte for byte. The guarantee composes from (a) checkpointed
    source offsets (the restart resumes where the kill landed, and an
    aborted in-flight batch replays) and (b) the merge being
    replay-idempotent (dedup on the logical key + deterministic
    top-k), so at-least-once delivery yields exactly-once state."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.joins import streaming_exact_sample
    from parquet_sampler_spark.streaming.sinks import read_snapshot

    src = tmp_path / "krsrc"
    src.mkdir()
    for i in range(3):
        ids = list(range(i * 1000, (i + 1) * 1000))
        tbl = pa.table({"event_id": pa.array(ids, pa.int64())})
        pq.write_table(tbl, str(src / f"f{i}.parquet"))
        os.utime(str(src / f"f{i}.parquet"),
                 (1_000_000 * (i + 1),) * 2)

    def stream():
        return (spark.readStream.schema("event_id long")
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    ckpt = str(tmp_path / "ckpt")
    res = str(tmp_path / "res")
    # checkpoint_dir through the maintainer: run-identity scoping on
    # (the guard compares epochs only within this checkpoint's query)
    q = (streaming_exact_sample(stream(), k=25, reservoir_path=res,
                                key_cols=["event_id"], seed=3,
                                checkpoint_dir=ckpt)
         .trigger(processingTime="50 milliseconds").start())
    ptr = os.path.join(res, "_CURRENT")
    deadline = time.time() + 60
    while not os.path.exists(ptr) and time.time() < deadline:
        time.sleep(0.05)
    q.stop()  # kill: between batches or with one in flight
    q.awaitTermination(60)
    assert os.path.exists(ptr), "no batch published before the kill"

    # restart from the SAME checkpoint; drain whatever remains
    q2 = (streaming_exact_sample(stream(), k=25, reservoir_path=res,
                                 key_cols=["event_id"], seed=3,
                                 checkpoint_dir=ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got = sorted(r.event_id for r in read_snapshot(spark, res).collect())

    # uninterrupted control: fresh checkpoint + fresh reservoir
    res2 = str(tmp_path / "res_ctl")
    q3 = (streaming_exact_sample(stream(), k=25, reservoir_path=res2,
                                 key_cols=["event_id"], seed=3,
                                 checkpoint_dir=str(tmp_path / "ckpt_ctl"))
          .trigger(availableNow=True).start())
    q3.awaitTermination(120)
    want = sorted(
        r.event_id for r in read_snapshot(spark, res2).collect()
    )
    assert len(got) == 25
    assert got == want


def test_streaming_grouped_sample_matches_batch(spark, event_stream,
                                                tmp_path):
    """Per-stratum reservoir (r08): after draining the stream, every
    group's reservoir equals the batch per-group hash top-k — and no
    group exceeds k even when strata are wildly unbalanced."""
    from pyspark.sql import Window

    from parquet_sampler_spark.queries_ext import _events
    from parquet_sampler_spark.streaming.joins import streaming_grouped_sample
    from parquet_sampler_spark.streaming.sinks import read_snapshot
    from parquet_sampler_spark.functions.hashing import lehmer_hash

    res = str(tmp_path / "gres")
    q = streaming_grouped_sample(
        event_stream, k=7, reservoir_path=res,
        group_cols=["event_type"], key_cols=["event_id"], seed=11,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = sorted(
        (r.event_type, r.event_id)
        for r in read_snapshot(spark, res).collect()
    )
    e = _events(spark, "/root/testdata/sf0.001")
    w = Window.partitionBy("event_type").orderBy(
        lehmer_hash(["event_id"], 11), "event_id"
    )
    want = sorted(
        (r.event_type, r.event_id)
        for r in e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 7).collect()
    )
    assert got == want
    from collections import Counter

    per_group = Counter(t for t, _ in got)
    assert all(c <= 7 for c in per_group.values())
    assert len(per_group) == e.select("event_type").distinct().count()


def test_streaming_quantile_summaries_envelope(spark, tmp_path):
    """Online mergeable quantiles (r08): per-group summaries
    maintained across micro-batches must answer quantiles inside the
    same rank envelope as the batch build, with state bounded by
    groups x cap — the mergeability claim exercised as streaming
    state, not just a batch rollup."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.operators.sketches import merged_quantiles
    from parquet_sampler_spark.streaming.quantiles import (
        streaming_quantile_summaries,
    )
    from parquet_sampler_spark.streaming.sinks import read_snapshot

    src = tmp_path / "qsrc"
    src.mkdir()
    rng = np.random.default_rng(23)
    vals = rng.lognormal(2.0, 1.0, size=40_000)
    half = len(vals) // 2
    for i, chunk in enumerate((vals[:half], vals[half:])):
        tbl = pa.table({
            "g": pa.array(["a"] * len(chunk)),
            "v": pa.array(chunk, pa.float64()),
        })
        pq.write_table(tbl, str(src / f"f{i}.parquet"))
        os.utime(str(src / f"f{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    sum_path = str(tmp_path / "summ")
    stream = (spark.readStream.schema("g string, v double")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = streaming_quantile_summaries(
        stream, ["g"], "v", sum_path, cap=256
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    summ = read_snapshot(spark, sum_path).collect()
    # bounded state: ONE summary row per group, <= cap kept values
    assert len(summ) == 1 and len(summ[0].vals) <= 256

    est = merged_quantiles(
        read_snapshot(spark, sum_path), ["g"], [0.5, 0.9]
    ).collect()[0]
    s = np.sort(vals)
    for p, v in ((0.5, est.q50), (0.9, est.q90)):
        lo = np.searchsorted(s, v, side="left") / len(s)
        hi = np.searchsorted(s, v, side="right") / len(s)
        assert lo - 0.01 <= p <= hi + 0.01, (p, v, lo, hi)


def test_streaming_heavy_hitters_matches_batch(spark, tmp_path):
    """Online Misra-Gries (r08): after draining a multi-batch stream,
    candidates-from-state + exact verify must equal the batch
    heavy_hitters operator — the MG merge's superset guarantee,
    exercised across micro-batch boundaries with a skewed stream
    whose heavy key is SPREAD so no single batch makes it heavy."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.operators.sketches import heavy_hitters
    from parquet_sampler_spark.streaming.frequency import (
        heavy_hitters_from_stream,
        streaming_heavy_hitters,
    )

    src = tmp_path / "hhsrc"
    src.mkdir()
    # 3 batches; key "hot" is ~15% overall but only via accumulation,
    # plus per-batch-local noise keys that must NOT survive verify
    batches = [
        ["hot"] * 60 + [f"a{i}" for i in range(250)],
        ["hot"] * 60 + [f"b{i}" for i in range(250)],
        ["hot"] * 60 + [f"c{i}" for i in range(250)],
    ]
    for i, terms in enumerate(batches):
        pq.write_table(
            pa.table({"term": pa.array(terms)}), str(src / f"f{i}.parquet")
        )
        os.utime(str(src / f"f{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    sum_path = str(tmp_path / "hh_state")
    stream = (spark.readStream.schema("term string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    # "hot" is 180/930 = 19.4%: above 1/6 (strict 180*6=1080 > 930)
    # but NO single batch alone decides it — the merge must carry it
    k = 6
    q = streaming_heavy_hitters(stream, "term", k, sum_path) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    data = spark.read.parquet(str(src))
    got = sorted(
        map(tuple, heavy_hitters_from_stream(
            spark, sum_path, data, "term", k
        ).collect())
    )
    want = sorted(map(tuple, heavy_hitters(data, "term", k).collect()))
    assert got == want
    assert got == [("hot", 180)]


def test_additive_snapshot_state_skips_replayed_epoch(spark, tmp_path):
    """The published-epoch guard on additive snapshot state (r08 code
    review): a crash can land after the pointer swap but before the
    streaming checkpoint commits, so a restart REPLAYS an epoch whose
    counts/weights are already in the snapshot. The sink must skip
    it — here simulated by re-draining a one-file prefix of the
    stream against the same state path with a fresh checkpoint: the
    replayed epoch id (0) is at or below the published epoch (1), so
    the state must come back byte-identical, not double-weighted
    toward the prefix's distribution."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.quantiles import (
        streaming_quantile_summaries,
    )
    from parquet_sampler_spark.streaming.sinks import (
        published_epoch,
        read_snapshot,
    )

    src = tmp_path / "qsrc"
    src.mkdir()
    # file A: low values; file B: high values — a replay that
    # double-weights A would drag p50 down measurably
    for i, (lo, hi) in enumerate(((0.0, 100.0), (1000.0, 1100.0))):
        vals = np.linspace(lo, hi, 5000)
        pq.write_table(
            pa.table({"g": pa.array(["x"] * len(vals)),
                      "v": pa.array(vals, pa.float64())}),
            str(src / f"f{i}.parquet"),
        )
        os.utime(str(src / f"f{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    sum_path = str(tmp_path / "state")

    def drain(src_dir, ckpt):
        stream = (spark.readStream.schema("g string, v double")
                  .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (streaming_quantile_summaries(stream, ["g"], "v", sum_path,
                                          cap=128)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain(str(src), "ckpt1")
    assert published_epoch(sum_path) == 1
    before = read_snapshot(spark, sum_path).collect()

    # replay scenario: a fresh checkpoint over only file A re-delivers
    # epoch 0, whose weight is already in the snapshot
    prefix = tmp_path / "qsrc_prefix"
    prefix.mkdir()
    os.link(str(src / "f0.parquet"), str(prefix / "f0.parquet"))
    drain(str(prefix), "ckpt2")

    after = read_snapshot(spark, sum_path).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert published_epoch(sum_path) == 1  # nothing republished


def test_streaming_quantiles_kill_restart_checkpoint(spark, tmp_path):
    """Kill-restart e2e for the ADDITIVE quantile-summary state (the
    reservoir got this in r08; this closes the symmetric gap): stop()
    after at least one published epoch of a 3-file source, restart
    from the same checkpoint, and the final per-group summary must
    equal the uninterrupted run's byte for byte. Valid as an equality
    (not envelope) check because batch boundaries replay exactly from
    the checkpointed offsets and the published-epoch guard skips
    re-merges — the lossy grid merge sees the identical merge tree."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.quantiles import (
        streaming_quantile_summaries,
    )
    from parquet_sampler_spark.streaming.sinks import read_snapshot

    src = tmp_path / "qsrc"
    src.mkdir()
    for i in range(3):
        n = 4000
        vals = [((j * 2654435761 + i * 97) % 100_000) / 7.0
                for j in range(n)]
        tbl = pa.table({
            "grp": pa.array([f"g{j % 3}" for j in range(n)]),
            "v": pa.array(vals, pa.float64()),
        })
        pq.write_table(tbl, str(src / f"f{i}.parquet"))
        os.utime(str(src / f"f{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    def stream():
        return (spark.readStream.schema("grp string, v double")
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    def run(summary_path, ckpt, trigger_kwargs):
        return (
            streaming_quantile_summaries(
                stream(), ["grp"], "v", summary_path, cap=64,
                checkpoint_dir=ckpt)
            .trigger(**trigger_kwargs).start()
        )

    sp = str(tmp_path / "summ")
    ckpt = str(tmp_path / "ckpt")
    q = run(sp, ckpt, {"processingTime": "50 milliseconds"})
    ptr = os.path.join(sp, "_CURRENT")
    deadline = time.time() + 60
    while not os.path.exists(ptr) and time.time() < deadline:
        time.sleep(0.05)
    q.stop()  # kill between batches or with one in flight
    q.awaitTermination(60)
    assert os.path.exists(ptr), "no epoch published before the kill"

    q2 = run(sp, ckpt, {"availableNow": True})
    q2.awaitTermination(120)

    sp_ctl = str(tmp_path / "summ_ctl")
    q3 = run(sp_ctl, str(tmp_path / "ckpt_ctl"), {"availableNow": True})
    q3.awaitTermination(120)

    def snap(p):
        return sorted(
            tuple(r) for r in read_snapshot(spark, p).collect()
        )

    got, want = snap(sp), snap(sp_ctl)
    assert got == want and len(got) > 0


def test_streaming_heavy_hitters_kill_restart_checkpoint(spark, tmp_path):
    """Same kill-restart contract for the Misra-Gries state: the
    restarted run's (key, cnt) counters and the (NULL, n) row-count
    marker must equal the uninterrupted run's exactly."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.frequency import (
        streaming_heavy_hitters,
    )
    from parquet_sampler_spark.streaming.sinks import current_snapshot_path

    src = tmp_path / "hsrc"
    src.mkdir()
    for i in range(3):
        keys = (["hot"] * 500
                + [f"k{(j * 31 + i) % 40}" for j in range(700)])
        tbl = pa.table({"key": pa.array(keys)})
        pq.write_table(tbl, str(src / f"f{i}.parquet"))
        os.utime(str(src / f"f{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    def stream():
        return (spark.readStream.schema("key string")
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    def run(summary_path, ckpt, trigger_kwargs):
        return (
            streaming_heavy_hitters(stream(), "key", 8, summary_path,
                                    checkpoint_dir=ckpt)
            .trigger(**trigger_kwargs).start()
        )

    sp = str(tmp_path / "hh")
    ckpt = str(tmp_path / "hckpt")
    q = run(sp, ckpt, {"processingTime": "50 milliseconds"})
    ptr = os.path.join(sp, "_CURRENT")
    deadline = time.time() + 60
    while not os.path.exists(ptr) and time.time() < deadline:
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    assert os.path.exists(ptr), "no epoch published before the kill"

    q2 = run(sp, ckpt, {"availableNow": True})
    q2.awaitTermination(120)

    sp_ctl = str(tmp_path / "hh_ctl")
    q3 = run(sp_ctl, str(tmp_path / "hckpt_ctl"), {"availableNow": True})
    q3.awaitTermination(120)

    def snap(p):
        cur = current_snapshot_path(p)
        return {
            (r.key, r.cnt) for r in spark.read.parquet(cur).collect()
        }

    got, want = snap(sp), snap(sp_ctl)
    assert got == want
    # the marker row carries the full stream's row count
    assert (None, 3 * 1200) in got


def test_fresh_checkpoint_over_live_state_raises(spark, tmp_path):
    """Run-identity scoping (r8 ADVICE): epoch ids are checkpoint-
    scoped, so a FRESH checkpoint driving EXISTING snapshot state
    restarts numbering at 0 and the bare epoch compare would silently
    skip early epochs carrying genuinely new data. With
    ``checkpoint_dir`` managed by the maintainer, the guard records
    the publishing query's id and a different query must RAISE, not
    silently drop the batch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.streaming.quantiles import (
        streaming_quantile_summaries,
    )
    from parquet_sampler_spark.streaming.sinks import (
        published_epoch,
        published_run_id,
        read_snapshot,
        stream_merge_sink,
    )

    src = tmp_path / "rsrc"
    src.mkdir()

    def add_file(i, lo):
        vals = [lo + j / 100.0 for j in range(2000)]
        pq.write_table(
            pa.table({"g": pa.array(["x"] * len(vals)),
                      "v": pa.array(vals, pa.float64())}),
            str(src / f"f{i}.parquet"),
        )
        os.utime(str(src / f"f{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    add_file(0, 0.0)
    add_file(1, 100.0)
    sp = str(tmp_path / "state")

    def drain(ckpt):
        stream = (spark.readStream.schema("g string, v double")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = (streaming_quantile_summaries(
                stream, ["g"], "v", sp, cap=64,
                checkpoint_dir=str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain("ck1")
    assert published_epoch(sp) == 1
    run1 = published_run_id(sp)
    assert run1 is not None  # identity recorded on the pointer

    # the source GAINS a file; a fresh checkpoint re-delivers
    # everything starting at epoch 0 — under the old bare epoch
    # compare, epochs 0..1 (including the new file's data, if it
    # lands there) would be silently skipped
    add_file(2, 1000.0)
    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="fresh checkpoint"):
        drain("ck2")
    # state untouched by the refused run: same epoch, same identity
    assert published_epoch(sp) == 1
    assert published_run_id(sp) == run1

    # the ORIGINAL checkpoint may keep driving the state: it resumes
    # at epoch 2 with only the new file and merges it in
    drain("ck1")
    assert published_epoch(sp) == 2
    assert published_run_id(sp) == run1

    # the CDC merge sink takes the same guard: a fresh checkpoint over
    # a live CDC table raises instead of skipping epochs 0..N
    cdc = tmp_path / "cdcsrc"
    cdc.mkdir()

    def add_change(i, k, v):
        pq.write_table(
            pa.table({"k": pa.array([k], pa.int64()),
                      "v": pa.array([v], pa.float64())}),
            str(cdc / f"c{i}.parquet"),
        )
        os.utime(str(cdc / f"c{i}.parquet"), (1_000_000 * (i + 1),) * 2)

    add_change(0, 1, 1.0)
    add_change(1, 2, 2.0)
    base = str(tmp_path / "cdc_state")

    def merge(ckpt):
        stream = (spark.readStream.schema("k long, v double")
                  .option("maxFilesPerTrigger", 1).parquet(str(cdc)))
        q = (stream_merge_sink(stream, base, ["k"],
                               checkpoint_dir=str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    merge("cdc1")
    assert published_epoch(base) == 1
    cdc_run = published_run_id(base)
    assert cdc_run is not None

    add_change(2, 3, 3.0)
    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="fresh checkpoint"):
        merge("cdc2")
    assert published_epoch(base) == 1
    assert published_run_id(base) == cdc_run

    merge("cdc1")
    assert published_epoch(base) == 2
    got = {r.k: r.v for r in read_snapshot(spark, base).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}

    # and so does the bucketed CDC sink, whose pointer names a manifest
    from parquet_sampler_spark.streaming.incremental import (
        incremental_merge_sink,
        read_incremental_snapshot,
    )

    inc = str(tmp_path / "inc_state")

    def merge_inc(ckpt):
        stream = (spark.readStream.schema("k long, v double")
                  .option("maxFilesPerTrigger", 1).parquet(str(cdc)))
        q = (incremental_merge_sink(stream, inc, ["k"], nbuckets=4,
                                    checkpoint_dir=str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    merge_inc("inc1")
    assert published_epoch(inc) == 2
    inc_run = published_run_id(inc)
    assert inc_run is not None

    add_change(3, 4, 4.0)
    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="fresh checkpoint"):
        merge_inc("inc2")
    assert published_epoch(inc) == 2
    assert published_run_id(inc) == inc_run

    merge_inc("inc1")
    assert published_epoch(inc) == 3
    got = {r.k: r.v for r in read_incremental_snapshot(spark, inc).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}


def test_watermark_filter_lags_one_batch(spark, tmp_path):
    """Pin the EXACT drop-rule timing the streaming_late_watermark
    oracle replicates: the watermark applied to batch i's rows derives
    from the event-time stats of batches ≤ i−2 (a batch's stats fold
    in when the NEXT batch is constructed). Batch C carries two
    stragglers: one late against batch A's max (dropped) and one late
    only against batch B's max (ACCEPTED — under a no-lag model it
    would be dropped)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "lagsrc"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def write_batch(name, hours, mtime):
        tbl = pa.table({
            "ts": pa.array([t0 + dt.timedelta(hours=h) for h in hours],
                           pa.timestamp("us")),
        })
        path = str(src / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    write_batch("a.parquet", list(range(11)), 1_000_000)   # max 10h
    write_batch("b.parquet", [20], 2_000_000)              # max 20h
    # batch C sees wm = max(A) - 2h = 8h, NOT max(B) - 2h = 18h:
    #  - 5.5h -> window [5,6) end 6h <= 8h  -> dropped
    #  - 9.5h -> window [9,10) end 10h > 8h -> accepted (would be
    #    dropped under the no-lag model: 10h <= 18h)
    write_batch("c.parquet", [5.5, 9.5], 3_000_000)
    # batch D advances the final watermark to 21h - 2h = 19h so the
    # hour-9 window finalizes and reaches the append sink
    write_batch("d.parquet", [21], 4_000_000)

    stream = (spark.readStream.schema("ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    agg = (stream.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("w.start").alias("ws"), "n"))
    q = (agg.writeStream.format("memory").queryName("wm_lag")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.ws: r.n for r in spark.sql("SELECT * FROM wm_lag").collect()}

    assert got[t0 + dt.timedelta(hours=5)] == 1   # straggler dropped
    assert got[t0 + dt.timedelta(hours=9)] == 2   # straggler accepted


def test_streaming_sample_equals_batch(spark):
    """Stream/batch parity of the stateless threshold sampler: the
    drained stream output is EXACTLY the batch operator's relation."""
    from parquet_sampler_spark.operators.sample import sample_threshold
    from parquet_sampler_spark.queries import _OP_RATIO, _OP_SEED
    from parquet_sampler_spark.queries_ext import _q_streaming_sample

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in _q_streaming_sample(spark, sf).collect()
    )
    want = sorted(
        tuple(r)
        for r in sample_threshold(
            spark.read.parquet(f"{sf}/orders.parquet"), _OP_RATIO,
            key_cols=["o_orderkey"], seed=_OP_SEED,
        ).collect()
    )
    assert got == want and got
