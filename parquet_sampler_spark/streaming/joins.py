"""Streaming joins and the online exact-k sampler.

* :func:`stream_stream_attribution` — watermarked stream-stream interval
  join: each purchase joins clicks from the same user within a lookback
  window. The watermark bounds both sides' join state; without it a
  stream-stream join must keep everything forever.
* :func:`streaming_exact_sample` — the reference's exact-count-sample
  semantic, online: a k-row reservoir kept as "k smallest Lehmer-hash
  rows seen so far". Deterministic (same hash as the batch sampler),
  so after consuming the whole input the reservoir EQUALS the batch
  ``sample_exact`` top-k for the same seed — a streaming/batch
  consistency property most samplers can't offer. State is the k-row
  parquet reservoir itself; each batch does a union + top-k, cost
  O(batch + k) — independent of stream length.

Both reservoirs are folds driven by ``sinks.snapshot_stream``, which
owns the crash-atomic commit and the replayed-epoch guard; read them
with ``sinks.read_snapshot``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_sampler_spark.functions.hashing import lehmer_hash
from parquet_sampler_spark.streaming.sinks import snapshot_stream


def stream_stream_attribution(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Join each purchase to all clicks by the same user in
    ``[purchase.ts - lookback, purchase.ts]``. Both sides watermarked so
    Spark can discard join state older than the watermark."""
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts "
            f"AND c_ts >= p_ts - interval {lookback}"
        ),
        "inner",
    ).select("purchase_id", "p_user", "p_ts", "click_id", "c_ts")


def streaming_exact_sample(
    events: DataFrame,
    k: int,
    reservoir_path: str,
    key_cols: list[str],
    seed: int = 42,
    checkpoint_dir: str | None = None,
):
    """Maintain a k-row deterministic reservoir of the stream at
    ``reservoir_path`` through ``sinks.snapshot_stream`` (the commit
    protocol, ``checkpoint_dir`` and the returned ``DataStreamWriter``
    are its).

    Invariant after each batch: reservoir = k smallest (pr, key) rows
    over ALL events consumed so far — so a replayed batch is a no-op
    (idempotent, exactly-once under the snapshot sink).
    """
    pr = lehmer_hash(key_cols, seed)

    def fold(batch: DataFrame, current: DataFrame | None) -> DataFrame:
        tagged = batch.withColumn("__pr", pr)
        merged = (
            tagged if current is None else current.unionByName(tagged)
        )
        # dedupe on the logical key: a replayed/duplicated batch re-sends
        # rows already in the reservoir, and without this both copies
        # would survive the top-k — breaking replay idempotence
        # (observed in testing)
        return (
            merged.dropDuplicates(key_cols)
            .orderBy(F.col("__pr"), *key_cols).limit(k)
        )

    return snapshot_stream(events, reservoir_path, fold, checkpoint_dir)


def streaming_grouped_sample(
    events: DataFrame,
    k: int,
    reservoir_path: str,
    group_cols: list[str],
    key_cols: list[str],
    seed: int = 42,
    checkpoint_dir: str | None = None,
):
    """Per-GROUP k-row deterministic reservoir (r08): for every value
    of ``group_cols``, maintain the k smallest (pr, key) rows seen so
    far — the stratified online sample a 100 TB stream pipeline
    actually keeps (k exemplars per event type / language / source),
    where one global reservoir would drown rare strata. New groups
    appear as the stream first sees them; no pre-declared stratum
    list.

    Same invariant and driver as :func:`streaming_exact_sample`. The
    per-batch merge ranks ``row_number() <= k`` over (group → pr,
    keys): Catalyst rewrites the rank filter into WindowGroupLimit, so
    each partition keeps per-group k-heaps — O(batch + groups·k) work
    per batch, never a global sort. State is the reservoir itself:
    groups·k rows.
    """
    pr = lehmer_hash(key_cols, seed)
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__pr"), *[F.col(c) for c in key_cols]
    )

    def fold(batch: DataFrame, current: DataFrame | None) -> DataFrame:
        tagged = batch.withColumn("__pr", pr)
        merged = (
            tagged if current is None else current.unionByName(tagged)
        )
        return (
            merged.dropDuplicates(key_cols)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    return snapshot_stream(events, reservoir_path, fold, checkpoint_dir)
