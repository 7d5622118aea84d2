"""Structured Streaming extensions: streaming sampling and windowed
rollups over an event stream.

The reference is strictly batch (SURVEY.md §2.2) — this module is the
beyond-reference streaming surface, built on the public Structured
Streaming API: ``readStream`` → transforms → ``writeStream``, watermarks
for late data, and :func:`run_stream_to_memory`, the one memory-sink
drain.

Design for scale: the streaming hash-sampler is embarrassingly parallel
(a pushdown filter per micro-batch, no state); the windowed rollup is
the canonical watermarked tumbling-window aggregation whose state store
holds one row per (window, event_type).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_sampler_spark.functions.hashing import MODULUS, lehmer_hash
from parquet_sampler_spark.sources.io import read_parquet


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Parquet-directory source for the events table (file-based stream;
    in production the same plan runs off Kafka — source swap only).

    Normalizes the ``ts`` column to TIMESTAMP_LTZ micros the same way
    the batch path does, whether the files carry TIMESTAMP(NANOS)
    (readable only as long) or TIMESTAMP(MICROS) (read as NTZ).
    """
    import os

    from parquet_sampler_spark.queries_ext import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # _normalize_ts's NTZ->LTZ cast reinterprets wall-clock in the
    # session zone; pin UTC exactly like the batch _events path so an
    # externally created non-UTC session can't shift streaming instants.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # streaming requires an explicit schema
    static = read_parquet(spark, path)
    # the file-stream source only accepts directories: stream the parent
    # dir with a glob filter when pointed at a single file
    if path.endswith(".parquet") and os.path.isfile(path):
        base, fname = os.path.dirname(path), os.path.basename(path)
    else:
        base, fname = path, "*.parquet"
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    return _normalize_ts(stream)


def streaming_hash_sample(
    events: DataFrame, ratio: float, seed: int = 42,
    key_col: str = "event_id",
) -> DataFrame:
    """Stateless streaming Bernoulli-by-hash sample: keep rows whose
    seeded Lehmer hash falls under ``ratio`` of the hash space.

    Unlike ``F.rand``-based sampling this is (a) deterministic — a
    replayed/duplicated micro-batch selects the same rows, which keeps
    exactly-once sinks exact; (b) a plain filter — no state store, no
    shuffle, works in any output mode. The trade-off vs the batch
    exact-count sampler: the kept count is binomial around n·ratio (an
    exact count is impossible online without unbounded state).
    """
    from parquet_sampler_spark.operators.sample import _validate_ratio

    _validate_ratio(ratio)
    threshold = int(MODULUS * ratio)
    return events.filter(lehmer_hash([key_col], seed) < threshold)


def windowed_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup per event_type: the canonical
    late-data-tolerant streaming aggregation. State: one row per
    (window, event_type); rows finalize (append mode) once the watermark
    passes the window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
) -> DataFrame:
    """Drive a streaming plan to completion against the current file set
    (memory sink, ``availableNow``) and return the materialized result.
    A query failure re-raises here. The sink's view is dropped before
    returning: the returned frame still reads every drained row, so the
    rows live exactly as long as the frame and no view outlives it."""
    name = f"psx_stream_{uuid.uuid4().hex}"
    (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    ).awaitTermination()
    spark = stream_df.sparkSession
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    watermark_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Exactly-once streaming deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps the first occurrence of each
    key and forgets the key once the watermark passes its event time +
    delay. Plain ``dropDuplicates`` on a stream retains every key seen
    FOREVER — unbounded state on a long-running feed; this variant is
    the production dedup for replayed/retried event deliveries, where
    duplicates arrive within a bounded lateness window.
    """
    if not key_cols:
        raise ValueError("streaming_dedup requires key columns")
    return events.withWatermark(
        watermark_col, delay
    ).dropDuplicatesWithinWatermark(key_cols)
