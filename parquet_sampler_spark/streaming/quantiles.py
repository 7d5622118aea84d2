"""Online mergeable quantiles: the batch summary architecture
(operators/sketches.quantile_summaries) run as STREAMING state.

The reference is strictly batch (SURVEY.md §2.2); this is the
beyond-reference demonstration that the kilobyte summary layer's
associative merge is exactly what makes per-group percentiles
maintainable over an unbounded stream: each micro-batch builds its own
partition-local summaries, unions them with the stored per-group
summaries, and reduces with the SAME weighted-grid merge the batch
path uses — O(groups · cap) state and per-batch merge cost, no
raw-event retention, any-time readable. A batch engine recomputing
percentiles per refresh rescans everything; a mergeable summary makes
the refresh incremental, which at 100 TB stream rates is the
difference between a dashboard and a backfill job.

The fold is driven by ``sinks.snapshot_stream``, which owns the
crash-atomic commit and the replayed-epoch guard. The merge is
ADDITIVE (re-merging the same batch's values would double their
weight), which is why that guard matters here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from parquet_sampler_spark.operators.sketches import (
    _partition_quantile_summaries,
    merge_summaries,
)
from parquet_sampler_spark.streaming.sinks import snapshot_stream


def streaming_quantile_summaries(
    events: DataFrame,
    group_cols: list[str],
    value_col: str,
    summary_path: str,
    cap: int = 512,
    checkpoint_dir: str | None = None,
):
    """Maintain one quantile summary per ``group_cols`` value over the
    stream at ``summary_path`` through ``sinks.snapshot_stream`` (read
    the live summaries with ``sinks.read_snapshot``, answer quantiles
    with operators/sketches.merged_quantiles). Returns the
    ``DataStreamWriter``."""

    def fold(batch: DataFrame, current: DataFrame | None) -> DataFrame:
        # partition-local summaries only; ONE merge covers both the
        # batch's partials and the stored state (merging twice would
        # waste a shuffle and an extra lossy compression level)
        part = _partition_quantile_summaries(
            batch, group_cols, [], value_col, cap
        )
        merged_in = part if current is None else current.unionByName(part)
        return merge_summaries(merged_in, group_cols, cap)

    return snapshot_stream(events, summary_path, fold, checkpoint_dir)
