"""Physical-layout helpers: partitioning decisions that Catalyst does
not make for us.

A small Parquet file arrives as ONE input partition; any CPU-heavy
per-row operator chained on it (higher-order lambdas, Pandas UDFs,
nested-loop joins) then runs on one core. ``spread`` widens such inputs
to the session's default parallelism. For genuinely big inputs (many
splits already) it is a no-op — so operators can call it
unconditionally: at 100 TB the scan is already thousands of splits and
no shuffle is added.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to the session default parallelism iff
    the plan currently has fewer partitions. Cost: one shuffle of the
    (by assumption small) input; benefit: full-width CPU parallelism for
    expensive downstream map work."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < target:
        return df.repartition(target)
    return df


def num_partitions(df: DataFrame) -> int:
    """Partition count of the physical plan without constructing a
    Python-side RDD: ``df.rdd`` builds a JVM→Python conversion pipeline
    (serializer + mapPartitions) per call, noticeable when every
    text/vector operator probes its input width. ``toRdd`` on the query
    execution is the already-planned internal RDD. Falls back to
    ``df.rdd`` for API drift."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df.rdd.getNumPartitions()


def cluster_by_range(
    df: DataFrame, cols: list[str], num_files: int
) -> DataFrame:
    """Range-cluster rows for write: ``repartitionByRange`` on ``cols``
    (one sampled range shuffle) + ``sortWithinPartitions`` — each output
    file then covers a narrow, non-overlapping value range, so parquet
    row-group min/max statistics let later filtered scans SKIP whole
    files/row groups instead of reading them. At 100 TB this is the
    difference between a time-range query touching one day's files and
    touching all of them. Write the result with
    :func:`~parquet_sampler_spark.sources.io.write_parquet`."""
    if not cols:
        raise ValueError("cluster_by_range requires at least one column")
    return df.repartitionByRange(num_files, *cols).sortWithinPartitions(
        *cols
    )


_Z_COL = "__psx_zorder"


def cluster_by_zorder(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 10,
) -> DataFrame:
    """Z-order (Morton-curve) clustering for MULTI-column file skipping:
    linear range clustering (:func:`cluster_by_range`) gives perfect
    min/max locality on its leading column and none on the others —
    a filter on the second column still touches every file. Interleaving
    the bit representations of all clustering columns orders rows along
    a space-filling curve, so every clustered column gets partial
    locality and a predicate on ANY of them skips most files. The
    standard lakehouse OPTIMIZE ZORDER BY maintenance operation.

    Mechanics (all JVM-side expressions, no UDF): each column is
    min/max-scaled to a ``bits``-bit integer (one bounded 1-row agg to
    fetch the ranges), the bit planes are interleaved into a Morton key,
    and rows are range-partitioned + sorted by it. NULLs scale to
    bucket 0. Works for numeric and timestamp columns.
    """
    from pyspark.sql.types import NumericType, TimestampNTZType, TimestampType

    if len(cols) < 2:
        raise ValueError(
            "zorder needs >= 2 columns (use cluster_by_range for one)"
        )
    if not 1 <= bits <= 15:
        raise ValueError("bits must be in [1, 15]")
    # Morton key bits live in a signed bigint: shiftleft wraps mod 64
    # and bit 63 flips the sign, silently corrupting the curve order.
    if bits * len(cols) > 63:
        raise ValueError(
            f"bits * len(cols) = {bits * len(cols)} exceeds 63; lower "
            f"bits to <= {63 // len(cols)} for {len(cols)} columns"
        )

    def as_num(c: str) -> Column:
        t = df.schema[c].dataType
        if isinstance(t, (TimestampType, TimestampNTZType)):
            return F.unix_micros(F.col(c)).cast("double")
        if isinstance(t, NumericType):
            return F.col(c).cast("double")
        raise ValueError(f"zorder column {c!r} has non-orderable-numeric "
                         f"type {t.simpleString()}")

    stats = df.agg(
        *[F.min(as_num(c)).alias(f"__mn_{i}") for i, c in enumerate(cols)],
        *[F.max(as_num(c)).alias(f"__mx_{i}") for i, c in enumerate(cols)],
    ).first()

    top = (1 << bits) - 1
    buckets = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"__mn_{i}"], stats[f"__mx_{i}"]
        if mn is None or mx is None or mx == mn:
            buckets.append(F.lit(0).cast("bigint"))
            continue
        scaled = F.floor(
            (as_num(c) - F.lit(float(mn)))
            / F.lit(float(mx - mn)) * F.lit(float(top))
        ).cast("bigint")
        buckets.append(
            F.coalesce(
                F.least(F.greatest(scaled, F.lit(0)), F.lit(top)),
                F.lit(0),
            )
        )

    # interleave: output bit (b*ncols + i) takes bit b of column i
    n = len(cols)
    morton = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, bk in enumerate(buckets):
            morton = morton.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bk, b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return (
        df.withColumn(_Z_COL, morton)
        .repartitionByRange(num_files, _Z_COL)
        .sortWithinPartitions(_Z_COL)
        .drop(_Z_COL)
    )
