"""Parquet source/sink helpers.

The reference reads whole files through the parquet crate's row iterator
(sample.rs:59, join.rs:105) and writes a single row group from a fully
materialized row buffer (lib.rs:27). Spark subsumes both: vectorized
Parquet scan with column pruning + predicate pushdown, and a distributed
multi-file writer supporting every Spark type (the reference panics on
INT96 / decimals / nested, lib.rs:122-124).
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

# Hadoop glob metacharacters (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")
_PARQUET_PKG = "org.apache.spark.sql.execution.datasources.parquet"


def read_parquet(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    """Scan a Parquet path; optional projection (reference: join.rs:42-56
    builds a one-column schema projection by hand — Catalyst's
    ColumnPruning pushes ``select`` into the reader for free).

    The schema is resolved on the driver from one file footer, as the
    reference does (``file_metadata.schema()``, sample.rs:83, join.rs:43),
    and handed to the reader — so the read launches no Spark job. Bare
    ``spark.read.parquet`` would run one schema-inference job per call
    (``ParquetUtils.inferSchema``), even for a single footer. The footer
    goes through Spark's own conversion (``ParquetFileFormat.
    readSchemaFromFooter`` with the session's
    ``ParquetToSparkSchemaConverter``), so the Spark row-metadata key,
    ``binaryAsString``, INT96 and timestamp-NTZ settings apply exactly
    as in inference. The footer read is the file Spark's inference would
    pick: the first data file by path, hidden names (``_*``, ``.*``,
    ``*._COPYING_``) skipped.

    Falls back to ``spark.read.parquet`` — inference, and Spark's own
    errors — for a glob, a directory with any
    subdirectory (partitioned layout) or a ``_metadata`` /
    ``_common_metadata`` summary file, ``spark.sql.parquet.mergeSchema``
    on, no data file, and any failure of the footer read (a missing
    path, say).
    """
    schema = None
    if not _GLOB_CHARS.intersection(path):
        try:
            schema = _footer_schema(spark, path)
        except (OSError, Py4JError, PySparkException):
            pass  # inference below raises Spark's own error, if any
    if schema is None:
        df = spark.read.parquet(path)
    else:
        df = DataFrame(
            spark._jsparkSession.read().schema(schema).parquet(path), spark)
    if columns is not None:
        df = df.select(*columns)
    return df


def _footer_schema(spark: SparkSession, path: str):
    """The JVM ``StructType`` Spark's inference would give ``path``, read
    from one footer on the driver; ``None`` where inference must run."""
    client = spark.sparkContext._gateway._gateway_client

    def cls(name: str):
        # direct class handle: a JVMView package walk costs one py4j
        # round trip per name segment
        return JavaClass(name, client)

    state = spark._jsparkSession.sessionState()
    if state.conf().isParquetSchemaMergingEnabled():
        return None
    conf = state.newHadoopConf()
    hpath = cls("org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(conf)
    # (name, is_dir) of each directory entry; None for a file
    entries = None if fs.getFileStatus(hpath).isFile() else [
        (st.getPath().getName(), st.isDirectory())
        for st in fs.listStatus(hpath)]
    if entries is None:
        if _hidden(hpath.getName()):
            return None
        data = hpath
    else:
        if any(is_dir or name.startswith(("_metadata", "_common_metadata"))
               for name, is_dir in entries):
            return None
        names = sorted(name for name, _ in entries if not _hidden(name))
        if not names:
            return None
        data = cls("org.apache.hadoop.fs.Path")(hpath, names[0])
    metadata = cls(f"{_PARQUET_PKG}.ParquetFooterReader").readFooter(
        cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
            data, conf),
        cls("org.apache.parquet.format.converter.ParquetMetadataConverter")
        .SKIP_ROW_GROUPS,
    )
    footer = cls("org.apache.parquet.hadoop.Footer")(data, metadata)
    converter = cls(f"{_PARQUET_PKG}.ParquetToSparkSchemaConverter")(
        state.conf())
    return cls(f"{_PARQUET_PKG}.ParquetFileFormat").readSchemaFromFooter(
        footer, converter)


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``InMemoryFileIndex.
    shouldFilterOutPathName``, summary files aside)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def metadata_row_count(path: str) -> int:
    """Footer-only row count, no data scan (reference: sample.rs:31-34
    reads ``num_rows`` from the file metadata). Uses pyarrow to read
    footers directly — O(files), zero Spark jobs."""
    import glob as globmod
    from pathlib import Path

    import pyarrow.parquet as pq

    if any(ch in path for ch in "*?["):  # glob input, like Spark accepts
        files = [Path(f) for f in sorted(globmod.glob(path))]
    else:
        p = Path(path)
        files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    if not files:
        raise FileNotFoundError(f"no parquet files match {path!r}")
    return sum(pq.read_metadata(f).num_rows for f in files)


def write_parquet(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Overwrite-mode Parquet sink (the reference overwrites too —
    ``File::create``, lib.rs:16). ``single_file=True`` coalesces to one
    output file for byte-level parity with the reference's single-row-
    group output — only sane for *reduced* outputs (samples, reduced
    dims), never for 100 TB writes."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_mb)`` right-sized files at ``out_path``
    (never in place — an interrupted in-place rewrite loses data).

    Small files are the classic slow poison of a 100 TB lake: footer
    and task-scheduling overhead per file, tiny row groups that defeat
    vectorized scans and min/max skipping. Sizing output count from the
    ACTUAL byte size (filesystem metadata, no data scan) instead of a
    fixed coalesce(N) keeps files near the target at any scale. Sizing
    goes through the Hadoop FileSystem API, so ``hdfs://`` / ``s3a://``
    URIs work the same as local paths.

    Returns the number of output files written.
    """
    import math

    total = _dataset_bytes(spark, path)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = read_parquet(spark, path)
    # coalesce (no shuffle) when reducing file count — the usual case;
    # repartition only if the input has FEWER partitions than wanted
    out = (
        df.coalesce(n_out)
        if df.rdd.getNumPartitions() >= n_out else df.repartition(n_out)
    )
    out.write.mode("overwrite").parquet(out_path)
    return n_out


def _dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (file or directory) via the Hadoop
    FileSystem API — works for any scheme Spark itself can read
    (local, hdfs://, s3a://), unlike ``os.path.getsize`` walking."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        raise FileNotFoundError(f"no parquet dataset at {path!r}")
    # Sum only *.parquet data files: getContentSummary would also count
    # _SUCCESS markers, checksums, and non-parquet siblings, drifting
    # the sizing on mixed directories — and a parquet-free directory
    # should fail here, not later inside spark.read.parquet.
    status = fs.getFileStatus(hpath)
    if status.isFile():
        return int(status.getLen())
    total = 0
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            total += int(f.getLen())
    if total == 0:
        raise FileNotFoundError(f"no *.parquet data files under {path!r}")
    return total


def plan_files_by_stats(
    path: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """Manifest-level scan planning: keep only the parquet files whose
    footer min/max range on ``col`` can overlap ``[lo, hi]`` —
    Iceberg/Delta's data-skipping step done from the footers directly
    (pyarrow, O(files) metadata reads, zero Spark jobs). Returns
    ``(kept_file_paths, total_files)``.

    Why this exists beside row-group pushdown: Spark's PushedFilters
    skip row groups AFTER a task opens a file; at 10^6 small files the
    cost is listing + scheduling + footer reads per task. Pruning the
    FILE LIST driver-side turns those into one metadata pass and hands
    Spark only the survivors — the manifest architecture, on plain
    parquet. Sound only as a NECESSARY filter: a kept file may still
    contain non-matching rows (the caller must re-apply the predicate;
    min/max are conservative), and a file with no stats for ``col`` is
    always kept.
    """
    from pathlib import Path

    import pyarrow.parquet as pq

    p = Path(path)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    kept: list[str] = []
    for f in files:
        md = pq.read_metadata(f)
        fmin = fmax = None
        have = True
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            stats = None
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema == col:
                    stats = c.statistics
                    break
            if stats is None or not stats.has_min_max:
                have = False
                break
            fmin = stats.min if fmin is None else min(fmin, stats.min)
            fmax = stats.max if fmax is None else max(fmax, stats.max)
        if not have or fmin is None or (fmax >= lo and fmin <= hi):
            kept.append(str(f))
    return kept, len(files)
