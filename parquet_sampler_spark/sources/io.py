"""Parquet source/sink helpers.

The reference reads whole files through the parquet crate's row iterator
(sample.rs:59, join.rs:105) and writes a single row group from a fully
materialized row buffer (lib.rs:27). Spark subsumes both: vectorized
Parquet scan with column pruning + predicate pushdown, and a distributed
multi-file writer supporting every Spark type (the reference panics on
INT96 / decimals / nested, lib.rs:122-124). Rows computed on the driver
enter Spark through :func:`local_frame`, an Arrow local relation.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.column import _to_seq
from pyspark.sql.types import _make_type_verifier

from parquet_sampler_spark.plans.layout import num_partitions

# Hadoop glob metacharacters (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")
_PARQUET_PKG = "org.apache.spark.sql.execution.datasources.parquet"


def read_parquet(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str] | None = None,
) -> DataFrame:
    """Scan a Parquet path, or a list of paths as one relation; optional
    projection (reference: join.rs:42-56 builds a one-column schema
    projection by hand — Catalyst's ColumnPruning pushes ``select`` into
    the reader for free).

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
    pick: the first data file by qualified path over every listed path
    (``ParquetUtils.splitFiles`` sorts them), hidden names (``_*``,
    ``.*``, ``*._COPYING_``) skipped.

    Falls back to ``spark.read.parquet`` — inference, and Spark's own
    errors — for a glob, a directory with any
    subdirectory (partitioned layout) or a ``_metadata`` /
    ``_common_metadata`` summary file, ``spark.sql.parquet.mergeSchema``
    on, no data file, and any failure of the footer read (a missing
    path, say).
    """
    paths = [path] if isinstance(path, str) else list(path)
    schema = None
    if not any(_GLOB_CHARS.intersection(p) for p in paths):
        try:
            schema = _footer_schema(spark, paths)
        except (OSError, Py4JError, PySparkException):
            pass  # inference below raises Spark's own error, if any
    if schema is None:
        df = spark.read.parquet(*paths)
    else:
        df = DataFrame(spark._jsparkSession.read().schema(schema).parquet(
            _to_seq(spark.sparkContext, paths)), spark)
    if columns is not None:
        df = df.select(*columns)
    return df


def _footer_schema(spark: SparkSession, paths: list[str]):
    """The JVM ``StructType`` Spark's inference would give ``paths``, read
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
    data = {}  # every data file: qualified path string -> its Path
    for path in paths:
        hpath = cls("org.apache.hadoop.fs.Path")(path)
        fs = hpath.getFileSystem(conf)
        status = fs.getFileStatus(hpath)
        if status.isFile():
            if _hidden(hpath.getName()):
                return None
            qualified = status.getPath()
            data[qualified.toString()] = qualified
            continue
        for st in fs.listStatus(hpath):
            qualified = st.getPath()
            key = qualified.toString()
            name = key.rsplit("/", 1)[-1]
            if st.isDirectory() or name.startswith(
                    ("_metadata", "_common_metadata")):
                return None
            if not _hidden(name):
                data[key] = qualified
    if not data:
        return None
    first = data[min(data)]
    metadata = cls(f"{_PARQUET_PKG}.ParquetFooterReader").readFooter(
        cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
            first, conf),
        cls("org.apache.parquet.format.converter.ParquetMetadataConverter")
        .SKIP_ROW_GROUPS,
    )
    footer = cls("org.apache.parquet.hadoop.Footer")(first, metadata)
    converter = cls(f"{_PARQUET_PKG}.ParquetToSparkSchemaConverter")(
        state.conf())
    return cls(f"{_PARQUET_PKG}.ParquetFileFormat").readSchemaFromFooter(
        footer, converter)


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``InMemoryFileIndex.
    shouldFilterOutPathName``, summary files aside)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over rows held on the driver, planned as a
    ``LocalRelation`` (``LocalTableScan``): the rows reach the JVM as
    one Arrow table, so no Python RDD is built and no Python worker
    runs. ``createDataFrame`` over Python rows pickles them through a
    ``Scan ExistingRDD`` instead, whose actions launch extra jobs.

    ``rows`` are tuples in field order; ``schema`` is a ``StructType``
    or a DDL string and is kept as given, nullability included. Every
    row passes the type verifier ``createDataFrame`` applies (Arrow by
    itself accepts a ``None`` in a non-nullable field), so an
    out-of-range int or a missing required value raises as before. NaN
    stays NaN, never null. A ``TimestampType`` column converts through
    ``TimestampType.toInternal``, as the pickle path does (a naive
    ``datetime`` is local time); a timestamp nested in an array, map or
    struct is rejected rather than read as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, afield, values in zip(schema.fields, arrow_schema, columns):
        if isinstance(field.dataType, T.TimestampType):
            micros = [field.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(micros, pa.int64()).cast(afield.type))
        elif _holds_timestamp(field.dataType):
            raise TypeError(
                f"local_frame: field {field.name!r} nests a timestamp "
                f"({field.dataType.simpleString()}); only top-level "
                "timestamp columns are converted")
        else:
            arrays.append(pa.array(values, afield.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _holds_timestamp(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _holds_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _holds_timestamp(dt.keyType) or _holds_timestamp(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_holds_timestamp(f.dataType) for f in dt.fields)
    return isinstance(dt, T.TimestampType)


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
        if num_partitions(df) >= n_out else df.repartition(n_out)
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
