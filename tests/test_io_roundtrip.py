"""Schema/type round-trip tests (SURVEY.md §5.4): read → sample → write →
re-read preserves schema, nullability, and values for the six
reference-supported types (§1.3) AND types the reference panics on
(lib.rs:122-124) — timestamp, decimal, binary, array — which we support
natively."""

from __future__ import annotations

import datetime
import pathlib
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from parquet_sampler_spark.operators.sample import sample_exact
from parquet_sampler_spark.sources.io import (
    metadata_row_count,
    read_parquet,
    write_parquet,
)
from tests.conftest import SF_MED

ALLTYPES_SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("c_bool", T.BooleanType(), True),
    T.StructField("c_int32", T.IntegerType(), True),
    T.StructField("c_int64", T.LongType(), True),
    T.StructField("c_float", T.FloatType(), True),
    T.StructField("c_double", T.DoubleType(), True),
    T.StructField("c_string", T.StringType(), True),
])

BEYOND_SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("c_ts", T.TimestampType(), True),
    T.StructField("c_dec", T.DecimalType(12, 2), True),
    T.StructField("c_bin", T.BinaryType(), True),
    T.StructField("c_arr", T.ArrayType(T.FloatType()), True),
])


@pytest.fixture(scope="module")
def alltypes(spark):
    rows = [
        (i,
         None if i % 10 == 0 else i % 2 == 0,
         None if i % 10 == 1 else i,
         None if i % 10 == 2 else i * 10**10,
         None if i % 10 == 3 else float(i) / 3,
         None if i % 10 == 4 else i / 7.0,
         None if i % 10 == 5 else f"s{i}")
        for i in range(1000)
    ]
    return spark.createDataFrame(rows, ALLTYPES_SCHEMA)


def test_alltypes_roundtrip(spark, alltypes, tmp_path):
    out = str(tmp_path / "alltypes")
    s = sample_exact(alltypes, 0.1, seed=9, key_cols=["k"])
    write_parquet(s, out)
    back = read_parquet(spark, out)
    # Spark's parquet reader reports every column nullable (unlike the
    # reference, which round-trips OPTIONAL/REQUIRED via the printed
    # schema, lib.rs:19-24) — compare names+types, values pin the rest.
    assert [(f.name, f.dataType) for f in back.schema] == \
        [(f.name, f.dataType) for f in ALLTYPES_SCHEMA]
    assert back.count() == 100
    orig = {r.k: r for r in s.collect()}
    for r in back.collect():
        assert orig[r.k] == r


def test_beyond_reference_types_roundtrip(spark, tmp_path):
    """Types the reference write path panics on (lib.rs:122-124)."""
    rows = [
        (i,
         None if i % 20 == 0 else datetime.datetime(2024, 1, 1 + i % 28),
         None if i % 20 == 1 else Decimal(f"{i}.25"),
         None if i % 20 == 2 else bytes([i % 256, 255 - i % 256]),
         None if i % 20 == 3 else [float(i), float(i) * 0.5])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, BEYOND_SCHEMA)
    s = sample_exact(df, 0.5, seed=2, key_cols=["k"])
    out = str(tmp_path / "beyond")
    write_parquet(s, out)
    back = read_parquet(spark, out)
    assert [(f.name, f.dataType) for f in back.schema] == \
        [(f.name, f.dataType) for f in BEYOND_SCHEMA]
    assert back.count() == 100


def test_single_file_output(spark, alltypes, tmp_path):
    out = str(tmp_path / "single")
    write_parquet(alltypes, out, single_file=True)
    from pathlib import Path

    files = list(Path(out).glob("*.parquet"))
    assert len(files) == 1
    assert metadata_row_count(out) == 1000


def test_metadata_count_matches(spark):
    path = "/root/testdata/sf0.001/lineitem.parquet"
    assert metadata_row_count(path) == read_parquet(spark, path).count()


def test_projected_read_prunes_scan(spark):
    df = read_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet",
                      columns=["l_orderkey"])
    assert df.columns == ["l_orderkey"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_partkey" not in plan  # column pruned out of the scan


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """``write_parquet(partition_by=...)`` writes one directory per
    value, and a filter on the partition column prunes whole
    directories (PartitionFilters in the scan), not rows."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = tmp_path / "orders"
    write_parquet(orders, str(out), partition_by=["o_orderpriority"])
    n_values = orders.select("o_orderpriority").distinct().count()
    dirs = [p.name for p in out.iterdir() if p.is_dir()]
    assert len(dirs) == n_values
    assert all(d.startswith("o_orderpriority=") for d in dirs)

    urgent = F.col("o_orderpriority") == "1-URGENT"
    pruned = spark.read.parquet(str(out)).filter(urgent)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan, plan
    assert pruned.count() == orders.filter(urgent).count() > 0


def test_compact_parquet_reduces_files(spark, tmp_path):
    """64 tiny files → compaction produces the byte-sized file count
    with identical data."""
    from parquet_sampler_spark.sources.io import compact_parquet

    src = str(tmp_path / "shattered")
    spark.range(10_000).repartition(64).write.parquet(src)
    import pathlib
    n_in = len(list(pathlib.Path(src).glob("*.parquet")))
    assert n_in == 64

    out = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, src, out, target_mb=128)
    assert n_out == 1  # 10k longs ≪ 128 MB
    files = list(pathlib.Path(out).glob("*.parquet"))
    assert len(files) == 1
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(10_000))


def test_cluster_by_range_enables_file_skipping(spark, tmp_path):
    """Range-clustered files carry narrow, pairwise-disjoint min/max
    column ranges (the property parquet row-group skipping needs);
    an unclustered round-robin write has every file spanning the full
    domain."""
    import pyarrow.parquet as pq
    import pathlib

    from parquet_sampler_spark.plans.layout import cluster_by_range

    df = spark.range(100_000).selectExpr(
        "id AS k", "CAST(id % 97 AS DOUBLE) AS v"
    )

    def ranges(path):
        out = []
        for f in sorted(pathlib.Path(path).glob("*.parquet")):
            md = pq.read_metadata(f)
            los, his = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # k
                los.append(col.statistics.min)
                his.append(col.statistics.max)
            out.append((min(los), max(his)))
        return out

    messy = str(tmp_path / "messy")
    df.repartition(8).write.parquet(messy)
    clustered = str(tmp_path / "clustered")
    cluster_by_range(df, ["k"], 8).write.parquet(clustered)

    def overlaps(rs):
        rs = sorted(rs)
        return sum(
            1 for (a, b) in zip(rs, rs[1:]) if a[1] >= b[0]
        )

    assert overlaps(ranges(messy)) > 0        # every file spans ~all
    assert overlaps(ranges(clustered)) == 0   # disjoint ranges


# ---------------------------------------------------------------------------
# read_parquet: driver-side footer schema (no inference job) and its
# fallbacks to Spark's own inference
# ---------------------------------------------------------------------------

def _read_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"io_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_parity(spark, path):
    """read_parquet's schema is exactly what Spark infers; returns the
    number of jobs read_parquet launched."""
    df, jobs = _read_jobs(spark, lambda: read_parquet(spark, path))
    assert df.schema.json() == spark.read.parquet(path).schema.json()
    return jobs


_SF_MED_TABLES = sorted(
    p.name for p in pathlib.Path(SF_MED).glob("*.parquet"))


@pytest.mark.parametrize("name", _SF_MED_TABLES)
def test_read_schema_parity_testdata(spark, name):
    assert _assert_parity(spark, f"{SF_MED}/{name}") == 0


RICH_SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("c_dec", T.DecimalType(12, 2), False),
    T.StructField("c_date", T.DateType(), True),
    T.StructField("c_ts", T.TimestampType(), True),
    T.StructField("c_ntz", T.TimestampNTZType(), True),
    T.StructField("c_bin", T.BinaryType(), True),
    T.StructField("c_arr", T.ArrayType(T.IntegerType(), False), True),
    T.StructField("c_map", T.MapType(T.StringType(), T.DoubleType()), True),
    T.StructField("c_struct", T.StructType([
        T.StructField("a", T.IntegerType(), False),
        T.StructField("b", T.StringType(), True),
    ]), True),
])


@pytest.fixture(scope="module")
def rich_dir(spark, tmp_path_factory):
    rows = [
        (i, Decimal(f"{i}.50"), datetime.date(2024, 1, 1 + i % 28),
         datetime.datetime(2024, 2, 1, i % 24),
         datetime.datetime(2024, 3, 1, i % 24),
         bytes([i % 256]), [i, i + 1], {f"m{i}": i / 4}, (i, f"s{i}"))
        for i in range(40)
    ]
    out = str(tmp_path_factory.mktemp("rich") / "rich")
    write_parquet(spark.createDataFrame(rows, RICH_SCHEMA).repartition(3),
                  out)
    return out


def test_read_schema_parity_spark_written(spark, rich_dir):
    """Non-nullable, decimal, date, timestamp (LTZ and NTZ), binary and
    nested columns: the Spark row-metadata schema path, on a directory
    and on one of its part files, launching no job."""
    assert _assert_parity(spark, rich_dir) == 0
    part = sorted(pathlib.Path(rich_dir).glob("part-*.parquet"))[0]
    assert _assert_parity(spark, str(part)) == 0
    back = read_parquet(spark, rich_dir)
    assert back.count() == 40
    # Spark reports every field nullable, nested ones too
    assert [f.dataType.simpleString() for f in back.schema] == \
        [f.dataType.simpleString() for f in RICH_SCHEMA]


def test_read_schema_parity_pyarrow_written(spark, tmp_path):
    """Files without Spark's row metadata: unsigned ints, plain binary
    (with and without binaryAsString) and nanosecond timestamps (read
    as long under the legacy nanosAsLong conf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "arrow.parquet")
    pq.write_table(pa.table({
        "u8": pa.array([1, 2], pa.uint8()),
        "u32": pa.array([1, 2], pa.uint32()),
        "u64": pa.array([1, 2**64 - 1], pa.uint64()),
        "raw": pa.array([b"a", b"b"], pa.binary()),
        "ts_ns": pa.array([1, 2], pa.timestamp("ns")),
    }), path)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        assert _assert_parity(spark, path) == 0
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        assert _assert_parity(spark, path) == 0
        assert dict(read_parquet(spark, path).dtypes)["raw"] == "string"
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_read_picks_first_data_file_skipping_hidden(spark, tmp_path):
    """The footer read is the first non-hidden file by name, as in
    Spark's inference: a hidden file sorting first (here with another
    schema) and an in-flight ``._COPYING_`` file are skipped."""
    d = tmp_path / "hidden"
    spark.range(3).selectExpr("id AS b").write.parquet(str(d / "x"))
    src = sorted((d / "x").glob("part-*.parquet"))[0]
    spark.range(3).selectExpr("id AS a").coalesce(1).write.parquet(
        str(d / "y"))
    good = sorted((d / "y").glob("part-*.parquet"))[0]
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "_a_hidden.parquet").write_bytes(src.read_bytes())
    (flat / ".b_hidden.parquet").write_bytes(src.read_bytes())
    (flat / "a.parquet._COPYING_").write_bytes(src.read_bytes())
    (flat / "m.parquet").write_bytes(good.read_bytes())
    assert _assert_parity(spark, str(flat)) == 0
    assert read_parquet(spark, str(flat)).columns == ["a"]


def test_read_fallback_partitioned(spark, tmp_path):
    """A partitioned layout keeps Spark's inference (partition columns
    come from directory names)."""
    out = str(tmp_path / "parts")
    spark.range(20).selectExpr("id", "id % 3 AS p").write.partitionBy(
        "p").parquet(out)
    jobs = _assert_parity(spark, out)
    assert jobs >= 1
    assert read_parquet(spark, out).columns == ["id", "p"]


def test_read_fallback_glob(spark, rich_dir):
    assert _assert_parity(spark, f"{rich_dir}/*.parquet") >= 1


def test_read_fallback_merge_schema(spark, tmp_path):
    """With mergeSchema on, every footer counts: the union of two
    files' columns, not the first file's."""
    d = tmp_path / "merge"
    d.mkdir()
    for i, col in enumerate(["a", "b"]):
        spark.range(2).selectExpr(f"id AS {col}").coalesce(1).write.parquet(
            str(tmp_path / col))
        f = sorted((tmp_path / col).glob("part-*.parquet"))[0]
        (d / f"part-{i}.parquet").write_bytes(f.read_bytes())
    assert read_parquet(spark, str(d)).columns == ["a"]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _assert_parity(spark, str(d)) >= 1
        assert sorted(read_parquet(spark, str(d)).columns) == ["a", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_fallback_summary_file(spark, tmp_path):
    """A ``_common_metadata`` summary file is what Spark's inference
    reads first; its schema (here one column wider than the data
    file's) must win."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "summary"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}),
                   str(d / "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("z", pa.string())]),
                      str(d / "_common_metadata"))
    jobs = _assert_parity(spark, str(d))
    assert jobs >= 1
    assert read_parquet(spark, str(d)).columns == ["a", "z"]


def test_read_fallback_raises_sparks_errors(spark, tmp_path):
    """A missing path, a directory without data files and a footer
    Spark cannot convert (nanosecond timestamps, nanosAsLong off) raise
    exactly what ``spark.read.parquet`` raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), nanos)
    for path in [str(tmp_path / "missing"), str(empty), nanos]:
        with pytest.raises(Exception) as want:
            spark.read.parquet(path)
        with pytest.raises(type(want.value)) as got:
            read_parquet(spark, path)
        assert type(got.value) is type(want.value)
        assert got.value.getCondition() == want.value.getCondition()


def test_compact_parquet_reads_without_inference(spark, tmp_path):
    """compact_parquet's read goes through read_parquet: it launches the
    write job only, no schema-inference job."""
    from parquet_sampler_spark.sources.io import compact_parquet

    src = str(tmp_path / "src")
    spark.range(100).repartition(4).write.parquet(src)
    _, jobs_compact = _read_jobs(
        spark, lambda: compact_parquet(spark, src, str(tmp_path / "out")))
    _, jobs_plain = _read_jobs(
        spark, lambda: spark.read.parquet(src).write.parquet(
            str(tmp_path / "plain")))
    assert jobs_compact == jobs_plain - 1
