"""Job-count pin for the reference journey (sample → six semi-join
reductions → publish), the shape of the reference's two binaries run
back to back (README.md:15-26). Job counts are exact where wall time
is not: each Spark job costs a scheduling round trip, and a request of
this shape is bound by those, not by the scan."""

from __future__ import annotations

import uuid
from collections import defaultdict
from contextlib import contextmanager

from parquet_sampler_spark import queries
from parquet_sampler_spark.operators.sample import sample_exact
from parquet_sampler_spark.operators.semijoin import semi_join_reduce
from parquet_sampler_spark.sources.io import (
    metadata_row_count,
    read_parquet,
    write_parquet,
)
from tests.conftest import SF_MED as SF

# (member, source table, key, upstream member, upstream key)
CHAIN = [
    ("orders", "orders", "o_orderkey", "lineitem_sample", "l_orderkey"),
    ("customer", "customer", "c_custkey", "orders", "o_custkey"),
    ("nation", "nation", "n_nationkey", "customer", "c_nationkey"),
    ("region", "region", "r_regionkey", "nation", "n_regionkey"),
    ("part", "part", "p_partkey", "lineitem_sample", "l_partkey"),
    ("supplier", "supplier", "s_suppkey", "lineitem_sample", "l_suppkey"),
]


class _Jobs:
    """Counts the Spark jobs launched inside ``with jobs.phase(name)``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: dict[str, list[str]] = defaultdict(list)

    @contextmanager
    def phase(self, name: str):
        group = f"star_{name}_{uuid.uuid4().hex}"
        self.groups[name].append(group)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)

    def count(self, name: str | None = None) -> int:
        names = [name] if name else list(self.groups)
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g))
                   for n in names for g in self.groups[n])


def _journey(spark, out: str, seed: int, jobs: _Jobs) -> None:
    li = f"{SF}/lineitem.parquet"
    with jobs.phase("read"):
        lineitem = read_parquet(spark, li)
    with jobs.phase("sample"):
        s = sample_exact(lineitem, 0.01, seed=seed,
                         key_cols=["l_orderkey", "l_linenumber"],
                         tie_cols=queries._LINEITEM_TIE,
                         total_rows=metadata_row_count(li))
        write_parquet(s, f"{out}/lineitem_sample")
    for member, table, key, up, up_key in CHAIN:
        with jobs.phase("read"):
            probe = read_parquet(spark, f"{SF}/{table}.parquet")
            build = read_parquet(spark, f"{out}/{up}")
        with jobs.phase("reduce_publish"):
            write_parquet(semi_join_reduce(probe, key, build, up_key),
                          f"{out}/{member}")


def test_reference_journey_job_count(spark, tmp_path):
    """At most 16 jobs per request (with schema-inference jobs per read
    and a shuffle-map job per de-duplicated build side, 35): reads
    launch none, each reduction + publish at most two (broadcast,
    write)."""
    _journey(spark, str(tmp_path / "warm"), 1, _Jobs(spark))
    jobs = _Jobs(spark)
    _journey(spark, str(tmp_path / "measured"), 3, jobs)
    assert jobs.count("read") == 0
    assert jobs.count("reduce_publish") <= 2 * len(CHAIN)
    assert jobs.count() <= 16
    # the published members are the reduction chain, not empty files
    assert read_parquet(spark, str(tmp_path / "measured" / "orders")
                        ).count() > 0
