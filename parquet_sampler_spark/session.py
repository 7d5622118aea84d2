"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the
same code scales to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session timezone so results are
comparable against UTC-naive engines (DuckDB oracle), and Arrow for any
Pandas-UDF path.

PySpark's DataFrame debugging context is off
(``spark.python.sql.dataFrameDebugging.enabled=false``, a static conf).
With it on, every DataFrame and ``functions`` call is wrapped to record
its Python call site in the JVM (an active-session lookup, a conf read,
a stack walk and two py4j calls per API call); Spark's docs note its
"non-trivial performance overhead", and on a registry row's driver-side
build it costs tens of milliseconds per request. The only thing lost is
the Python call site in an ``AnalysisException``'s DataFrame query
context; the error itself and its message are unchanged.

The driver heap defaults to a quarter of physical memory, capped at
8 GiB, so a session that shares its host leaves room for the others;
``SPARK_DRIVER_MEMORY`` overrides it. In ``local[N]`` mode the driver
heap is the executors' heap too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "parquet_sampler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster callers pass their own master / rely on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_heap() -> str:
    """A quarter of physical memory, capped at 8 GiB (``spark.driver.memory``
    syntax)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 4, 8 << 30) >> 20}m"
