"""Tuned local SparkSession factory.

Used by tests and ``bench.py``. The driver supplies its own session to
``__spark_entry__``; nothing in the query path may assume this factory
was used — queries must run on any session. These configs are the
local-mode analog of what we would set on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to parallelism instead of the 200 default,
session timezone pinned to UTC so timestamps compare cleanly against
the DuckDB oracle, and Arrow enabled for the pandas-UDF slow path.
The generated-code cache holds 1000 classes instead of Spark's 100, so
a query rerun in the same session reuses its compiled classes. The
driver heap defaults to 16g or half the host's physical memory,
whichever is smaller (``driver_memory``); ``SPARK_DRIVER_MEMORY``
overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int) -> str:
    """Default driver heap for a host with ``phys_bytes`` of physical
    memory: 16g, or half the host if that is less, so that one session's
    heap cannot grow past what the host can back."""
    return f"{min(16 * 1024, phys_bytes // 2**21)}m"


def get_spark(app_name: str = "fawac-cdc-spark", *, cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory target instead of maximizing parallelism:
        # iterative loops (connected components) otherwise run every tiny
        # per-round shuffle at full session width and pay ~2.5x wall
        # clock in task overhead (measured at sf0.1); scans/joins still
        # fan out by size.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a static conf (not modifiable once the session exists), so it is
        # set here: one pass of the perfbench analytics queries generates
        # about 340 classes, which cycles the default LRU of 100 and makes
        # every rerun compile again; 1000 holds about three passes' worth.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
