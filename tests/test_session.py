"""``session.get_spark``: the settings a local session is built with.

- a query rerun after more than 100 other generated classes compiles
  nothing: the generated-code cache outlives Spark's default of 100;
- the default driver heap is 16g or half the host, whichever is less.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fawac_cdc_spark.session import driver_memory


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_query_rerun_compiles_nothing_after_other_classes(spark):
    def grouped():
        return sorted(
            spark.range(1000)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id").alias("s"))
            .collect()
        )

    first = grouped()
    before_others = _compiles(spark)
    for i in range(150):
        spark.range(10).selectExpr(f"id * {i + 11} + {i} AS x").where(f"x > {i}").collect()
    before_rerun = _compiles(spark)
    assert before_rerun - before_others > 100
    assert grouped() == first
    assert _compiles(spark) - before_rerun == 0


def test_driver_memory_is_16g_or_half_the_host():
    gib = 2**30
    assert driver_memory(64 * gib) == "16384m"
    assert driver_memory(32 * gib) == "16384m"
    assert driver_memory(15 * gib) == "7680m"
    assert driver_memory(4 * gib) == "2048m"
