"""Table-format seam for the CDC upsert path (VERDICT r5 item 8).

The production CDC sink in SURVEY §2 Part B is a transactional table
format (Delta/Iceberg) MERGE; this container ships neither package (no
jars, no Python bindings), so `streaming/cdc.py` implements the same
contract — immutable data files, atomic manifest commit, time travel —
as a versioned-parquet emulation (`cdc_upsert_run` / `read_upsert_state`).

This module is the seam test: the day `delta-spark` is importable, it
runs the SAME latest-per-key upsert through `DeltaTable.merge` and
asserts it matches the emulation exactly. Here it skips cleanly, so the
environment gap closes itself when the dependency lands, with the exact
session config already pinned below.

Required config (delta-spark >= 3.x, matching the installed pyspark):

    from delta import configure_spark_with_delta_pip
    builder = (
        SparkSession.builder
        .config("spark.sql.extensions",
                "io.delta.sql.DeltaSparkSessionExtension")
        .config("spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog")
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
"""

from __future__ import annotations

import pytest

delta = pytest.importorskip(
    "delta", reason="delta-spark not installed in this container"
)


@pytest.fixture(scope="module")
def delta_spark():
    from delta import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("delta-seam")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        .config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
    yield spark
    spark.stop()


def _batches(spark):
    """Two micro-batches with an overlapping key (user 1 updated)."""
    schema = "event_id long, user_id long, event_type string, value double, ts timestamp_ntz"
    b0 = spark.createDataFrame(
        [
            (1, 1, "click", 1.0, "2024-01-01 10:00:00"),
            (2, 2, "view", 2.0, "2024-01-01 10:01:00"),
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (3, 1, "purchase", 9.0, "2024-01-01 11:00:00"),
            (4, 3, "signup", 3.0, "2024-01-01 11:01:00"),
        ],
        schema,
    )
    return b0, b1


def test_delta_merge_matches_emulated_upsert(delta_spark, tmp_path):
    """DeltaTable.merge with latest-wins semantics must produce the same
    final state as the versioned-parquet emulation's latest-per-key rule
    (streaming/batch_equiv.py:newest_per_user): newest (ts, event_id) per user."""
    from delta.tables import DeltaTable
    from pyspark.sql import functions as F

    from fawac_cdc_spark.streaming.batch_equiv import newest_per_user

    path = str(tmp_path / "delta_state")
    b0, b1 = _batches(delta_spark)

    newest_per_user(b0).write.format("delta").save(path)
    tgt = DeltaTable.forPath(delta_spark, path)
    src = newest_per_user(b1)
    (
        tgt.alias("t")
        .merge(src.alias("s"), "t.user_id = s.user_id")
        .whenMatchedUpdateAll(
            condition="(s.ts, s.event_id) > (t.ts, t.event_id)"
        )
        .whenNotMatchedInsertAll()
        .execute()
    )

    got = (
        delta_spark.read.format("delta")
        .load(path)
        .orderBy("user_id")
        .collect()
    )
    want = (
        newest_per_user(b0.unionByName(b1)).orderBy("user_id").collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    # time travel: version 0 is the pre-merge state, exactly like
    # read_upsert_state(version=) on the emulation
    v0 = (
        delta_spark.read.format("delta")
        .option("versionAsOf", 0)
        .load(path)
        .count()
    )
    assert v0 == 2
