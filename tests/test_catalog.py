from __future__ import annotations

import pytest

from fawac_cdc_spark import catalog


def test_all_tables_load_with_contract_schema(spark, sf_dir):
    tables = catalog.load_tables(spark, sf_dir)
    assert set(tables) == set(catalog.TABLE_NAMES)
    for name, df in tables.items():
        expected = catalog.SCHEMAS[name]
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in expected.fields}
        assert got == want, f"{name}: {got} != {want}"
        assert df.count() > 0


def test_register_views(spark, sf_dir):
    catalog.register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == 6000


def test_run_sql_entry_point(spark, sf_dir):
    """Ad-hoc SQL over the registered views — the escape hatch for
    queries outside the curated registry."""
    import fawac_cdc_spark as engine

    out = engine.run_sql(
        spark,
        sf_dir,
        """
        SELECT r_name, COUNT(*) AS n_nations
        FROM region JOIN nation ON r_regionkey = n_regionkey
        GROUP BY r_name ORDER BY r_name
        """,
    ).collect()
    assert len(out) == 5
    assert sum(r["n_nations"] for r in out) == 25


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_schema_contract_all_scale_factors(sf):
    """Any fixture regeneration that changes a decoded schema must fail
    loudly in-repo (VERDICT r3 next-round item 8): every table's parquet
    footer, decoded the way Spark decodes it, equals ``SCHEMAS`` column
    for column — ``events.ts`` aside, whose NANOS/MICROS/LTZ decode
    ``load_table`` picks from the footer — and passes the load-time
    check."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    for name in catalog.TABLE_NAMES:
        path = catalog.table_path(sf, name)
        footer = pq.ParquetDataset(path).schema
        got = [
            (f.name, f.dataType)
            for f in from_arrow_schema(footer, prefer_timestamp_ntz=True)
        ]
        want = [(f.name, f.dataType) for f in catalog.SCHEMAS[name]]
        if name == "events":
            assert pa.types.is_timestamp(footer.field("ts").type), sf
            got = [g for g in got if g[0] != "ts"]
            want = [w for w in want if w[0] != "ts"]
        assert got == want, f"{sf}/{name}: {got} != {want}"
        catalog._FOOTER_CACHE.pop(path, None)
        catalog._checked_footer(path, name)


def _region_footer(**cols):
    """A one-row ``region.parquet`` with the given pyarrow columns."""
    import pyarrow as pa

    return pa.table({k: pa.array([v[0]], v[1]) for k, v in cols.items()})


@pytest.mark.parametrize(
    "drift, column",
    [
        ("renamed", "r_name"),
        ("missing", "r_name"),
        ("int32_to_int64", "r_regionkey"),
    ],
)
def test_footer_drift_raises_at_load(spark, tmp_path, drift, column):
    """A footer that disagrees with ``SCHEMAS`` fails at ``load_table``,
    naming the table and column.  With the explicit read schema a
    renamed or missing column would otherwise read back as NULLs, and a
    retyped one would be silently cast."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = (1, pa.int32())
    tbl = {
        "renamed": _region_footer(r_regionkey=key, r_title=("AFRICA", pa.string())),
        "missing": _region_footer(r_regionkey=key),
        "int32_to_int64": _region_footer(
            r_regionkey=(1, pa.int64()), r_name=("AFRICA", pa.string())
        ),
    }[drift]
    pq.write_table(tbl, str(tmp_path / "region.parquet"))
    with pytest.raises(ValueError, match=f"region.{column}"):
        catalog.load_table(spark, str(tmp_path), "region").collect()


def test_spark_written_directory_table_loads(spark, sf_dir, tmp_path):
    """A table written by Spark as a ``<name>.parquet/`` directory of
    part files (the layout the scale drills write) passes the footer
    check and reads back unchanged."""
    src = catalog.load_table(spark, sf_dir, "embeddings")
    src.repartition(3).write.parquet(str(tmp_path / "embeddings.parquet"))
    parts = list((tmp_path / "embeddings.parquet").glob("part-*.parquet"))
    assert len(parts) > 1
    got = catalog.load_table(spark, str(tmp_path), "embeddings")
    assert got.schema == catalog.SCHEMAS["embeddings"]
    assert sorted(got.collect()) == sorted(src.collect())


def test_events_dual_physical_layout(spark, tmp_path):
    """The round-2 regression class: ``events.ts`` shipped as parquet
    TIMESTAMP(NANOS) in one fixture generation and native TIMESTAMP(MICROS)
    NTZ in the next; the loader must yield identical TimestampNTZType
    values for both (catalog.py branch, VERDICT r3 next-round item 2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_700_000_000_123_456, 1_700_003_600_000_001, 1_700_007_199_999_999]
    base = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["click", "view", "purchase"]),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    nanos_tbl = pa.table(
        {**base, "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}
    )
    micros_tbl = pa.table({**base, "ts": pa.array(micros, pa.timestamp("us"))})
    (tmp_path / "nanos").mkdir()
    (tmp_path / "micros").mkdir()
    pq.write_table(nanos_tbl, str(tmp_path / "nanos" / "events.parquet"))
    pq.write_table(micros_tbl, str(tmp_path / "micros" / "events.parquet"))

    import pyspark.sql.types as T

    rows = {}
    for layout in ("nanos", "micros"):
        df = catalog.load_table(spark, str(tmp_path / layout), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType), layout
        rows[layout] = sorted(
            (r["event_id"], r["ts"]) for r in df.select("event_id", "ts").collect()
        )
    assert rows["nanos"] == rows["micros"]


def test_events_plain_int64_ts_rejected(spark, tmp_path):
    """A plain-int64 ts (no parquet logical type) is ambiguous — nanos or
    micros? — and must be rejected at load, never silently misscaled."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000], pa.int64()),
            "user_id": pa.array([10], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError, match="refusing to guess"):
        catalog.load_table(spark, str(tmp_path), "events")


def test_package_public_api():
    import fawac_cdc_spark as engine

    assert callable(engine.run_sql)
    assert len(engine.queries()) >= 80
    assert set(engine.oracle_sql()) <= set(engine.queries())
