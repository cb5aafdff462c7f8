"""Catalog: explicit schemas + loaders for the fixture tables.

Mirrors the reference's construct-time fixed schema discipline
(reference ``fawac.py:22-30``: the ReplayBuffer's columnar schema is
fixed at construction; dims inferred only once at source registration,
``train_fawac_iql.py:86-88``). Here every fixture table gets an explicit
``StructType``; inference is never used. The explicit schemas also make
``readStream`` possible (streaming sources require a schema up front).

Tables (driver-generated, see TESTDATA.md / FIXTURES.md):
    region nation customer supplier part orders lineitem events
    documents embeddings
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


_FOOTER_CACHE: dict[str, object] = {}


def _checked_footer(path: str, name: str):
    """The pyarrow schema of table ``name``'s parquet footer at ``path``
    (one file, or a directory of part files as Spark writes it), checked
    against ``SCHEMAS[name]``.

    Driver-side and footer-only: no Spark job. Each column must decode
    the way Spark decodes it (NTZ for a timestamp without a zone) to its
    declared type, and the column sets must agree; a mismatch raises
    ``ValueError`` naming the table and column. This is what makes the
    explicit read schema safe: with ``.schema()``, a missing or renamed
    column would read back silently as NULLs. ``events.ts`` only has to
    be a parquet TIMESTAMP (:func:`load_table` picks its decode); a
    plain int64 ``ts`` is ambiguous (nanos? micros?) and is refused
    rather than silently misscaled.

    Cached per path: fixtures are immutable, and load_table is on the
    construction path of every query.
    """
    if path in _FOOTER_CACHE:
        return _FOOTER_CACHE[path]
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.ParquetDataset(path).schema
    got = {
        f.name: f.dataType
        for f in from_arrow_schema(footer, prefer_timestamp_ntz=True)
    }
    want = {f.name: f.dataType for f in SCHEMAS[name]}
    if name == "events" and "ts" in got:
        t = footer.field("ts").type
        if not pa.types.is_timestamp(t):
            raise ValueError(
                f"events.ts has unsupported physical type {t}; expected a parquet "
                "TIMESTAMP (NANOS or MICROS). Plain integers are ambiguous — "
                "refusing to guess a unit."
            )
        got["ts"] = want["ts"]
    for col in [*want, *sorted(got.keys() - want.keys())]:
        if got.get(col) != want.get(col):
            have, decl = (
                "no such column" if dt is None else dt.simpleString()
                for dt in (got.get(col), want.get(col))
            )
            raise ValueError(f"{name}.{col}: {path} has {have}, SCHEMAS declares {decl}")
    _FOOTER_CACHE[path] = footer
    return footer


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table, read with ``SCHEMAS[name]``.

    The footer is checked against the declared schema once per path
    (:func:`_checked_footer`), so the read needs no schema-inference job
    and drift fails here, loudly. The explicit schema keeps vectorized
    reading and filter/column pushdown.

    ``events.ts`` has shipped in two physical layouts across fixture
    generations: parquet TIMESTAMP(NANOS) (which Spark cannot read
    natively — surfaced as raw int64 nanos via ``legacy.parquet.nanosAsLong``)
    and native TIMESTAMP(MICROS) NTZ. The footer type picks the decode,
    so the ``nanosAsLong`` session conf is set only when the fixture
    genuinely needs it (it is required for Spark to read NANOS files at
    all, and is read-path-only). Nanos are truncated to µs with integer
    division — the same truncation DuckDB applies. A UTC-adjusted
    timestamp (which Spark decodes as LTZ TimestampType) is cast to
    TIMESTAMP_NTZ; with the session timezone pinned to UTC this preserves
    the wall clock DuckDB reads. All paths yield ``SCHEMAS["events"]``.
    """
    from pyspark.sql import functions as F

    path = table_path(sf_dir, name)
    schema = SCHEMAS[name]
    footer = _checked_footer(path, name)
    if name != "events":
        return spark.read.schema(schema).parquet(path)
    ts_type = footer.field("ts").type
    if ts_type.unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NTZ via pure integer arithmetic — independent of session
        # timezone, matching the naive wall-clock values DuckDB reads.
        read_ts, ts = T.LongType(), F.expr(
            "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    elif ts_type.tz is not None:
        read_ts, ts = T.TimestampType(), F.col("ts").cast(T.TimestampNTZType())
    else:
        return spark.read.schema(schema).parquet(path)
    read_schema = T.StructType(
        [T.StructField("ts", read_ts) if f.name == "ts" else f for f in schema]
    )
    return spark.read.schema(read_schema).parquet(path).withColumn("ts", ts)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for the SQL API)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """The engine's ad-hoc SQL entry point: register every fixture table
    as a view, then hand the query string to Spark SQL (full ANSI surface,
    Catalyst-optimized). This is how a reference user runs arbitrary
    queries that aren't in the curated registry."""
    register_views(spark, sf_dir)
    return spark.sql(query)
