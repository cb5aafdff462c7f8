"""Scalar-function surface: JSON, date/time, regexp, pivot, normalization,
quantile outlier filtering, config-diff (SURVEY.md §2 Part B "Scalar fns"
plus A36/A38/A43 semantics).

All JVM built-ins — the queries exist to pin the scalar-function surface
against the oracle engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import money
from ..registry import register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "json_extract_props",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
""",
    tags=("scalar", "json"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string parsing (driver fixture `events.props`): Spark uses
    schema-ful ``from_json`` (vectorized JVM path); oracle uses DuckDB's
    JSON extension."""
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return e.select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


@register(
    "pivot_event_type_counts",
    oracle="""
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY user_id
""",
    tags=("scalar", "pivot"),
)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list so Catalyst skips the distinct-values
    pre-pass — mandatory at scale) with 0-fill to match SUM(CASE)."""
    e = load_table(spark, sf_dir, "events")
    pivoted = e.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


@register(
    "order_date_parts",
    oracle="""
SELECT o_orderkey,
       CAST(extract(year FROM o_orderdate) AS INT) AS yr,
       CAST(extract(month FROM o_orderdate) AS INT) AS mon,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       date_trunc('quarter', o_orderdate) AS quarter_start
FROM orders
WHERE extract(year FROM o_orderdate) = 1997
""",
    tags=("scalar", "datetime"),
)
def order_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + truncation (Part B date/time surface)."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.year("o_orderdate") == 1997).select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("quarter", F.col("o_orderdate")).alias("quarter_start"),
    )


@register(
    "regexp_extract_source_num",
    oracle="""
SELECT doc_id, source,
       CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) AS src_num,
       upper(lang) AS lang_uc,
       length(text) AS text_len
FROM documents
WHERE regexp_matches(source, 'src\\d+')
""",
    tags=("scalar", "string"),
)
def regexp_extract_source_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extraction + string functions (Part B string surface)."""
    d = load_table(spark, sf_dir, "documents")
    return d.where(F.col("source").rlike(r"src\d+")).select(
        "doc_id",
        "source",
        F.regexp_extract("source", r"src(\d+)", 1).cast("int").alias("src_num"),
        F.upper("lang").alias("lang_uc"),
        F.length("text").alias("text_len"),
    )


@register(
    "config_diff_overlay",
    oracle="""
WITH user_cfg AS (
    SELECT p_brand AS key, CAST(MAX(p_size) AS DOUBLE) AS value
    FROM part WHERE p_type LIKE '%BRASS%' GROUP BY p_brand
), default_cfg AS (
    SELECT p_brand AS key, CAST(MAX(p_size) AS DOUBLE) AS value
    FROM part GROUP BY p_brand
)
SELECT u.key, u.value AS user_value, d.value AS default_value
FROM user_cfg u JOIN default_cfg d ON u.key = d.key
WHERE u.value <> d.value
""",
    tags=("scalar", "reference"),
)
def config_diff_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-diff semantics, reference ``train_fawac_iql.py:28-32`` (A36):
    keep keys whose user value differs from the default, for overlay."""
    p = load_table(spark, sf_dir, "part")
    user_cfg = (
        p.where(F.col("p_type").like("%BRASS%"))
        .groupBy(F.col("p_brand").alias("key"))
        .agg(F.max("p_size").cast("double").alias("user_value"))
    )
    default_cfg = p.groupBy(F.col("p_brand").alias("key")).agg(
        F.max("p_size").cast("double").alias("default_value")
    )
    return (
        user_cfg.join(default_cfg, "key")
        .where(F.col("user_value") != F.col("default_value"))
        .select("key", "user_value", "default_value")
    )


@register(
    "outlier_filtered_totals",
    oracle="""
WITH bounds AS (
    SELECT ROUND(quantile_cont(l_extendedprice, 0.05), 2) AS lo,
           ROUND(quantile_cont(l_extendedprice, 0.95), 2) AS hi
    FROM lineitem
)
SELECT COUNT(*) AS n_kept,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS kept_total,
       MIN(l_extendedprice) AS kept_min,
       MAX(l_extendedprice) AS kept_max
FROM lineitem, bounds
WHERE l_extendedprice BETWEEN lo AND hi
""",
    tags=("scalar", "reference"),
)
def outlier_filtered_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile outlier removal, reference pre-processing
    ``train_fawac_iql.py:59-75`` (A38): drop rows outside [p05, p95].

    Exact percentile bounds rounded to the data's 2-decimal grid on both
    sides so boundary rows classify identically. Both bounds come from
    ONE array-argument percentile (one sort-based aggregation buffer
    instead of two — ~1.6x faster). At 100 TB swap in ``approxQuantile``
    — same plan shape, bounded memory."""
    from ..operators.helpers import fan_out

    li = load_table(spark, sf_dir, "lineitem")
    # fan_out the exact-percentile input: the sort-based aggregation
    # buffer otherwise collects every value in the single fixture scan
    # task (measured 2.01 -> 1.40 s).
    bounds = fan_out(li.select("l_extendedprice"), "l_extendedprice").agg(
        F.expr("percentile(l_extendedprice, array(0.05, 0.95))").alias("pq")
    ).select(
        F.round(F.element_at("pq", 1), 2).alias("lo"),
        F.round(F.element_at("pq", 2), 2).alias("hi"),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .where(F.col("l_extendedprice").between(F.col("lo"), F.col("hi")))
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(money("l_extendedprice")).cast("double").alias("kept_total"),
            F.min("l_extendedprice").alias("kept_min"),
            F.max("l_extendedprice").alias("kept_max"),
        )
    )


@register(
    "normalize_minmax_events",
    oracle="""
WITH stats AS (
    SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       (value - vmin) / (vmax - vmin) AS value_norm
FROM events e JOIN stats USING (event_type)
""",
    tags=("scalar", "reference"),
)
def normalize_minmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization projection against a broadcast stats table, reference
    ``get_normalized_score`` ``train_fawac_iql.py:147`` (A43). min/max are
    exact; the per-row normalization is deterministic IEEE — no rounding."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        ((F.col("value") - F.col("vmin")) / (F.col("vmax") - F.col("vmin"))).alias(
            "value_norm"
        ),
    )


_SPINE_SQL = """
WITH RECURSIVE spine(day, last_day) AS (
    SELECT date_trunc('day', MIN(ts)), date_trunc('day', MAX(ts)) FROM {src}
    UNION ALL
    SELECT day + INTERVAL 1 DAY, last_day FROM spine
    WHERE day < last_day
),
daily AS (
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM {src}
    GROUP BY date_trunc('day', ts)
)
SELECT s.day,
       COALESCE(d.n, 0) AS n_events,
       COALESCE(d.total, 0.0) AS total_value
FROM spine s LEFT JOIN daily d ON s.day = d.day
"""


@register(
    "daily_event_spine",
    oracle=_SPINE_SQL.format(src="events"),
    tags=("scalar", "recursive-cte", "timeseries"),
)
def daily_event_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily time series via a RECURSIVE CTE date spine
    (Spark 4 ``WITH RECURSIVE``): days with zero events still appear,
    zero-filled — the series shape every monitoring/plotting consumer
    needs (reference ``make_plots.ipynb`` reads such per-step series).
    The recursion depth is the day span (driver-side plan growth only);
    the per-day aggregate underneath stays a normal partial+final
    shuffle, so scale is unaffected by the spine.  The MAX(ts) bound is
    computed ONCE in the anchor and CARRIED through the recursion as a
    column — the previous scalar subquery inside the recursive WHERE
    re-executed a full MAX-scan job on every step (one job per day of
    span; measured 7.0 s -> 1.1 s min-of-3 at sf0.1)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_spine_src")
    return spark.sql(_SPINE_SQL.format(src="events_spine_src"))


@register(
    "sql_udf_revenue_by_flag",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("scalar", "sql-udf"),
)
def sql_udf_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDF (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    the discounted-price formula defined once as a catalog function and
    reused in queries. Unlike Python UDFs, a SQL UDF inlines into the
    plan — full codegen, pushdown, and DECIMAL-exact money math; the
    oracle inlines the identical expression (a macro IS its expansion)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(38,4) "
        "RETURN CAST(p AS DECIMAL(18,2)) * (1 - CAST(d AS DECIMAL(18,2)))"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("sqludf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(disc_price(l_extendedprice, l_discount)) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM sqludf_lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "variant_props_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
       MAX(CAST(props->>'k' AS BIGINT)) AS k_max
FROM events
GROUP BY event_type
""",
    tags=("scalar", "variant", "json"),
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through the VARIANT type (Spark 4):
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction — the shredded lakehouse path for
    JSON columns, cheaper than per-access string re-parsing
    (``json_extract_props`` keeps the classic ``get_json_object`` form
    for comparison). The oracle uses DuckDB's JSON operators on the same
    strings."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json("props").alias("pv")
    ).select(
        "event_type",
        F.expr("variant_get(pv, '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_sum"),
        F.max("k").alias("k_max"),
    )


@register(
    "listagg_status_profile",
    oracle="""
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("scalar", "agg", "string"),
)
def listagg_status_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via Spark 4's ANSI ``LISTAGG ... WITHIN
    GROUP`` — the deterministic (explicitly ordered, DISTINCT) form, so
    the concatenated value is reproducible across partitionings and
    engines; the unordered variant would be nondeterministic under
    parallel aggregation and could never hash-match."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("listagg_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               COUNT(*) AS n_orders
        FROM listagg_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "pipe_syntax_returnflag_profile",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l_returnflag
HAVING COUNT(*) > 10
ORDER BY l_returnflag
""",
    tags=("scalar", "sql", "pipe-syntax"),
)
def pipe_syntax_returnflag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's ``|>`` operator chaining): the same
    logical plan as the ANSI form — Catalyst parses pipes into the
    identical tree, so pushdown/codegen are unchanged — but each stage
    reads in execution order, which is how exploratory pipelines get
    written. The oracle is the plain ANSI equivalent, proving the two
    syntaxes agree to the bit."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_li")
    return spark.sql(
        """
        FROM pipe_li
        |> WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
        |> AGGREGATE COUNT(*) AS n_lines,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                         AS total_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / COUNT(*) AS avg_price
           GROUP BY l_returnflag
        |> WHERE n_lines > 10
        |> SELECT l_returnflag, n_lines, total_qty, avg_price
        |> ORDER BY l_returnflag
        """
    )
