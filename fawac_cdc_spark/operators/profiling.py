"""ANALYZE-style table profiling (round 7).

Every warehouse engine ships a statistics pass — per-column null
counts, exact distinct counts, and min/max — because the optimizer and
the data-quality dashboard both feed on it.  The reference's batch-stat
logging (``train_fawac_iql.py:145-166`` logs per-batch means/extremes)
generalizes to this full-table profile surface.

The scale-critical design point is the EXACT distinct count: a naive
``agg(countDistinct(c1), countDistinct(c2), ...)`` plans an ``Expand``
that replicates every input row once per column *inside one
aggregate*, the exact blowup the round-7 ``approx_stats_error_bound``
fix removed.  Instead the profile melts the table once into
``(col_name, value)`` pairs and counts distinct values per column with
a two-level aggregate: the first level's map-side partial agg collapses
each partition to its per-column distinct set, so the shuffle carries
``sum_c(ndv_partition(c))`` rows, not ``k * n`` — the standard exact-NDV
MapReduce shape.  Min/max/null counts ride a separate single-row
aggregate (no Expand, one scan), and the two 11-row results meet in a
broadcast join.  For the cheap approximate path at 100 TB, the sketch
family (``approx_stats_lineitem``) already covers HLL-based NDV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

# ONE column-spec list generates BOTH engines' expressions (name, kind);
# kind selects the numeric view used for min/max: "num" casts to double,
# "ts" converts to epoch days (exact integers in double), "str" profiles
# nulls/distincts only (no cross-engine-stable numeric view for text).
PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_tax", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
)


def _num_view_spark(col: str, kind: str) -> F.Column:
    if kind == "num":
        return F.col(col).cast("double")
    if kind == "ts":
        return F.datediff(F.to_date(col), F.lit("1970-01-01")).cast("double")
    return F.lit(None).cast("double")


def _num_view_sql(col: str, kind: str) -> str:
    if kind == "num":
        return f"CAST({col} AS DOUBLE)"
    if kind == "ts":
        return f"CAST(date_diff('day', DATE '1970-01-01', CAST({col} AS DATE)) AS DOUBLE)"
    return "CAST(NULL AS DOUBLE)"


def _profile_oracle() -> str:
    parts = []
    for col, kind in PROFILE_COLS:
        v = _num_view_sql(col, kind)
        parts.append(
            f"SELECT '{col}' AS col_name,\n"
            f"       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,\n"
            f"       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,\n"
            f"       MIN({v}) AS min_d, MAX({v}) AS max_d\n"
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile_stats",
    oracle=_profile_oracle(),
    tags=("profiling", "aggregate", "stats"),
)
def table_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table column profile of ``lineitem``: per column, the null
    count, the EXACT distinct count, and min/max through a
    cross-engine-stable numeric view (double for numerics, epoch days
    for the timestamp, absent for strings).

    Two scans, zero ``Expand``: scan 1 melts each row into
    ``(col_name, value-as-string)`` pairs (the string cast is injective
    per type, so distinct counts are preserved) and aggregates
    ``(col_name, value) -> count`` then ``col_name -> (ndv, nulls)`` —
    map-side partial agg bounds the shuffle by the per-partition
    distinct-set sizes.  Scan 2 is one Expand-free single-row min/max
    aggregate, melted to 11 rows and broadcast-joined back.  The plan
    is pinned Expand-free in ``tests/test_plans.py``.
    """
    from .helpers import fan_out

    li = load_table(spark, sf_dir, "lineitem")
    k = len(PROFILE_COLS)

    melt_args = ", ".join(f"'{c}', cast({c} as string)" for c, _ in PROFILE_COLS)
    # fan_out before the stack() melt (the depth-histogram discipline,
    # round-15): the melt amplifies per-row work k-fold (one string cast
    # per profiled column).
    counts = (
        fan_out(li, "l_orderkey", "l_linenumber")
        .selectExpr(f"stack({k}, {melt_args}) as (col_name, sval)")
        .groupBy("col_name", "sval")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prof = counts.groupBy("col_name").agg(
        F.coalesce(
            F.sum(F.when(F.col("sval").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_nulls"),
        F.count(F.when(F.col("sval").isNotNull(), 1)).alias("n_distinct"),
    )

    mm_aggs = []
    for c, kind in PROFILE_COLS:
        if kind == "str":
            continue
        v = _num_view_spark(c, kind)
        mm_aggs += [F.min(v).alias(f"min_{c}"), F.max(v).alias(f"max_{c}")]
    mm_row = li.agg(*mm_aggs)
    mm_args = ", ".join(
        f"'{c}', min_{c}, max_{c}"
        if kind != "str"
        else f"'{c}', cast(null as double), cast(null as double)"
        for c, kind in PROFILE_COLS
    )
    minmax = mm_row.selectExpr(f"stack({k}, {mm_args}) as (col_name, min_d, max_d)")

    return prof.join(F.broadcast(minmax), "col_name").select(
        "col_name", "n_nulls", "n_distinct", "min_d", "max_d"
    )


# Equi-width histograms (round 9, VERDICT r8 item 5) — the other half of
# the ANALYZE surface: per numeric column, B=16 equal-width buckets
# between the column's min and max, with bucket bounds.  This is what
# feeds optimizer selectivity estimates and data-quality drift monitors.
HIST_BUCKETS = 16
_HIST_COLS: tuple[tuple[str, str], ...] = tuple(
    (c, k) for c, k in PROFILE_COLS if k != "str"
)


def _hist_oracle() -> str:
    b = HIST_BUCKETS
    parts = []
    for col, kind in _HIST_COLS:
        v = _num_view_sql(col, kind)
        parts.append(
            f"""
SELECT '{col}' AS col_name, bucket,
       mn + bucket * (mx - mn) / {b} AS lo,
       mn + (bucket + 1) * (mx - mn) / {b} AS hi,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
    SELECT CASE WHEN mx = mn THEN 0
                ELSE CAST(LEAST({b - 1}, FLOOR((v - mn) * {b} / (mx - mn))) AS INT)
           END AS bucket,
           mn, mx
    FROM (SELECT {v} AS v,
                 MIN({v}) OVER () AS mn,
                 MAX({v}) OVER () AS mx
          FROM lineitem)
    WHERE v IS NOT NULL
)
GROUP BY col_name, bucket, mn, mx"""
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "lineitem_column_histograms",
    oracle=_hist_oracle(),
    tags=("profiling", "aggregate", "stats"),
)
def lineitem_column_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (16 buckets) for every numeric column of
    ``lineitem`` — the ANALYZE histogram surface (optimizer selectivity /
    drift dashboards), extending ``table_profile_stats``.

    One melted scan + one Expand-free single-row min/max scan: the melt
    emits ``(col_name, v-as-double)`` pairs through one ``stack``
    generator (never an ``Expand`` — pinned in tests/test_plans.py), the
    9-row per-column min/max frame broadcasts onto it, and the bucket id
    is pure arithmetic, so the only shuffle is the final
    ``(col_name, bucket)`` aggregate — at most ``9 * 16`` groups
    regardless of table size, with map-side partial aggregation doing
    all the work.  Bucket bounds are computed from (min, max, bucket)
    with the identical expression on both engines, so the doubles are
    bit-identical.  Empty buckets are omitted (counts are the payload);
    a constant column degenerates to bucket 0.
    """
    b = HIST_BUCKETS
    li = load_table(spark, sf_dir, "lineitem")
    k = len(_HIST_COLS)

    mm_aggs = []
    for c, kind in _HIST_COLS:
        v = _num_view_spark(c, kind)
        mm_aggs += [F.min(v).alias(f"mn_{c}"), F.max(v).alias(f"mx_{c}")]
    mm_args = ", ".join(f"'{c}', mn_{c}, mx_{c}" for c, _ in _HIST_COLS)
    stats = li.agg(*mm_aggs).selectExpr(
        f"stack({k}, {mm_args}) as (col_name, mn, mx)"
    )

    melt_args = ", ".join(
        f"'{c}', "
        + (
            f"cast({c} as double)"
            if kind == "num"
            else f"cast(datediff(to_date({c}), date '1970-01-01') as double)"
        )
        for c, kind in _HIST_COLS
    )
    # Widen before the k-fold melt (round-15 discipline, see
    # poisson_bootstrap_ci): stack() amplifies rows k-fold, so the melt
    # and its map-side partial aggregation must not inherit the scan's
    # split count (one single-row-group file at sf0.1 = one task).
    melted = li.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey", "l_linenumber"
    ).selectExpr(f"stack({k}, {melt_args}) as (col_name, v)").where(
        F.col("v").isNotNull()
    )

    joined = melted.join(F.broadcast(stats), "col_name")
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.lit(b - 1),
            F.floor((F.col("v") - F.col("mn")) * b / (F.col("mx") - F.col("mn"))),
        )
    ).cast("int")
    return (
        joined.withColumn("bucket", bucket)
        .groupBy("col_name", "bucket", "mn", "mx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "col_name",
            "bucket",
            (F.col("mn") + F.col("bucket") * (F.col("mx") - F.col("mn")) / b).alias("lo"),
            (F.col("mn") + (F.col("bucket") + 1) * (F.col("mx") - F.col("mn")) / b).alias("hi"),
            "cnt",
        )
    )


# Equi-DEPTH (quantile) histograms — the other ANALYZE histogram form:
# buckets hold ~n/Q rows each instead of equal value widths, which is
# what selectivity estimation wants on skewed columns.  Exact equi-depth
# needs an ordered pass; the scale-honest form below orders DISTINCT
# VALUES (value-counts combine map-side, so the ordered window sees NDV
# rows, not table rows).  A distinct value is assigned atomically to the
# bucket of its FIRST rank ("value-atomic" equi-depth): deterministic
# under ties by construction, exactly mirrored in SQL, and the bucket
# populations deviate from n/Q only by the straddling value's count.
# For extreme-NDV columns at 100 TB the approximate path is the KLL
# sketch family (kll_quantile_rank_bound) — this operator is the exact,
# oracle-checkable form.
DEPTH_BUCKETS = 8
_DEPTH_BLOCKS = 64  # phase-1 pre-blocks for the two-phase exact prefix sum


def _depth_hist_oracle() -> str:
    q = DEPTH_BUCKETS
    parts = []
    for col, kind in _HIST_COLS:
        v = _num_view_sql(col, kind)
        parts.append(
            f"""
SELECT '{col}' AS col_name,
       CAST((cum_before * {q}) // n_total AS INT) AS bucket,
       MIN(v) AS lo, MAX(v) AS hi,
       CAST(SUM(cnt) AS BIGINT) AS cnt
FROM (
    SELECT v, cnt,
           COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
           SUM(cnt) OVER () AS n_total
    FROM (SELECT {v} AS v, COUNT(*) AS cnt FROM lineitem
          WHERE {v} IS NOT NULL GROUP BY 1)
)
GROUP BY col_name, bucket"""
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "lineitem_depth_histograms",
    oracle=_depth_hist_oracle(),
    tags=("profiling", "aggregate", "stats"),
)
def lineitem_depth_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-atomic equi-depth histogram (8 buckets) for every numeric
    column of ``lineitem``.

    Scale shape: the melt aggregates to per-(column, value) COUNTS first
    — map-side combinable, so the shuffle carries sum-of-NDV rows, never
    table rows — and the exact prefix sum over those value-counts is
    TWO-PHASE (the ``token_budget_selection`` block pattern): values
    pre-block into 64 equi-width ranges, the ≤ cols x
    blocks block-total frame computes cumulative offsets in one tiny
    window and BROADCASTS back, and the fine within-block window
    partitions by (column, block) — so no column's ordered pass is ever
    one task (the naive partition-by-column window serializes a
    high-NDV column through a single sorted partition).  Block id is
    monotone in v, so offset + within-block prefix EXACTLY equals the
    global prefix — all integer arithmetic, bit-identical to the
    oracle's single-window form.  Bucket id is exact integer arithmetic
    ``(cum_before * Q) div n``, so no float crosses the engines; lo/hi
    are order-independent MIN/MAX of exact parquet values.  A column
    whose NDV itself explodes at 100 TB routes to the KLL sketch path
    instead (``kll_quantile_rank_bound``) — that trade (exact-with-
    ordered-pass vs mergeable-approximate) is the same one every
    warehouse ANALYZE implementation makes.
    """
    from pyspark.sql import Window

    q = DEPTH_BUCKETS
    b2 = _DEPTH_BLOCKS
    li = load_table(spark, sf_dir, "lineitem")
    k = len(_HIST_COLS)
    melt_args = ", ".join(
        f"'{c}', "
        + (
            f"cast({c} as double)"
            if kind == "num"
            else f"cast(datediff(to_date({c}), date '1970-01-01') as double)"
        )
        for c, kind in _HIST_COLS
    )
    # Widen before the k-fold melt (see lineitem_column_histograms).
    counts = (
        li.repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey", "l_linenumber"
        )
        .selectExpr(f"stack({k}, {melt_args}) as (col_name, v)")
        .where(F.col("v").isNotNull())
        .groupBy("col_name", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # phase 0: per-column min/max/total from the counts themselves (tiny)
    stats = counts.groupBy("col_name").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.sum("cnt").alias("n_total"),
    )
    blk = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.lit(b2 - 1),
            F.floor((F.col("v") - F.col("mn")) * b2 / (F.col("mx") - F.col("mn"))),
        )
    ).cast("int")
    blocked = counts.join(F.broadcast(stats), "col_name").withColumn("blk", blk)
    # phase 1: block totals -> cumulative offsets (<= cols x blocks rows)
    w_off = Window.partitionBy("col_name").orderBy("blk")
    offsets = (
        blocked.groupBy("col_name", "blk")
        .agg(F.sum("cnt").alias("blk_cnt"))
        .select(
            "col_name",
            "blk",
            F.coalesce(
                F.sum("blk_cnt").over(
                    w_off.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("blk_off"),
        )
    )
    # phase 2: fine prefix within each (column, block) partition
    w_in = Window.partitionBy("col_name", "blk").orderBy("v")
    cum = blocked.join(F.broadcast(offsets), ["col_name", "blk"]).select(
        "col_name",
        "v",
        "cnt",
        "n_total",
        (
            F.col("blk_off")
            + F.coalesce(
                F.sum("cnt").over(w_in.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).alias("cum_before"),
    )
    return (
        cum.withColumn(
            "bucket",
            F.expr(f"cast((cum_before * {q}) div n_total as int)"),
        )
        .groupBy("col_name", "bucket")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").cast("bigint").alias("cnt"),
        )
    )


# --- data-quality expectations audit (round 10) --------------------------------


@register(
    "data_quality_expectations",
    oracle="""
SELECT 'lineitem.l_orderkey fk orders' AS expectation,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_violations,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IS NOT NULL) AS n_checked
UNION ALL
SELECT 'orders.o_custkey fk customer',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NOT NULL)
UNION ALL
SELECT 'customer.c_custkey unique',
       (SELECT CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
UNION ALL
SELECT 'lineitem.l_quantity in [1,50]',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_quantity < 1 OR l_quantity > 50),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
UNION ALL
SELECT 'orders.o_totalprice positive',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_totalprice <= 0),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
UNION ALL
SELECT 'events.event_type in domain',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        WHERE event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
UNION ALL
SELECT 'events.value not null',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE value IS NULL),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
""",
    tags=("profiling", "quality", "expectations"),
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the warehouse — the expectations surface
    (Great Expectations / dbt tests / Deequ shape): referential
    integrity, key uniqueness, domain and range rules, each reported as
    (expectation, n_violations, n_checked) so a pipeline can gate on
    n_violations == 0 or a tolerated rate.

    NULL-key semantics (code-review round 10): referential rules check
    NON-NULL keys only — the SQL convention (a NULL FK satisfies a
    foreign-key constraint; NOT IN would silently exclude it by
    three-valued logic while left_anti would count it), so both engines
    filter IS NOT NULL explicitly and a missing-key rule belongs to a
    separate not-null expectation (like the events.value one below).

    Scale shape: FK checks are key-only LEFT ANTI joins (at 100 TB AQE
    turns the key sets into broadcast/bloom semi joins — the
    bloom_semi_join_gate path); uniqueness is count - count_distinct in
    one aggregate; domain/range rules are pure scans with the predicate
    pushed down.  Each rule is one aggregate row; the union is 7 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")

    from .helpers import one_row_audit

    def row(name: str, viol_df: DataFrame, total_df: DataFrame) -> DataFrame:
        return one_row_audit(
            "expectation", name, viol_df, total_df, "n_violations", "n_checked"
        )

    li_k = li.where(F.col("l_orderkey").isNotNull())
    o_k = o.where(F.col("o_custkey").isNotNull())
    fk_li = li_k.join(o, li_k["l_orderkey"] == o["o_orderkey"], "left_anti")
    fk_o = o_k.join(c, o_k["o_custkey"] == c["c_custkey"], "left_anti")
    uniq = c.agg(
        (F.count(F.lit(1)) - F.count_distinct("c_custkey"))
        .cast("bigint")
        .alias("n_violations"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
    ).select(
        F.lit("customer.c_custkey unique").alias("expectation"),
        "n_violations",
        "n_checked",
    )
    rng = li.where((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
    pos = o.where(F.col("o_totalprice") <= 0)
    dom = e.where(
        ~F.col("event_type").isin("click", "view", "purchase", "signup", "error")
    )
    nn = e.where(F.col("value").isNull())
    return (
        row("lineitem.l_orderkey fk orders", fk_li, li_k)
        .unionByName(row("orders.o_custkey fk customer", fk_o, o_k))
        .unionByName(uniq)
        .unionByName(row("lineitem.l_quantity in [1,50]", rng, li))
        .unionByName(row("orders.o_totalprice positive", pos, o))
        .unionByName(row("events.event_type in domain", dom, e))
        .unionByName(row("events.value not null", nn, e))
    )


# --- round 12: join-key skew profile ---------------------------------------------


def _skew_block_sql(table: str, key: str) -> str:
    """One key column's skew row as oracle SQL (shared shape)."""
    return f"""
SELECT '{table}.{key}' AS key_col,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_freq,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top1_share,
       ROUND(quantile_cont(CAST(c AS DOUBLE), 0.5), 6) AS p50_freq,
       ROUND(quantile_cont(CAST(c AS DOUBLE), 0.99), 6) AS p99_freq,
       ROUND(quantile_cont(CAST(c AS DOUBLE), 0.99)
             / quantile_cont(CAST(c AS DOUBLE), 0.5), 6) AS p99_p50_ratio
FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS c FROM {table} GROUP BY {key})
"""


_SKEW_KEYS = (
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
)


@register(
    "join_key_skew_profile",
    oracle=" UNION ALL ".join(_skew_block_sql(t, k) for t, k in _SKEW_KEYS),
    tags=("profiling", "ops", "skew"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the three hottest shuffle keys
    (lineitem.l_orderkey, orders.o_custkey, events.user_id): key count,
    heaviest-key share, and the p99/p50 frequency ratio — the numbers
    that decide WHEN the salting / AQE-skew-join machinery
    (``salted_user_event_totals``) is worth its extra pass.  A
    top1_share near 1/n_keys and ratio near 1 mean plain hash
    partitioning is fine; a fat ratio flags stragglers before they
    happen.

    Per key: one map-side-combinable count to the key grain, then one
    percentile aggregate over key-grain frequencies (never row grain) —
    both engines compute identical exact-integer inputs, round(6) on
    the float columns."""
    out = None
    for table, key in _SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        freq = t.groupBy(key).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        p50 = F.expr("percentile(cast(c as double), 0.5)")
        p99 = F.expr("percentile(cast(c as double), 0.99)")
        row = freq.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_freq"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top1_share"),
            F.round(p50, 6).alias("p50_freq"),
            F.round(p99, 6).alias("p99_freq"),
            F.round(p99 / p50, 6).alias("p99_p50_ratio"),
        ).select(
            F.lit(f"{table}.{key}").alias("key_col"),
            "n_keys",
            "n_rows",
            "max_freq",
            "top1_share",
            "p50_freq",
            "p99_freq",
            "p99_p50_ratio",
        )
        out = row if out is None else out.unionByName(row)
    return out
