"""Remaining TPC-H query shapes, adapted to the fixture schema.

Round 1 pinned Q1/Q3/Q5-like/Q10. This module completes the classic
decision-support surface with the remaining *shapes* — the fixture star
schema (TESTDATA.md) lacks ``partsupp`` and a few columns (`l_shipmode`,
`l_commitdate`, `l_receiptdate`, `c_phone`, `p_container`), so each query
keeps the reference query's PLAN SHAPE (the operator semantics Catalyst
must handle) while substituting available columns:

- Q2  min-cost supplier     → correlated per-group MIN (window form)
- Q4  priority checking     → correlated EXISTS (left-semi join)
- Q6  forecast revenue      → single-row selective aggregate
- Q7  volume shipping       → two-nation flow, year extract, 6-table join
- Q8  market share          → conditional-sum ratio per year
- Q13 customer distribution → LEFT JOIN + two-level aggregate (histogram)
- Q14 promo effect          → conditional-sum ratio, single row
- Q15 top supplier          → scalar-subquery MAX over an aggregate
- Q17 small-quantity        → correlated scalar AVG per part
- Q18 large-volume customer → IN subquery with HAVING
- Q19 disjunctive predicate → OR-of-conjunctions pushdown with join
- Q21 waiting supplier      → EXISTS + NOT EXISTS on the same fact
- Q22 inactive customers    → scalar-subquery AVG + NOT EXISTS
- Q5  local supplier        → non-key equi-condition in the join (round 5)
- Q9  product profit        → surrogate-cost expression agg (round 5)
- Q11 important stock       → HAVING vs scalar-subquery total (round 5)
- Q12 shipping priority     → conditional two-way counts (round 5)
- Q16 supplier variety      → NOT IN anti-join + distinct agg (round 5)
- Q20 dominant shipper      → two-level agg + semi-join (round 5)

All money math is DECIMAL-exact (see ``helpers``); ratios are one double
division of bit-identical doubles, so hashes match DuckDB exactly.

Scale notes (100 TB): every dimension filter lands before the fact join;
EXISTS/NOT EXISTS compile to semi/anti hash joins on the order key (no
row explosion); the Q17/Q2 correlated aggregates are per-key partial aggs
shuffled once on the correlation key — the same shape Catalyst's
RewriteCorrelatedScalarSubquery produces, written directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.helpers import materialize, money
from ..registry import register

_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _rev() -> F.Column:
    return money("l_extendedprice") * (F.lit(1) - money("l_discount"))


@register(
    "q2_min_acctbal_supplier",
    oracle="""
WITH shipped AS (
    SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size <= 5 AND p_type = 'LARGE' AND r_name = 'EUROPE'
), ranked AS (
    SELECT *, MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
    FROM shipped
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM ranked WHERE s_acctbal = min_bal
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    tags=("tpch", "join", "window", "correlated"),
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest qualified supplier per part.

    No ``partsupp`` in the fixture, so "has shipped the part" (DISTINCT
    over lineitem) stands in for the partsupp relation and ``s_acctbal``
    for ``ps_supplycost``. The correlated MIN is a window over the
    part key — one shuffle, no second scan of the join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 5) & (F.col("p_type") == "LARGE")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    shipped = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .distinct()
    )
    w = Window.partitionBy("p_partkey")
    return (
        shipped.withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q4_priority_exists",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("tpch", "semi-join", "exists", "agg"),
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late-shipping line.

    ``l_commitdate``/``l_receiptdate`` are absent, so "late" is
    ``l_shipdate > o_orderdate``. The correlated EXISTS is a left-semi
    join on the order key with the inequality in the join condition —
    a semi hash join, no row duplication."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch", "agg", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue change from eliminating small discounts.

    Pure scan-filter-aggregate: every predicate pushes to the parquet
    scan (row-group pruning on l_shipdate at scale), then one partial+
    final decimal sum — the cheapest possible plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(money("l_extendedprice") * money("l_discount"))
        .cast("double")
        .alias("revenue")
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           {_REV} AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("tpch", "join", "agg"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.

    Both nation dims broadcast; the disjunctive nation-pair predicate
    sits above them so only qualifying rows reach the aggregate. One
    fact-fact shuffle (lineitem ⋈ orders) dominates, as it should."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           {_REV} AS volume,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    tags=("tpch", "join", "agg", "ratio"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share inside a region, per year.

    The share is a conditional decimal sum over the total decimal sum —
    exact until the single double division. Part/nation/region dims all
    broadcast; the customer-region filter prunes before the aggregate."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = _rev().alias("volume")
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").cast("long").alias("o_year"), vol, "nation")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        joined.groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("tpch", "outer-join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer.

    The comment-pattern exclusion becomes ``o_orderstatus <> 'P'`` (same
    plan: the filter rides the join condition so excluded orders still
    yield the customer row with count 0). Two-level aggregate: the first
    shuffles on customer, the second on the tiny count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_effect",
    oracle=f"""
SELECT CAST(100.0 AS DOUBLE)
       * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV}
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM({_REV}) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
""",
    tags=("tpch", "join", "agg", "ratio"),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo parts' share of one month's revenue.

    Date filter pushes to the fact scan; part broadcasts; single-row
    conditional-sum ratio, decimal-exact until one double division."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(18,2)")
    rev = _rev()
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    tags=("tpch", "scalar-subquery", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The scalar subquery is a 1-row aggregate of the already-computed
    revenue frame, broadcast back as an equi-join — the revenue agg is
    computed once and reused for both sides (decimal-exact doubles, so
    the equality is safe). No global sort, no second lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).cast("double").alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
WITH part_avg AS (
    SELECT l_partkey AS pk,
           0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / COUNT(*)) AS qty_cut
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN part_avg ON pk = l_partkey
WHERE p_brand = 'Brand#9' AND l_quantity < qty_cut
""",
    tags=("tpch", "correlated", "agg"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from unusually small orders of one brand.

    The correlated ``AVG(l_quantity)`` per part is computed as one
    grouped aggregate and equi-joined back — exactly what Catalyst's
    correlated-scalar-subquery rewrite produces, but with the aggregate
    shared rather than rescanned. Decimal sum / count keeps the average
    bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (F.sum(money("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_cut")
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#9")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(part_avg, F.col("pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (F.sum(money("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 140
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    tags=("tpch", "semi-join", "agg", "having"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers who placed very large-quantity orders.

    The IN-with-HAVING subquery is a grouped aggregate + left-semi join
    on the order key. The qualifying-order set is tiny (HAVING > 140 on
    a ~4-line-per-order fact), so at scale it broadcasts into the semi
    join and the outer aggregate only sees qualifying rows."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).alias("qty"))
        .where(F.col("qty") > 140)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        F.broadcast(big.withColumnRenamed("l_orderkey", "big_key")),
        F.col("o_orderkey") == F.col("big_key"),
        "left_semi",
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(money("l_quantity")).cast("double").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("tpch", "join", "pushdown"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR-of-conjunctions predicate.

    The classic disjunctive-pushdown test: Catalyst derives the
    single-table residuals (brand/size on part, quantity on lineitem)
    from the OR so both scans pre-filter before the broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    tags=("tpch", "semi-join", "anti-join", "exists"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the only supplier at fault in multi-supplier orders.

    "Kept waiting" becomes ``l_returnflag = 'R'`` (no receipt/commit
    dates in the fixture). EXISTS → left-semi, NOT EXISTS → left-anti,
    both on the order key with the supplier inequality in the join
    condition — two hash joins against the same fact, no correlated
    re-execution."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l1_orderkey"), F.col("l_suppkey").alias("l1_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    base = (
        l1.join(o, F.col("l1_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l1_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            l2,
            (F.col("l1_orderkey") == F.col("l2_orderkey"))
            & (F.col("l1_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1_orderkey") == F.col("l3_orderkey"))
            & (F.col("l1_suppkey") != F.col("l3_suppkey")),
            "left_anti",
        )
    )
    return (
        base.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q22_inactive_customers",
    oracle="""
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
    SELECT substr(c_name, 17, 2) AS cntrycode, c_acctbal
    FROM customer
    WHERE substr(c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')
      AND c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*)
          FROM customer
          WHERE c_acctbal > 0.00
            AND substr(c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')
      )
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
""",
    tags=("tpch", "anti-join", "scalar-subquery", "agg"),
)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy customers who never ordered.

    ``c_phone`` is absent, so the country code is the last two digits of
    ``c_name``; "inactive" is "no order since 2000-01-01" (every fixture
    customer has SOME order, so the unbounded form is empty — the date
    bound keeps the anti-join non-degenerate and matches Q22's "no
    orders in N years" intent). The scalar AVG subquery is a 1-row
    broadcast cross join; NOT EXISTS is a left-anti join on the customer
    key with the date filter pushed into the anti side's scan. The AVG
    is a decimal sum / count double — bit-identical across engines."""
    codes = ["13", "31", "23", "29", "30", "18", "17"]
    c = load_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.substring("c_name", 17, 2)
    )
    in_codes = c.where(F.col("cntrycode").isin(codes))
    avg_bal = in_codes.where(F.col("c_acctbal") > 0.00).agg(
        (F.sum(money("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return (
        in_codes.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(money("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --- Round 5: the last six classic shapes (full 22-query surface) ----------


@register(
    "q5_local_supplier_revenue",
    oracle=f"""
SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name ORDER BY revenue DESC
""",
    tags=("tpch", "join", "agg"),
)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from same-nation customer/supplier pairs.

    The distinguishing feature is the non-key equi-condition
    ``c_nationkey = s_nationkey`` riding the supplier join — Catalyst
    keeps it in the hash-join condition (no post-filter row explosion).
    Date range prunes orders before the fact-fact shuffle; nation and
    region broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
SELECT n_name AS sup_nation, EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM({_REV} - CAST(ROUND(p_retailprice * 0.6, 2) AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%a%'
GROUP BY sup_nation, o_year ORDER BY sup_nation, o_year DESC
""",
    tags=("tpch", "join", "agg"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by supplier nation and order year.

    No ``partsupp``, so supply cost is the surrogate
    ``round(p_retailprice * 0.6, 2)`` (both engines compute the same
    IEEE product then HALF_UP-round, then go DECIMAL-exact). The plan is
    Q9's: pattern filter on part BEFORE its broadcast join, one
    lineitem ⋈ orders shuffle, year extraction deferred to the agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%a%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    cost = F.round(F.col("p_retailprice") * 0.6, 2).cast("decimal(18,2)")
    profit = _rev() - cost * money("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("sup_nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("p"),
        )
        .groupBy("sup_nation", "o_year")
        .agg(F.sum("p").cast("double").alias("profit"))
        .orderBy("sup_nation", F.desc("o_year"))
    )


@register(
    "q11_important_part_value",
    oracle=f"""
WITH pv AS (
    SELECT l_partkey, SUM({_REV}) AS val FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' GROUP BY l_partkey
)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value FROM pv
WHERE CAST(val AS DOUBLE) > (CAST((SELECT SUM(val) FROM pv) AS DOUBLE)
                             / (SELECT COUNT(*) FROM pv)) * 2.0
ORDER BY part_value DESC, l_partkey
""",
    tags=("tpch", "scalar-subquery", "agg", "having"),
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value exceeds a fraction of
    the whole (here 2× the mean part value, so the predicate is
    scale-free). ``partsupp`` is absent, so shipped lineitem value for
    ASIA-nation suppliers stands in for stock value. The scalar total is
    a single-row aggregate broadcast into a cross join — the same shape
    Catalyst produces for an uncorrelated scalar subquery. The per-part
    aggregate feeds BOTH the rows and the threshold; ``pv`` is
    materialized once, and a plan test pins that. Threshold math is
    sum-cast-double / count * 2 in the same operation order on both
    engines — bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # kept: test_q11_part_value_aggregate_materialized_once pins it
    pv = materialize(
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("val")),
        "q11_important_part_value.pv",
    )
    thr = pv.agg(
        (
            (F.sum("val").cast("double") / F.count(F.lit(1))) * F.lit(2.0)
        ).alias("thr")
    )
    return (
        pv.join(F.broadcast(thr))
        .where(F.col("val").cast("double") > F.col("thr"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "q12_ship_delay_priority",
    oracle="""
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) >= 60
            THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY ship_bucket ORDER BY ship_bucket
""",
    tags=("tpch", "join", "agg", "conditional"),
)
def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix per shipping bucket.

    ``l_shipmode``/``l_commitdate``/``l_receiptdate`` are absent, so the
    bucket is the order→ship delay (≥60 days = SLOW) — same conditional
    two-way-count aggregate over an orders ⋈ lineitem join with the date
    range pushed into the lineitem scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .withColumn(
            "ship_bucket",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) >= 60,
                F.lit("SLOW"),
            ).otherwise(F.lit("FAST")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


@register(
    "q16_supplier_part_variety",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'SMALL' AND p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%5')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    tags=("tpch", "anti-join", "distinct-agg"),
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each part class.

    Lineitem stands in for ``partsupp`` ("has shipped" = "supplies");
    the complained-about suppliers (name LIKE '%5') are removed by an
    anti join BEFORE the distinct aggregate — the NOT IN subquery's
    hash-anti-join form, null-safe because s_suppkey is a key. The
    distinct count is a two-phase aggregate (partial distinct per
    partition, merge on the group key)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") != "SMALL") & (F.col("p_size") <= 25)
    )
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_name").like("%5")
    )
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_dominant_shipper",
    oracle="""
WITH y AS (
    SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
),
tot AS (SELECT l_partkey, SUM(sq) AS tq FROM y GROUP BY l_partkey)
SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM y JOIN tot USING (l_partkey)
                    WHERE CAST(sq AS DOUBLE) > 0.3 * CAST(tq AS DOUBLE))
ORDER BY s_name
""",
    tags=("tpch", "semi-join", "scalar-subquery", "agg"),
)
def q20_dominant_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who dominate a part's yearly volume.

    ``ps_availqty`` is absent, so "holds excess stock" becomes "shipped
    >30% of a part's 1996 volume". Two-level aggregate over ONE lineitem
    scan (per supplier-part, then per part via re-aggregation of the
    partials — no second scan), equi-join of the two levels on the part
    key, then a left-semi join into supplier. Quantities aggregate as
    DECIMAL (exact); only the final share comparison is double."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    y = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(money("l_quantity")).alias("sq")
    )
    tot = y.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dominant = (
        y.join(tot, "l_partkey")
        .where(F.col("sq").cast("double") > F.lit(0.3) * F.col("tq").cast("double"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
