"""Core analytical queries: scan → filter → join → aggregate → sort.

Covers SURVEY.md §2.B Q1 (parquet scan), Q2 (projection), Q3 (filter),
Q4 (equi join), Q10 (hash aggregation), Q17 (sort), Q18 (limit/top-k),
Q21/Q22 (date/math scalar functions) in TPC-H-shaped compositions over the
driver's star schema.

Scale notes: every query here is a declarative plan — Catalyst pushes the
filters and column pruning into the parquet scan, AQE picks broadcast hash
joins for the dimension tables (region/nation/customer are tiny relative to
lineitem at any SF), and aggregations do map-side partial aggregation
before the single shuffle on the group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import (
    davg,
    dsum,
    exact_sum,
    sql_davg,
    sql_dsum,
)
from mini_etl_project_spark.session import load_table

# --------------------------------------------------------------------------
# q01_pricing_summary — the flagship (TPC-H Q1 shape).
# Reference capability: whole-table numeric summarization (R18,
# ETL_PROJECT.py:279-302) generalized to grouped aggregation (Q10).
# --------------------------------------------------------------------------

_Q01_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity', 'sum_qty')},
  {sql_dsum('l_extendedprice', 'sum_base_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {sql_davg('l_quantity', 'avg_qty')},
  {sql_davg('l_extendedprice', 'avg_price')},
  {sql_davg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", _Q01_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q04_order_priority — EXISTS semi-join + priority counts (TPC-H Q4 shape).
# --------------------------------------------------------------------------

_Q04_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q04_order_priority", _Q04_ORACLE)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q12_shipmode_priority — CASE-dissected aggregation (TPC-H Q12 shape,
# adapted: no shipmode column → bucket by linenumber parity).
# --------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l_linenumber % 2 AS line_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linenumber % 2
"""


@query("q12_shipmode_priority", _Q12_ORACLE)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy((F.col("l_linenumber") % 2).alias("line_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# q14_promo_revenue — conditional-ratio aggregate (TPC-H Q14 shape,
# adapted: promo parts = p_type = 'PROMO').
# --------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT
  100.00 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END
              AS DECIMAL(38,6))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue_pct,
  COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@query("q14_promo_revenue", _Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        (
            F.lit(100.00)
            * exact_sum(promo)
            / exact_sum(disc)
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# q03_shipping_priority — join fact↔dims + grouped agg + deterministic top-k
# (TPC-H Q3 shape; Q4 equi join, Q18 top-k).
# --------------------------------------------------------------------------

_Q03_ORACLE = f"""
SELECT
  l_orderkey,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q03_shipping_priority", _Q03_ORACLE)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q05_region_revenue — 6-way join through the dimension chain
# (TPC-H Q5 shape; Q4 multi-join, AQE broadcast of all dims).
# --------------------------------------------------------------------------

_Q05_ORACLE = f"""
SELECT
  n_name,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC
"""


@query("q05_region_revenue", _Q05_ORACLE)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"))
    )


# --------------------------------------------------------------------------
# q06_revenue_change — pure filter + single global aggregate (TPC-H Q6 shape;
# Q3 predicates pushed to parquet scan).
# --------------------------------------------------------------------------

_Q06_ORACLE = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


@query("q06_revenue_change", _Q06_ORACLE)
def q06_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# q10_returned_items — join + group + top-k customers by lost revenue
# (TPC-H Q10 shape).
# --------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT
  c_custkey,
  c_name,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  c_acctbal,
  n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(l.filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )
