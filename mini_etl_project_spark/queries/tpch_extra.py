"""Additional TPC-H-shaped analytics exercising remaining SQL patterns:
HAVING, IN-subqueries over aggregates, disjunctive join predicates,
derived-view max selection, NOT EXISTS + scalar subqueries (adapted to the
driver's star schema where the original columns don't exist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import davg, dsum, sql_dsum
from mini_etl_project_spark.session import load_table

# -- Q18 shape: large-volume customers (HAVING + IN aggregate subquery) ----

_Q18_ORACLE = f"""
WITH big_orders AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       {sql_dsum('l_quantity', 'total_qty')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big_orders)
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
"""


@query("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l.join(big, "l_orderkey", "left_semi"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


# -- Q19 shape: disjunctive multi-predicate join ---------------------------

_Q19_ORACLE = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_type = 'PROMO' AND l_discount >= 0.05)
"""


@query("q19_disjunctive_filter", _Q19_ORACLE)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | ((F.col("p_type") == "PROMO") & (F.col("l_discount") >= 0.05))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_rows"),
    )


# -- Q15 shape: derived revenue view + max selection -----------------------

_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("q15_top_supplier", _Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# -- Q22 shape: bucket + NOT EXISTS + scalar-average subquery --------------

_Q22_ORACLE = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(c_acctbal) AS m
  FROM customer WHERE c_acctbal > 0),
eligible AS (
  SELECT c_custkey, c_custkey % 7 AS bucket, c_acctbal
  FROM customer
  WHERE c_acctbal > (SELECT m FROM avg_bal)
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
SELECT bucket, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
FROM eligible GROUP BY bucket
"""


@query("q22_idle_balances", _Q22_ORACLE)
def q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(davg("c_acctbal", "m"))
    eligible = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("m"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        eligible.groupBy((F.col("c_custkey") % 7).alias("bucket"))
        .agg(
            F.count("*").alias("n_cust"),
            dsum("c_acctbal", "total_bal"),
        )
    )
