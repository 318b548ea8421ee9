"""The remaining classic TPC-H query shapes (Q2, Q7, Q8, Q9, Q11, Q13,
Q16, Q17, Q20, Q21), adapted to the driver's reduced star schema — there
is no ``partsupp`` table and no commit/receipt dates, so part↔supplier
relationships derive from observed ``lineitem`` pairs and the
"late line" predicates use ``l_returnflag`` instead. Together with
``core.py`` and ``tpch_extra.py`` this completes all 22 TPC-H shapes.

SQL surface exercised here and not elsewhere: correlated MIN subquery
(Q2), nation-pair disjunctions (Q7), market-share conditional ratio (Q8),
scalar-subquery HAVING threshold (Q11), LEFT JOIN with ON-clause residual
predicate + histogram-of-counts (Q13), NOT IN + COUNT(DISTINCT) (Q16),
correlated per-group AVG threshold (Q17), nested IN over HAVING (Q20),
EXISTS + NOT EXISTS on the same fact table (Q21).

Scale posture: every dimension join (nation, region, part, supplier) is
broadcast-eligible; the correlated subqueries compile to window functions
or semi/anti joins keyed on the fact table's natural keys — no
driver-side loops, no collects. Window partitions are bounded
(per-partkey line counts), so no unpartitioned-window hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import DEC, dsum, exact_sum, sql_dsum
from mini_etl_project_spark.session import load_table


# -- Q2 shape: min-acctbal supplier per part (correlated MIN) --------------
# partsupp stand-in: DISTINCT (l_partkey, l_suppkey) pairs from lineitem.

_Q02_ORACLE = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
SELECT p_partkey, p_name, s_name, n_name, s_acctbal
FROM part
JOIN ps ON p_partkey = l_partkey
JOIN eu ON l_suppkey = s_suppkey
WHERE p_size = 15
  AND s_acctbal = (
    SELECT MIN(eu2.s_acctbal)
    FROM ps ps2 JOIN eu eu2 ON ps2.l_suppkey = eu2.s_suppkey
    WHERE ps2.l_partkey = p_partkey)
"""


@query("q02_min_cost_supplier", _Q02_ORACLE)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated MIN subquery as a bounded window: the per-part minimum
    is a window aggregate over the part's supplier rows (each partkey has
    a handful of suppliers), then an equality filter — no second scan,
    no self-join."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    joined = (
        p.join(ps, F.col("p_partkey") == F.col("l_partkey"))
        .join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("__min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("__min_bal"))
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
    )


# -- Q7 shape: volume shipping between a nation pair -----------------------

_Q07_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume', 'revenue')}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q07_nation_volume", _Q07_ORACLE)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    j = (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue"))
    )


# -- Q8 shape: national market share within a region's product market ------

_Q08_ORACLE = """
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                      AS DECIMAL(38,6))) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY')
GROUP BY o_year
"""


@query("q08_market_share", _Q08_ORACLE)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")))
    j = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    picked = F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        j.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            picked.alias("picked"),
        )
        .groupBy("o_year")
        .agg(
            (
                exact_sum("picked") / exact_sum("volume")
            ).alias("mkt_share")
        )
    )


# -- Q9 shape: product-line profit by nation and year ----------------------
# ps_supplycost stand-in: p_retailprice as the unit cost.

_Q09_ORACLE = f"""
SELECT nation, o_year, {sql_dsum('amount', 'sum_profit')}
FROM (
  SELECT n_name AS nation, CAST(YEAR(l_shipdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity
           AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%an%')
GROUP BY nation, o_year
"""


@query("q09_product_profit", _Q09_ORACLE)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%an%"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit"))
    )


# -- Q11 shape: important parts by traded value (scalar-subquery HAVING) ---

_Q11_ORACLE = """
WITH val AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY l_partkey)
SELECT l_partkey, value
FROM val
WHERE value > (
  SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) * 0.001 FROM val)
"""


@query("q11_important_parts", _Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar threshold is a one-row aggregate broadcast back over the
    per-part values — declarative, no driver round-trip."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    val = (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity"), "value"))
    )
    total = val.agg(
        (exact_sum("value") * F.lit(0.001)).alias("__threshold")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value") > F.col("__threshold"))
        .select("l_partkey", "value")
    )


# -- Q13 shape: customer order-count distribution --------------------------

_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
"""


@query("q13_customer_distribution", _Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# -- Q16 shape: supplier counts per part group (NOT IN + COUNT DISTINCT) ---

_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("q16_supplier_counts", _Q16_ORACLE)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# -- Q17 shape: small-quantity revenue (correlated per-part AVG) -----------

_Q17_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                  / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@query("q17_small_quantity", _Q17_ORACLE)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated AVG as a per-part window over the brand-filtered join —
    the inner join on partkey keeps every line of each surviving part, so
    the window sees exactly the subquery's rows (bounded per part)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    j = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    w = Window.partitionBy("l_partkey")
    threshold = F.lit(0.2) * (
        F.sum(F.col("l_quantity").cast(DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        j.withColumn("__thr", threshold)
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(
            (exact_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly")
        )
    )


# -- Q20 shape: suppliers with significant shipments (nested IN/HAVING) ----

_Q20_ORACLE = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%an%' AND YEAR(l_shipdate) = 1997
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 100)
"""


@query("q20_promotion_suppliers", _Q20_ORACLE)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%an%"))
    heavy = (
        l.filter(F.year("l_shipdate") == 1997)
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 100)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_5")
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


# -- Q21 shape: sole-blame suppliers (EXISTS + NOT EXISTS) -----------------
# No receipt/commit dates in this schema: the "problem line" predicate is
# l_returnflag = 'R' on finished orders.

_Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


@query("q21_sole_blame_suppliers", _Q21_ORACLE)
def q21_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi, NOT EXISTS → left-anti, both equi-keyed on
    l_orderkey with the suppkey inequality as a residual — the shuffles
    stay hash joins on the order key at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    l1 = l.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = l.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
    )
    cand = (
        l1.join(o, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(
            l2,
            (F.col("l2_orderkey") == F.col("l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        cand.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
