"""Set operations — SURVEY.md §2.B Q19 (union / intersect / except) and
Q11/Q12 (distinct & approximate aggregation), Q13 (rollup / cube /
grouping sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import DEC, dsum, sql_dsum
from mini_etl_project_spark.session import load_table

# -- Q19 union all ---------------------------------------------------------

_UNION_ORACLE = """
SELECT custkey, COUNT(*) AS n_appearances FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
) GROUP BY custkey
"""


@query("q_setop_union_all", _UNION_ORACLE)
def q_setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionAll(b).groupBy("custkey").agg(F.count("*").alias("n_appearances"))


# -- Q19 intersect ---------------------------------------------------------

_INTERSECT_ORACLE = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


@query("q_setop_intersect", _INTERSECT_ORACLE)
def q_setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


# -- Q19 except ------------------------------------------------------------

# Ordering customers outside the BUILDING segment. The original
# direction (customers EXCEPT ordering custkeys) was round-11's vacuity
# audit hit: in this synthetic data EVERY customer has an order at every
# SF, so the query returned 0 rows in both engines and its green row
# proved nothing (the q_text_good_turing class, VERDICT r10 ask #1).
# This direction is structurally non-empty at any SF (only ~1/5 of
# customers are BUILDING) and still exercises EXCEPT's set semantics:
# the left side is a multiset (one custkey per order) that EXCEPT must
# dedup.
_EXCEPT_ORACLE = """
SELECT o_custkey AS custkey FROM orders
EXCEPT
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


@query("q_setop_except", _EXCEPT_ORACLE)
def q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # subtract = EXCEPT (set semantics), vs exceptAll = EXCEPT ALL (multiset)
    return o.select(F.col("o_custkey").alias("custkey")).subtract(
        c.filter(F.col("c_mktsegment") == "BUILDING").select(
            F.col("c_custkey").alias("custkey")
        )
    )


# -- Q11 distinct aggregation ----------------------------------------------

_DISTINCT_ORACLE = f"""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
         AS sum_distinct_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_agg_distinct", _DISTINCT_ORACLE)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum_distinct(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_distinct_qty"),
    )


# -- Q12 approximate aggregation --------------------------------------------
# HLL++/KLL sketch estimates are implementation-defined, so the raw
# estimates can't hash-match DuckDB. Driver-checkable form (the X39/X103
# derived-fact pattern): the sketch runs in-plan, but what the query
# EMITS are exact values plus integer bound-flags computed in-plan —
# "estimate within 3×rsd of exact", "approx median between exact
# p45/p55" — which the oracle asserts as literal 1s alongside the same
# exact columns. Both sketches are merge-order-independent within these
# bounds (HLL registers are max-merged; the GK summary's rank error is
# ≤ n/accuracy ≪ the p45–p55 rank window), so the flags are stable under
# any partitioning. The raw-estimate surface lives on in the unit tests
# and q_agg_hll_native.

_APPROX_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       1 AS parts_within_3rsd,
       1 AS median_within_p45_p55
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_agg_approx", _APPROX_ORACLE)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"),
        F.percentile("l_extendedprice", 0.45).alias("p45"),
        F.percentile("l_extendedprice", 0.55).alias("p55"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.15 * F.col("exact_parts")
        )
        .cast("int")
        .alias("parts_within_3rsd"),
        (
            (F.col("approx_median") >= F.col("p45"))
            & (F.col("approx_median") <= F.col("p55"))
        )
        .cast("int")
        .alias("median_within_p45_p55"),
    )


# -- Q13 rollup ------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q_agg_rollup", _ROLLUP_ORACLE)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), dsum("l_quantity", "sum_qty")
    )


# -- Q13 cube --------------------------------------------------------------

_CUBE_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("q_agg_cube", _CUBE_ORACLE)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice", "sum_price")
    )


# -- Q13 grouping sets (SQL surface; views registered per-call) ------------

_GSETS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


@query("q_agg_grouping_sets", _GSETS_ORACLE)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# -- Q19+ union with schema reconciliation ---------------------------------
#
# Heterogenous-source union: frames with different column sets merged by
# NAME with missing columns null-filled (unionByName allowMissingColumns)
# — the multi-source ingestion primitive. Position-based unionAll would
# silently misalign; the oracle fills the same NULLs explicitly.

_UNION_RECONCILE_ORACLE = """
WITH u AS (
  SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS bal,
         NULL AS price
  FROM customer
  UNION ALL
  SELECT o_custkey AS key, NULL AS segment, NULL AS bal,
         o_totalprice AS price
  FROM orders WHERE o_orderkey % 5 = 0)
SELECT COALESCE(segment, 'FROM_ORDERS') AS segment,
       COUNT(*) AS n,
       COUNT(bal) AS n_bal,
       COUNT(price) AS n_price,
       CAST(SUM(CAST(COALESCE(bal, price) AS DECIMAL(38,6))) AS DOUBLE)
         AS amount_sum
FROM u GROUP BY COALESCE(segment, 'FROM_ORDERS')
"""


@query("q_setop_union_reconcile", _UNION_RECONCILE_ORACLE)
def q_setop_union_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("price"),
        )
    )
    u = c.unionByName(o, allowMissingColumns=True)
    return u.groupBy(
        F.coalesce("segment", F.lit("FROM_ORDERS")).alias("segment")
    ).agg(
        F.count("*").alias("n"),
        F.count("bal").alias("n_bal"),
        F.count("price").alias("n_price"),
        dsum(F.coalesce("bal", "price"), "amount_sum"),
    )


# -- X185 multiset set operations (EXCEPT ALL / INTERSECT ALL) -------------
#
# Bag semantics — the version of EXCEPT/INTERSECT that respects
# multiplicities (a key appearing 5 times on the left and 2 on the
# right survives EXCEPT ALL 3 times, INTERSECT ALL 2 times).  Left bag =
# every order's custkey; right bag = custkeys of the high-value orders.
# Aggregated output (count / distinct / sum) keeps the row volume
# bounded while still pinning multiplicities exactly.

_MULTISET_ORACLE = """
WITH a AS (SELECT o_custkey AS k FROM orders),
b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000.0),
ea AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
ia AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
SELECT 'except_all' AS op, COUNT(*) AS n_rows,
       COUNT(DISTINCT k) AS n_distinct, CAST(SUM(k) AS BIGINT) AS sum_k
FROM ea
UNION ALL
SELECT 'intersect_all', COUNT(*), COUNT(DISTINCT k),
       CAST(SUM(k) AS BIGINT)
FROM ia
"""


@query("q_setop_multiset", _MULTISET_ORACLE)
def q_setop_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_totalprice") > 200000.0).select(
        F.col("o_custkey").alias("k")
    )

    def agg(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.lit(op).alias("op"),
            F.count("*").alias("n_rows"),
            F.countDistinct("k").alias("n_distinct"),
            F.sum("k").cast("bigint").alias("sum_k"),
        ).select("op", "n_rows", "n_distinct", "sum_k")

    return agg(a.exceptAll(b), "except_all").unionByName(
        agg(a.intersectAll(b), "intersect_all")
    )


# -- X357: percent-of-parent hierarchy contribution ------------------------
#
# The drill-down report primitive: every (region, nation) leaf carries
# its share of the parent region and the region its share of the grand
# total, in exact floor ppm. One fact aggregation down to the bounded
# 25-row nation grain; all shares are windows/joins over that bounded
# table, so the fact table is scanned once and shuffled once.

_POP_ORACLE = """
WITH leaf AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name),
reg AS (
  SELECT region, CAST(SUM(rev_cents) AS BIGINT) AS region_cents
  FROM leaf GROUP BY region),
tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents FROM leaf)
SELECT l.region, l.nation, l.rev_cents,
       CAST(l.rev_cents * 1000000 // g.region_cents AS BIGINT)
         AS share_of_region_ppm,
       CAST(g.region_cents * 1000000 // t.total_cents AS BIGINT)
         AS region_share_of_total_ppm
FROM leaf l JOIN reg g ON g.region = l.region CROSS JOIN tot t
"""


@query("q_setop_percent_of_parent", _POP_ORACLE)
def q_setop_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    leaf = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
        # bounded 25-row leaf table with three consumers (reg, tot, the
        # final join) — checkpoint so the 4-table join runs once
        # (round-9 audit: 24 scans)
        .localCheckpoint(eager=True)
    )
    reg = leaf.groupBy("region").agg(
        F.sum("rev_cents").cast("bigint").alias("region_cents")
    )
    tot = leaf.agg(
        F.sum("rev_cents").cast("bigint").alias("total_cents")
    )
    return (
        leaf.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "rev_cents",
            F.expr("rev_cents * 1000000 DIV region_cents")
            .cast("bigint")
            .alias("share_of_region_ppm"),
            F.expr("region_cents * 1000000 DIV total_cents")
            .cast("bigint")
            .alias("region_share_of_total_ppm"),
        )
    )


# -- X366: GROUPING() / grouping_id() disambiguation -----------------------
#
# The rollup/cube footgun: a NULL group column is ambiguous between "the
# subtotal row" and "the data really was NULL". GROUPING() is the ANSI
# disambiguator; grouping_id() packs all the flags into one bitmask for
# routing. This query rolls up over a column with REAL nulls planted
# (priority of even orders nulled) so the flag is the only thing that
# separates data-null rows from subtotal rows.

_GROUPING_ID_ORACLE = """
WITH o AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
           AS prio,
         o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT status, prio,
       GROUPING(status) AS g_status,
       GROUPING(prio) AS g_prio,
       GROUPING(status) * 2 + GROUPING(prio) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM o GROUP BY ROLLUP(status, prio)
"""


@query("q_sql_grouping_id", _GROUPING_ID_ORACLE)
def q_sql_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.lit(None).cast("string")
        )
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return o.rollup("status", "prio").agg(
        F.grouping("status").alias("g_status"),
        F.grouping("prio").alias("g_prio"),
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    ).select(
        "status", "prio", "g_status", "g_prio",
        F.col("gid").cast("int").alias("gid"), "n", "cents",
    )
