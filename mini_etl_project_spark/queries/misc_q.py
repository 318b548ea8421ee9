"""Remaining relational surface: pivot/unpivot, subqueries, the SQL API
end-to-end, embedding-cosine near-dup representatives, sliding windows,
streaming dedup counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.vectors import cosine_exact
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import dsum, sql_dsum
from mini_etl_project_spark.session import load_table

# -- Pivot (wide aggregation) ----------------------------------------------

_PIVOT_ORACLE = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_f')},
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_o')},
       COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
       COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_pivot_status", _PIVOT_ORACLE)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            dsum("l_quantity", "qty"),
            F.count(F.lit(1)).alias("n"),  # count("*") doesn't resolve under pivot
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
    )


# -- Unpivot / melt --------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT metric, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
FROM (
  SELECT 'acctbal' AS metric, c_acctbal AS value FROM customer
  UNION ALL
  SELECT 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
)
GROUP BY metric
"""


@query("q_unpivot_metrics", _UNPIVOT_ORACLE)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    melted = c.select(
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot([], ["acctbal", "nationkey"], "metric", "value")
    return melted.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


# -- Scalar + correlated subqueries ----------------------------------------

_SUBQUERY_ORACLE = f"""
WITH avg_price AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(o_totalprice) AS m
  FROM orders)
SELECT o_orderstatus,
       COUNT(*) AS n_above_avg,
       {sql_dsum('o_totalprice', 'sum_above')}
FROM orders WHERE o_totalprice > (SELECT m FROM avg_price)
GROUP BY o_orderstatus
"""


@query("q_subquery_scalar", _SUBQUERY_ORACLE)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        WITH avg_price AS (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(o_totalprice) AS m
          FROM sq_orders)
        SELECT o_orderstatus,
               COUNT(*) AS n_above_avg,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS sum_above
        FROM sq_orders WHERE o_totalprice > (SELECT m FROM avg_price)
        GROUP BY o_orderstatus
        """
    )


# -- SQL API end-to-end (CTEs + join + window through spark.sql) -----------

_SQL_SHARED = """
WITH cust_orders AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM {orders} JOIN {customer} ON o_custkey = c_custkey)
SELECT c_mktsegment, o_orderkey, o_totalprice, rn
FROM cust_orders WHERE rn <= 5
"""


@query(
    "q_sql_api_topn",
    _SQL_SHARED.format(orders="orders", customer="customer"),
)
def q_sql_api_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sqlapi_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sqlapi_customer")
    return spark.sql(
        _SQL_SHARED.format(orders="sqlapi_orders", customer="sqlapi_customer")
    )


# -- X2/X4: embedding-cosine near-dup representatives ----------------------
# One-hop canonicalization: each vector's representative is the smallest
# vec_id among itself and its ≥τ cosine neighbors (full transitive closure
# lives in operators/dedup.connected_components, exercised in tests).

_EMB_REP_ORACLE = """
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM sub, unnest(generate_series(1, 64)) t(i) GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(SUM(CAST(CAST(a.embedding[t.i] AS DOUBLE)
                       * CAST(b.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM sub a, sub b, unnest(generate_series(1, 64)) t(i)
  WHERE a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id),
neighbors AS (
  SELECT id_a, id_b
  FROM pairs JOIN norms na ON na.vec_id = id_a
             JOIN norms nb ON nb.vec_id = id_b
  WHERE dot / (SQRT(na.sq) * SQRT(nb.sq)) >= 0.28)
SELECT s.vec_id,
       LEAST(s.vec_id, COALESCE(MIN(n.id_b), s.vec_id)) AS rep
FROM sub s LEFT JOIN neighbors n ON n.id_a = s.vec_id
GROUP BY s.vec_id
"""


@query("q_dedup_embedding_rep", _EMB_REP_ORACLE)
def q_dedup_embedding_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    neighbors = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .withColumn("cosine", cosine_exact("va", "vb"))
        .filter(F.col("cosine") >= 0.28)
        .select("id_a", "id_b")
    )
    return (
        e.select(F.col("vec_id"))
        .join(neighbors, F.col("vec_id") == F.col("id_a"), "left")
        .groupBy("vec_id")
        .agg(
            F.least(
                F.col("vec_id"), F.coalesce(F.min("id_b"), F.col("vec_id"))
            ).alias("rep")
        )
    )


# -- Q31 sliding windows (batch-checked) -----------------------------------
# A 1h-wide / 30m-slide window ⇒ each event belongs to exactly two
# windows: starts at floor30(ts) and floor30(ts) − 30m.

_SLIDING_ORACLE = """
WITH starts AS (
  SELECT ts, value,
         UNNEST([
           time_bucket(INTERVAL 30 MINUTE, ts),
           time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
         ]) AS window_start
  FROM events WHERE ts IS NOT NULL)
SELECT window_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM starts
GROUP BY window_start
"""


@query("q_window_sliding", _SLIDING_ORACLE)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time cannot be placed in a time window (Spark's
    # window() drops it; the oracle would mint a NULL bucket) —
    # excluded on both engines (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


# -- Q33 streaming dedup, checked by count ---------------------------------
# The kept row per key is arrival-order dependent; the KEY SET is not.

_STREAM_DEDUP_ORACLE = """
SELECT COUNT(*) AS n_deduped FROM (
  SELECT DISTINCT user_id, event_type FROM events)
"""


@query("q_stream_dedup_count", _STREAM_DEDUP_ORACLE)
def q_stream_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.streaming.ops import (
        adaptive_stream_partitions,
        drain_to_table,
        events_stream,
        stream_dedup,
    )

    tbl = drain_to_table(
        stream_dedup(events_stream(spark, sf_dir)),
        mode="append",
        shuffle_partitions=adaptive_stream_partitions(sf_dir),
    )
    return spark.table(tbl).agg(F.count("*").alias("n_deduped"))


# -- R1+/Q1: custom Python DataSource (Spark 4 DataSource API) -------------
# The synthetic-corpus source generates rows as pure functions of the row
# id (sources/pyds.py), so DuckDB's generate_series reproduces the scan
# exactly — including the pushed-down id range (the source narrows its
# generated range in pushFilters; dropped rows are never materialized).

_PYDS_ORACLE = """
SELECT i AS id,
       md5(CAST(i AS VARCHAR)) AS doc,
       CAST(i % 97 AS DOUBLE) / 97.0 AS score
FROM generate_series(500, 1499) t(i)
"""


@query("q_source_python_ds", _PYDS_ORACLE)
def q_source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.sources.pyds import register

    register(spark)
    df = spark.read.format("synthetic_corpus").option("rows", 2000).load()
    return df.filter((F.col("id") >= 500) & (F.col("id") < 1500))


# -- X14+ Python STREAMING DataSource (Spark 4) ----------------------------
# The streaming half of the custom-source path: a SimpleDataSourceStream-
# Reader replay of a deterministic bounded event stream, aggregated with
# a streaming groupBy in complete mode. The reader's values are pure
# functions of the row position, so the drained result is oracle-exact.

_PYDS_STREAM_ROWS = 2000

_PYDS_STREAM_ORACLE = f"""
SELECT i % 5 AS bucket,
       COUNT(*) AS n,
       CAST(SUM((i * 37) % 100) AS BIGINT) AS sum_v
FROM generate_series(0, {_PYDS_STREAM_ROWS - 1}) t(i)
GROUP BY 1
"""


@query("q_source_python_ds_stream", _PYDS_STREAM_ORACLE)
def q_source_python_ds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from mini_etl_project_spark.sources.pyds import register_stream

    register_stream(spark)
    stream = (
        spark.readStream.format("synthetic_stream")
        .option("rows", _PYDS_STREAM_ROWS)
        .load()
    )
    agg = stream.groupBy((F.col("id") % 5).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("bigint").alias("sum_v"),
    )
    # processAllAvailable (not availableNow): the bounded reader signals
    # exhaustion with an unchanged offset, which is what this drain keys
    # on; offsets/commits exercise the full micro-batch protocol.
    name = f"pyds_stream_{_uuid.uuid4().hex[:12]}"
    # State width sized to the bounded source (r12; same rationale as
    # ops.adaptive_stream_partitions — each state partition is a fixed
    # per-batch cost, and 2 000 rows never need the session default 32).
    # The pin is the race-safe shared context manager (serialized across
    # driver threads — see ops._PIN_LOCK).
    from mini_etl_project_spark.streaming.ops import pinned_shuffle_partitions

    with pinned_shuffle_partitions(spark, max(1, _PYDS_STREAM_ROWS // 1000)):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


# -- data-quality constraint checking (Deequ-style expectations) ------------
# The validation pass every production pipeline runs before publishing a
# table: a rule set (completeness, uniqueness, accepted values, value
# ranges, referential integrity) evaluated in a CONSTANT number of jobs —
# here one aggregate per rule family, unioned into a (rule, n_violations,
# passed) report. Each rule is a plain aggregate (map-side combinable);
# the FK check is one anti-join. No per-rule passes over the data — the
# single-table rules share one wide aggregation.

_QUALITY_ORACLE = """
WITH single AS (
  SELECT
    COUNT(*) - COUNT(l_quantity) AS null_qty,
    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_keys,
    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      AS bad_qty_range,
    SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
      AS bad_flag,
    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
      AS bad_discount
  FROM lineitem),
fk AS (
  SELECT COUNT(*) AS orphans
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
       CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
FROM (
  SELECT 'complete_l_quantity' AS rule, null_qty AS n_violations FROM single
  UNION ALL SELECT 'unique_orderkey_linenumber', dup_keys FROM single
  UNION ALL SELECT 'range_l_quantity_1_50', bad_qty_range FROM single
  UNION ALL SELECT 'accepted_values_returnflag', bad_flag FROM single
  UNION ALL SELECT 'range_l_discount_0_0.1', bad_discount FROM single
  UNION ALL SELECT 'fk_lineitem_orders', orphans FROM fk)
"""


@query("q_quality_constraints", _QUALITY_ORACLE)
def q_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    q = F.col("l_quantity")
    single = l.agg(
        (F.count(F.lit(1)) - F.count(q)).alias("null_qty"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.struct("l_orderkey", "l_linenumber"))
        ).alias("dup_keys"),
        F.sum(((q < 1) | (q > 50)).cast("long")).alias("bad_qty_range"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("bad_flag"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast(
                "long"
            )
        ).alias("bad_discount"),
    )
    orphans = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    rules = single.crossJoin(orphans).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(col).cast("bigint").alias("n_violations"),
                    )
                    for name, col in [
                        ("complete_l_quantity", "null_qty"),
                        ("unique_orderkey_linenumber", "dup_keys"),
                        ("range_l_quantity_1_50", "bad_qty_range"),
                        ("accepted_values_returnflag", "bad_flag"),
                        ("range_l_discount_0_0.1", "bad_discount"),
                        ("fk_lineitem_orders", "orphans"),
                    ]
                ]
            )
        ).alias("r")
    )
    return rules.select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_violations").alias("n_violations"),
        F.when(F.col("r.n_violations") == 0, 1).otherwise(0).alias("passed"),
    )


# -- Spark 4 native recursive CTE (WITH RECURSIVE) -------------------------
#
# The same div-10 customer tree q_hierarchy_levels walks with manual
# level-wise joins, traversed by the engine's OWN recursive-CTE executor
# (new in Spark 4) — declared once in SQL, iterated by the engine, depth
# and root carried through the recursion. Complementary evidence: the
# manual unrolling and the native recursion must both match DuckDB's
# recursive CTE.

_RECURSIVE_CTE_ORACLE = """
WITH RECURSIVE h(id, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, h.root, h.depth + 1
  FROM customer c JOIN h ON c.c_custkey // 10 = h.id
  WHERE c.c_custkey >= 10)
SELECT depth, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_checksum,
       CAST(SUM(root) AS BIGINT) AS root_checksum
FROM h GROUP BY depth
"""


@query("q_sql_recursive_cte", _RECURSIVE_CTE_ORACLE)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_rcte"
    )
    return spark.sql(
        """
WITH RECURSIVE h(id, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer_rcte WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, h.root, h.depth + 1
  FROM customer_rcte c JOIN h ON c.c_custkey DIV 10 = h.id
  WHERE c.c_custkey >= 10)
SELECT depth, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_checksum,
       CAST(SUM(root) AS BIGINT) AS root_checksum
FROM h GROUP BY depth
"""
    )


# -- Correlated EXISTS / NOT EXISTS subqueries -------------------------------
#
# The decorrelation surface: customers WITH an urgent order and WITHOUT
# any high-value order, as correlated EXISTS predicates (Catalyst
# rewrites them to semi/anti joins — asserted by the green plan, the
# rewrite IS the scale story).

_EXISTS_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_totalprice > 400000)
"""


@query("q_subquery_exists", _EXISTS_ORACLE)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("__sq_customer")
    o.createOrReplaceTempView("__sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM __sq_customer c
        WHERE EXISTS (SELECT 1 FROM __sq_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM __sq_orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_totalprice > 400000)
        """
    )


# -- explode_outer / posexplode_outer null preservation ----------------------
#
# Rows whose array is empty or NULL must SURVIVE an outer explode with
# NULL element columns (a silent row-dropper in ETL pipelines when the
# plain explode is used by mistake). Arrays built deterministically from
# part: even keys get token arrays, keys % 3 == 0 get empty, % 5 == 0
# get NULL.

_EXPLODE_OUTER_ORACLE = """
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              WHEN p_partkey % 3 = 0 THEN []
              ELSE string_split(p_name, ' ')[1:2] END AS arr
  FROM part),
exploded AS (
  SELECT p_partkey,
         CAST(g.pos AS INT) - 1 AS pos,
         arr[CAST(g.pos AS INT)] AS tok
  FROM src, LATERAL unnest(generate_series(1, len(arr))) g(pos)
  UNION ALL
  SELECT p_partkey, NULL, NULL FROM src
  WHERE arr IS NULL OR len(arr) = 0)
SELECT p_partkey, pos, tok FROM exploded
"""


@query("q_fn_explode_outer", _EXPLODE_OUTER_ORACLE)
def q_fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    arr = (
        F.when(F.col("p_partkey") % 5 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("p_partkey") % 3 == 0, F.array().cast("array<string>"))
        .otherwise(F.slice(F.split("p_name", " "), 1, 2))
    )
    src = p.select("p_partkey", arr.alias("arr"))
    return src.select(
        "p_partkey", F.posexplode_outer("arr").alias("pos", "tok")
    )


# -- GROUP BY ALL ------------------------------------------------------------
#
# Spark 4 supports the DuckDB-originated GROUP BY ALL: every non-aggregate
# select item becomes a grouping key. Same SQL text runs on both engines.

_GROUP_BY_ALL_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
GROUP BY ALL
"""


@query("q_sql_group_by_all", _GROUP_BY_ALL_ORACLE)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gba_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM __gba_orders
        GROUP BY ALL
        """
    )


# -- Map higher-order functions ----------------------------------------------
#
# map_from_arrays → map_filter → transform_values → map_concat, emitted
# as exploded (key, value) rows sorted by key (map iteration order is
# engine-defined; exploded+keyed rows hash). Covers the map-typed HOF
# surface beyond the array HOFs of Q23.

_MAP_HOF_ORACLE = """
WITH m AS (
  SELECT o_orderkey,
         MAP {'price_c': CAST(ROUND(o_totalprice * 100) AS BIGINT),
              'key10': o_orderkey % 10,
              'cust': o_custkey} AS base
  FROM orders WHERE o_orderkey % 97 = 0)
SELECT o_orderkey, u.entry.key AS k, u.entry.value * 2 AS v2
FROM m CROSS JOIN LATERAL unnest(map_entries(base)) u(entry)
WHERE u.entry.value > 5
"""


@query("q_fn_map_hof", _MAP_HOF_ORACLE)
def q_fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    )
    base = F.map_from_arrays(
        F.array(F.lit("price_c"), F.lit("key10"), F.lit("cust")),
        F.array(
            F.round(F.col("o_totalprice") * 100).cast("bigint"),
            (F.col("o_orderkey") % 10).cast("bigint"),
            F.col("o_custkey").cast("bigint"),
        ),
    )
    filtered = F.map_filter(base, lambda k, v: v > 5)
    doubled = F.transform_values(filtered, lambda k, v: v * 2)
    return (
        o.select("o_orderkey", F.explode(doubled).alias("k", "v2"))
    )


# -- Parameterized SQL (Spark 4 named arguments) -----------------------------
#
# spark.sql(..., args={...}) binds named parameters server-side — the
# injection-safe templating surface. The oracle inlines the same
# literals; agreement pins that binding semantics match inlining.

_PARAM_SQL_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE o_totalprice > 250000 AND o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@query("q_sql_parameterized", _PARAM_SQL_ORACLE)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM __param_orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 250000, "status": "F"},
    )


# -- SQL table-valued functions: stack + inline ------------------------------
#
# stack() reshapes wide → long inside SQL (the TVF complement of the
# DataFrame unpivot), and inline() explodes an array-of-structs — both
# in one statement over lineitem aggregates.

_TVF_ORACLE = """
WITH agg AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, metric, val FROM (
  SELECT l_returnflag, 'qty' AS metric, qty AS val FROM agg
  UNION ALL
  SELECT l_returnflag, 'cnt', cnt FROM agg)
"""


@query("q_sql_tvf_stack", _TVF_ORACLE)
def q_sql_tvf_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__tvf_lineitem")
    return spark.sql(
        """
        WITH agg AS (
          SELECT l_returnflag,
                 CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM __tvf_lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, metric, val
        FROM agg
        LATERAL VIEW stack(2, 'qty', qty, 'cnt', cnt) AS metric, val
        """
    )


# -- Pandas API on Spark (pyspark.pandas) ------------------------------------
#
# The third client API after DataFrame and SQL: pandas-shaped code
# compiled onto the same engine. The query is written entirely in
# pyspark.pandas (groupby/agg/assign) and converted back to a Spark
# frame at the boundary; the oracle is plain SQL — agreement pins that
# the ps layer lowers to the same semantics.

_PS_API_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(MAX(ROUND(l_extendedprice * 100)) AS BIGINT) AS max_cents
FROM lineitem GROUP BY l_returnflag
"""


@query("q_ps_pandas_api", _PS_API_ORACLE)
def q_ps_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pandas as ps

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    psdf = li.pandas_api()
    out = psdf.groupby("l_returnflag").agg(
        n=("qty", "count"), total_qty=("qty", "sum"), max_cents=("cents", "max")
    )
    sdf = out.reset_index().to_spark()
    return sdf.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.col("total_qty").cast("bigint").alias("total_qty"),
        F.col("max_cents").cast("bigint").alias("max_cents"),
    )


# -- X160 native SQL UNPIVOT clause ----------------------------------------
#
# Spark 3.4+'s first-class UNPIVOT relation (not the stack() TVF used by
# q_unpivot_metrics / q_sql_tvf_stack): a wide per-priority aggregate is
# reshaped wide→long by the parser itself.  The oracle reproduces the
# reshape with plain UNION ALL — same rows, different formalism.  All
# measures are integer cents so the value column unions losslessly.

_UNPIVOT_NATIVE_ORACLE = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
         CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS max_cents
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS val FROM wide
UNION ALL
SELECT o_orderpriority, 'sum_cents', sum_cents FROM wide
UNION ALL
SELECT o_orderpriority, 'max_cents', max_cents FROM wide
"""


@query("q_sql_unpivot_native", _UNPIVOT_NATIVE_ORACLE)
def q_sql_unpivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "unpivot_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, metric, val
        FROM (
          SELECT o_orderpriority,
                 COUNT(*) AS n_orders,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sum_cents,
                 MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS max_cents
          FROM unpivot_orders GROUP BY o_orderpriority)
        UNPIVOT (val FOR metric IN (n_orders, sum_cents, max_cents))
        """
    )


# -- X161 lateral column aliases -------------------------------------------
#
# Spark 3.4+ lets a SELECT expression reference an alias defined earlier
# in the SAME select list — the warehouse-SQL ergonomics feature that
# removes nested subqueries for derived-from-derived columns.  The oracle
# expands the chain manually, proving the lateral references bind to the
# aliased expressions and not to shadowed input columns.  Integer cents
# keep the three-deep derivation chain exact.

_LATERAL_ALIAS_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS net_c4,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) // 100
         AS net_cents
FROM lineitem
"""


@query("q_fn_lateral_alias", _LATERAL_ALIAS_ORACLE)
def q_fn_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lateral_lineitem"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               cents * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                 AS net_c4,
               net_c4 DIV 100 AS net_cents
        FROM lateral_lineitem
        """
    )


# -- X166 native SQL PIVOT clause ------------------------------------------
#
# The parser-level PIVOT relation (DataFrame .pivot() is covered by
# q_pivot_status; this exercises the SQL surface): order counts and cent
# sums per priority, columns keyed by o_orderstatus.  The oracle builds
# the same wide shape with CASE aggregation.

_PIVOT_NATIVE_ORACLE = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_orders,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_orders,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_orders,
       COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
           AS BIGINT), 0) AS f_cents,
       COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
           AS BIGINT), 0) AS o_cents,
       COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P'
                 THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
           AS BIGINT), 0) AS p_cents
FROM orders
GROUP BY o_orderpriority
"""


@query("q_sql_pivot_native", _PIVOT_NATIVE_ORACLE)
def q_sql_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pivot_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               coalesce(`F_n`, 0L) AS f_orders,
               coalesce(`O_n`, 0L) AS o_orders,
               coalesce(`P_n`, 0L) AS p_orders,
               coalesce(`F_c`, 0L) AS f_cents,
               coalesce(`O_c`, 0L) AS o_cents,
               coalesce(`P_c`, 0L) AS p_cents
        FROM (
          SELECT o_orderpriority, o_orderstatus,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM pivot_orders)
        PIVOT (COUNT(*) AS n, SUM(cents) AS c
               FOR o_orderstatus IN ('F', 'O', 'P'))
        """
    )


# -- X169 Z-order (Morton) layout key as a query surface -------------------
#
# operators/zorder.py (pytest-plan-asserted X24) exposed through the
# oracle gate: the same synthetic integer point grid the spatial join
# uses (cells 0..20, 5 bits per axis) is interleaved into a Morton key,
# and the output aggregates per 64-key Z-BLOCK — count plus the cell
# bounding box.  The bounding boxes demonstrate the property Z-ordering
# exists for: consecutive key ranges cover spatially compact regions, so
# min/max file statistics prune both dimensions at once.  Bit surgery is
# identical integer ops in both engines.

_ZBITS = 5


def _z_interleave_sql(x: str, y: str) -> str:
    terms = []
    for j in range(_ZBITS):
        terms.append(f"((({x} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         ((c_custkey * 7919) % 2000001) // 100000 AS cx,
         ((c_custkey * 104729) % 2000001) // 100000 AS cy
  FROM customer),
keyed AS (
  SELECT id, cx, cy,
         CAST({_z_interleave_sql("cx", "cy")} AS BIGINT) AS zkey
  FROM pts)
SELECT zkey // 64 AS zblock,
       COUNT(*) AS n_points,
       MIN(cx) AS min_cx, MAX(cx) AS max_cx,
       MIN(cy) AS min_cy, MAX(cy) AS max_cy
FROM keyed GROUP BY 1
"""


@query("q_layout_zorder", _ZORDER_ORACLE)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.expr("((c_custkey * 7919) % 2000001) DIV 100000").alias("cx"),
        F.expr("((c_custkey * 104729) % 2000001) DIV 100000").alias("cy"),
    )
    zterms = " + ".join(
        f"(((cx >> {j}) & 1) << {2 * j}) + (((cy >> {j}) & 1) << {2 * j + 1})"
        for j in range(_ZBITS)
    )
    keyed = pts.withColumn("zkey", F.expr(f"cast({zterms} as bigint)"))
    return keyed.groupBy(F.expr("zkey DIV 64").alias("zblock")).agg(
        F.count("*").alias("n_points"),
        F.min("cx").alias("min_cx"),
        F.max("cx").alias("max_cx"),
        F.min("cy").alias("min_cy"),
        F.max("cy").alias("max_cy"),
    )


# -- X171 SQL scripting (BEGIN/END, variables, WHILE) ----------------------
#
# Spark 4's SQL-scripting surface: a compound statement DECLAREs a
# session variable and doubles it in a WHILE loop until at most 100
# orders exceed the 1000×mult threshold; the final SELECT reports the
# fixpoint and the surviving-order aggregate.  The oracle has no
# procedural engine — it computes the same fixpoint DECLARATIVELY as the
# minimal power of two satisfying the loop exit condition, proving the
# imperative and declarative formulations agree.  Scripting is on by
# default (``spark.sql.scripting.enabled`` = true since Spark 4.1), so the
# query writes no session conf.

_SCRIPTING_ORACLE = """
WITH ms AS (SELECT UNNEST([1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024])
              AS m),
cnt AS (
  SELECT m, (SELECT COUNT(*) FROM orders WHERE o_totalprice > 1000 * m)
           AS c
  FROM ms),
pick AS (SELECT CAST(MIN(m) AS INT) AS mult FROM cnt WHERE c <= 100)
SELECT p.mult,
       COUNT(o.o_orderkey) AS n_orders,
       COALESCE(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT), 0) AS sum_cents
FROM pick p LEFT JOIN orders o ON o.o_totalprice > 1000 * p.mult
GROUP BY p.mult
"""


@query("q_sql_scripting", _SCRIPTING_ORACLE)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "script_orders"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE mult INT DEFAULT 1;
          WHILE (SELECT COUNT(*) FROM script_orders
                 WHERE o_totalprice > 1000 * mult) > 100 DO
            SET mult = mult * 2;
          END WHILE;
          SELECT mult,
                 COUNT(*) AS n_orders,
                 coalesce(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0L)
                   AS sum_cents
          FROM script_orders WHERE o_totalprice > 1000 * mult;
        END
        """
    )


# -- X172 SQL-defined functions (scalar + table) ---------------------------
#
# Spark 4 CREATE FUNCTION ... RETURN: a scalar SQL UDF (pure expression —
# Catalyst inlines it, so it costs nothing at 100 TB, unlike a Python
# UDF) and a table-valued SQL UDF parameterized by a threshold.  The
# oracle inlines both bodies manually.

_SQL_UDF_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                + CAST(ROUND(o_totalprice * 100) AS BIGINT) // 10)
            AS BIGINT) AS taxed_cents
FROM orders
WHERE o_totalprice > 250000.0
GROUP BY o_orderpriority
"""


@query("q_sql_udf", _SQL_UDF_ORACLE)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sqlf_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION add_tax(cents BIGINT)
        RETURNS BIGINT RETURN cents + cents DIV 10
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(thr DOUBLE)
        RETURNS TABLE (o_orderpriority STRING, cents BIGINT)
        RETURN SELECT o_orderpriority,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT)
               FROM sqlf_orders WHERE o_totalprice > thr
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(add_tax(cents)) AS taxed_cents
        FROM big_orders(250000.0)
        GROUP BY o_orderpriority
        """
    )


# -- X180 data-quality quarantine (multi-output row routing) ---------------
#
# The splitter every production ETL needs: rows failing any rule are
# ROUTED OUT with the full list of violated rules (not just counted, as
# q_quality_constraints does) so a downstream repair job can triage by
# reason.  Rules: value ≤ 100, JSON payload key k ≤ 80, event_type in
# the known vocabulary.  Reasons concatenate in fixed rule order — one
# stateless projection + filter; the clean path is the same scan with
# the predicate negated (Catalyst shares the scan).

_QUARANTINE_ORACLE = """
WITH checked AS (
  SELECT event_id, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         value > 100 AS bad_value,
         CAST(json_extract(props, '$.k') AS BIGINT) > 80 AS bad_k,
         event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view')
           AS bad_type
  FROM events)
SELECT event_id, event_type, cents, k,
       concat_ws(',',
         CASE WHEN bad_value THEN 'value_gt_100' END,
         CASE WHEN bad_k THEN 'k_gt_80' END,
         CASE WHEN bad_type THEN 'unknown_type' END) AS reasons,
       CAST(bad_value AS INT) + CAST(bad_k AS INT) + CAST(bad_type AS INT)
         AS n_violations
FROM checked
WHERE bad_value OR bad_k OR bad_type
"""


@query("q_quality_quarantine", _QUARANTINE_ORACLE)
def q_quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    bad_value = F.col("value") > 100
    bad_k = k > 80
    bad_type = ~F.col("event_type").isin(
        "click", "error", "purchase", "signup", "view"
    )
    checked = e.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        k.alias("k"),
        bad_value.alias("bad_value"),
        bad_k.alias("bad_k"),
        bad_type.alias("bad_type"),
    )
    return checked.filter(
        F.col("bad_value") | F.col("bad_k") | F.col("bad_type")
    ).select(
        "event_id",
        "event_type",
        "cents",
        "k",
        F.concat_ws(
            ",",
            F.when(F.col("bad_value"), "value_gt_100"),
            F.when(F.col("bad_k"), "k_gt_80"),
            F.when(F.col("bad_type"), "unknown_type"),
        ).alias("reasons"),
        (
            F.col("bad_value").cast("int")
            + F.col("bad_k").cast("int")
            + F.col("bad_type").cast("int")
        ).alias("n_violations"),
    )


# -- X195 NOT IN vs NOT EXISTS null semantics ------------------------------
#
# The classic three-valued-logic trap, pinned as behavior: a NOT IN
# subquery whose result contains a NULL returns NO rows (x <> NULL is
# UNKNOWN for every x), while the NOT EXISTS formulation returns the
# expected anti-join.  Both engines must agree on both branches — an
# engine that "fixes" NOT IN silently corrupts migrated workloads.
# The subquery plants one NULL via a CASE over real keys.

_NOTIN_ORACLE = """
WITH sub AS (
  SELECT CASE WHEN o_orderkey % 1000 = 7 THEN NULL
              ELSE o_custkey END AS k
  FROM orders),
not_in AS (
  SELECT COUNT(*) AS n FROM customer
  WHERE c_custkey NOT IN (SELECT k FROM sub)),
not_exists AS (
  SELECT COUNT(*) AS n FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
SELECT 'not_in' AS variant, n FROM not_in
UNION ALL
SELECT 'not_exists', n FROM not_exists
"""


@query("q_subquery_not_in_nulls", _NOTIN_ORACLE)
def q_subquery_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ni_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "ni_customer"
    )
    return spark.sql(
        """
        WITH sub AS (
          SELECT CASE WHEN o_orderkey % 1000 = 7 THEN NULL
                      ELSE o_custkey END AS k
          FROM ni_orders),
        not_in AS (
          SELECT COUNT(*) AS n FROM ni_customer
          WHERE c_custkey NOT IN (SELECT k FROM sub)),
        not_exists AS (
          SELECT COUNT(*) AS n FROM ni_customer c
          WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
        SELECT 'not_in' AS variant, n FROM not_in
        UNION ALL
        SELECT 'not_exists', n FROM not_exists
        """
    )


# -- X209 ORDER BY ALL + LIMIT ---------------------------------------------
#
# Spark 4 adopted DuckDB's ORDER BY ALL shorthand; with LIMIT it is
# semantically load-bearing (the kept rows depend on the full column
# ordering).  Both engines run the same SQL text.

_ORDER_ALL_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
       o_orderkey
FROM orders
ORDER BY ALL
LIMIT 20
"""


@query("q_sql_order_by_all", _ORDER_ALL_ORACLE)
def q_sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("oba_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM oba_orders
        ORDER BY ALL
        LIMIT 20
        """
    )


# -- X220 data-freshness / completeness audit ------------------------------
#
# Pipeline-health check a warehouse runs nightly: build the expected
# calendar spine (min..max day, from a 1-row broadcast aggregate), left
# join each series' daily counts, and flag days that are MISSING entirely
# or LOW (count under half the series' average daily volume — compared
# cross-multiplied, cnt·n_days·2 < total, so no division ever rounds).
# One groupBy over the facts + a bounded spine join: scale-safe.

_FRESHNESS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, day),
span AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
spine AS (
  SELECT et.event_type, CAST(gs.d AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM daily) et
  CROSS JOIN (SELECT UNNEST(generate_series(
                (SELECT d0 FROM span), (SELECT d1 FROM span),
                INTERVAL 1 DAY)) AS d) gs),
tot AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_present
  FROM daily GROUP BY event_type),
joined AS (
  SELECT s.event_type, s.day, COALESCE(d.cnt, 0) AS cnt, t.total
  FROM spine s
  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
  JOIN tot t ON t.event_type = s.event_type),
sized AS (
  SELECT event_type, day, cnt, total,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM joined)
SELECT event_type,
       CAST(MAX(n_days) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(SUM(CASE WHEN cnt > 0 AND cnt * n_days * 2 < total
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       MIN(CASE WHEN cnt = 0 OR cnt * n_days * 2 < total THEN day END)
         AS first_bad_day
FROM sized GROUP BY event_type
"""


@query("q_quality_freshness", _FRESHNESS_ORACLE)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(F.expr("sequence(d0, d1, INTERVAL 1 DAY)")).alias("day"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    joined = (
        spine.join(daily, ["event_type", "day"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .join(F.broadcast(tot), "event_type")
    )
    from pyspark.sql import Window

    sized = joined.withColumn(
        "n_days",
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("bigint"),
    )
    bad = (F.col("cnt") == 0) | (
        F.col("cnt") * F.col("n_days") * 2 < F.col("total")
    )
    return sized.groupBy("event_type").agg(
        F.max("n_days").cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("cnt") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing"),
        F.sum(
            F.when(
                (F.col("cnt") > 0)
                & (F.col("cnt") * F.col("n_days") * 2 < F.col("total")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_low"),
        F.min(F.when(bad, F.col("day"))).alias("first_bad_day"),
    )


# -- X259 referential-integrity audit --------------------------------------
#
# The warehouse FK health check: for each declared relationship, count
# orphans (child keys with no parent) via LEFT ANTI joins — the join
# that ships only the child's key column through the shuffle and
# short-circuits per match. Orders→customer is clean by construction;
# lineitem→part gains PLANTED orphans (keys offset past the dimension
# domain on a deterministic subset) so the detector's positive path is
# exercised, not just the empty result. One summary row per
# relationship: total children, distinct child keys, orphan rows,
# distinct orphan keys.

_REF_INTEGRITY_ORACLE = """
WITH l_dirty AS (
  SELECT CASE WHEN l_orderkey % 97 = 0
              THEN l_partkey + 90000000 ELSE l_partkey END AS fk
  FROM lineitem),
rel1 AS (
  SELECT 'orders->customer' AS relationship,
         CAST(COUNT(*) AS BIGINT) AS n_children,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_child_keys,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orphan_rows,
         CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
                                  THEN o_custkey END) AS BIGINT)
           AS n_orphan_keys
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
rel2 AS (
  SELECT 'lineitem->part' AS relationship,
         CAST(COUNT(*) AS BIGINT) AS n_children,
         CAST(COUNT(DISTINCT fk) AS BIGINT) AS n_child_keys,
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orphan_rows,
         CAST(COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL THEN fk END)
              AS BIGINT) AS n_orphan_keys
  FROM l_dirty l LEFT JOIN part p ON p.p_partkey = l.fk)
SELECT * FROM rel1 UNION ALL SELECT * FROM rel2
"""


@query("q_quality_ref_integrity", _REF_INTEGRITY_ORACLE)
def q_quality_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rel1 = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == c["c_custkey"],
            "left",
        )
        .agg(
            F.lit("orders->customer").alias("relationship"),
            F.count("*").cast("bigint").alias("n_children"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_child_keys"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_orphan_rows"),
            F.countDistinct(
                F.when(F.col("c_custkey").isNull(), F.col("o_custkey"))
            ).cast("bigint").alias("n_orphan_keys"),
        )
    )
    l_dirty = li.select(
        F.when(
            F.col("l_orderkey") % 97 == 0, F.col("l_partkey") + 90000000
        )
        .otherwise(F.col("l_partkey"))
        .alias("fk")
    )
    rel2 = (
        l_dirty.join(
            F.broadcast(p.select("p_partkey")),
            l_dirty["fk"] == p["p_partkey"],
            "left",
        )
        .agg(
            F.lit("lineitem->part").alias("relationship"),
            F.count("*").cast("bigint").alias("n_children"),
            F.countDistinct("fk").cast("bigint").alias("n_child_keys"),
            F.sum(
                F.when(F.col("p_partkey").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_orphan_rows"),
            F.countDistinct(
                F.when(F.col("p_partkey").isNull(), F.col("fk"))
            ).cast("bigint").alias("n_orphan_keys"),
        )
    )
    return rel1.unionByName(rel2)


# -- X260 column-profile table (stacked single-scan profiling) -------------
#
# The profiling PRIMITIVE as a first-class query: per column of orders —
# rows, non-nulls, exact distincts, min/max as strings — emitted as one
# tidy (column, metric...) table. All non-distinct stats stack into ONE
# scan via a literal column-name explode; exact distincts run in the
# dedicated expression-free job shape the AutoETL profiler uses
# (multi-column COUNT DISTINCT expands the stream per column — measured
# pathology, plans/profile.py:74-81). Strings via CAST mirror pandas'
# str() profiling.

_PROFILE_COLS = ["o_orderpriority", "o_orderstatus", "o_custkey", "o_totalprice"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
  SELECT '{c}' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT({c}) AS BIGINT) AS n_non_null,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
         MIN(CAST({c} AS VARCHAR)) AS min_str,
         MAX(CAST({c} AS VARCHAR)) AS max_str
  FROM orders""")
    return " UNION ALL ".join(parts)


@query("q_etl_profile_columns", _profile_oracle())
def q_etl_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stacked = o.agg(
        *[
            agg
            for c in _PROFILE_COLS
            for agg in (
                F.count("*").cast("bigint").alias(f"{c}__rows"),
                F.count(c).cast("bigint").alias(f"{c}__nn"),
                F.min(F.col(c).cast("string")).alias(f"{c}__min"),
                F.max(F.col(c).cast("string")).alias(f"{c}__max"),
            )
        ]
    )
    distincts = o.agg(
        *[
            F.countDistinct(c).cast("bigint").alias(f"{c}__dc")
            for c in _PROFILE_COLS
        ]
    )
    stacked = stacked.crossJoin(F.broadcast(distincts))
    rows = stacked.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"{c}__rows").alias("n_rows"),
                        F.col(f"{c}__nn").alias("n_non_null"),
                        F.col(f"{c}__dc").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_str"),
                        F.col(f"{c}__max").alias("max_str"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    )
    return rows.select("p.*")


# -- X280 functional-dependency violation audit ----------------------------
#
# Data-profiling primitive (Tane/Metanome family): for a candidate FD
# A -> B, a violating LHS value is one mapping to more than one distinct
# RHS value, and the minority rows are those outside the LHS group's
# modal RHS. Both audited FDs run as keyed (lhs, rhs) counts followed by
# a keyed lhs rollup — two shuffles on the FD's own key, no windows, so
# the plan is the same at 100 TB. The reference (ETL_PROJECT.py:238-243)
# profiles single columns only; this is the cross-column analogue.

_FD_ORACLE = """
WITH fd1 AS (
  SELECT p_brand AS lhs, p_type AS rhs, COUNT(*) AS cnt
  FROM part GROUP BY 1, 2),
fd1g AS (
  SELECT lhs, SUM(cnt) AS n_rows, MAX(cnt) AS modal_cnt,
         COUNT(*) AS n_rhs
  FROM fd1 GROUP BY lhs),
fd2 AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS lhs, c_mktsegment AS rhs,
         COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2),
fd2g AS (
  SELECT lhs, SUM(cnt) AS n_rows, MAX(cnt) AS modal_cnt,
         COUNT(*) AS n_rhs
  FROM fd2 GROUP BY lhs)
SELECT 'part: brand->type' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_lhs,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_lhs,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(n_rows - modal_cnt) AS BIGINT) AS n_minority_rows
FROM fd1g
UNION ALL
SELECT 'customer: nation->segment' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_lhs,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_lhs,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(n_rows - modal_cnt) AS BIGINT) AS n_minority_rows
FROM fd2g
"""


def _fd_audit(df: DataFrame, fd_name: str, lhs, rhs) -> DataFrame:
    pair = df.groupBy(lhs.alias("lhs"), rhs.alias("rhs")).agg(
        F.count("*").alias("cnt")
    )
    per_lhs = pair.groupBy("lhs").agg(
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("modal_cnt"),
        F.count("*").alias("n_rhs"),
    )
    return per_lhs.agg(
        F.lit(fd_name).alias("fd"),
        F.count("*").cast("bigint").alias("n_lhs"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_lhs"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(F.col("n_rows") - F.col("modal_cnt"))
        .cast("bigint")
        .alias("n_minority_rows"),
    ).select("fd", "n_lhs", "n_violating_lhs", "n_rows", "n_minority_rows")


@query("q_quality_fd_violations", _FD_ORACLE)
def q_quality_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    return _fd_audit(
        p, "part: brand->type", F.col("p_brand"), F.col("p_type")
    ).unionAll(
        _fd_audit(
            c,
            "customer: nation->segment",
            F.col("c_nationkey").cast("string"),
            F.col("c_mktsegment"),
        )
    )


# -- X281 l-diversity audit ------------------------------------------------
#
# Privacy companion to the k-anonymity audit (q_quality_k_anonymity): for
# each quasi-identifier group (nation, market segment), l = number of
# distinct sensitive values (account-balance band of width 1000). The
# result is the l-histogram: how many QI groups, and how many rows, sit
# at each diversity level — the l < 2 rows are the re-identifiable ones.
# Two keyed aggregations, no windows.

_LDIV_ORACLE = """
WITH grp AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS l,
         COUNT(*) AS k
  FROM customer GROUP BY 1, 2)
SELECT CAST(l AS BIGINT) AS l,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(MIN(k) AS BIGINT) AS min_group_size,
       CAST(MAX(k) AS BIGINT) AS max_group_size
FROM grp GROUP BY l ORDER BY l
"""


@query("q_quality_l_diversity", _LDIV_ORACLE)
def q_quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    grp = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
        ).alias("l"),
        F.count("*").alias("k"),
    )
    return grp.groupBy(F.col("l").cast("bigint").alias("l")).agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_group_size"),
        F.max("k").cast("bigint").alias("max_group_size"),
    )


# -- X282 QUALIFY-style window filtering -----------------------------------
#
# DuckDB/Snowflake/BigQuery expose QUALIFY as first-class syntax; Spark
# expresses the same thing as a window + outer filter. Both engines plan
# it identically: rank within the partition, keep rank <= k — top-2
# orders per customer by price. The oracle uses the native QUALIFY
# clause so the engines' window-filter semantics are pinned against each
# other (ties broken by orderkey for a unique ordering).

_QUALIFY_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey)
            AS BIGINT) AS rn
FROM orders
QUALIFY rn <= 2
"""


@query("q_sql_qualify", _QUALIFY_ORACLE)
def q_sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "qualify_orders"
    )
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC,
                                             o_orderkey) AS rn
          FROM qualify_orders)
        WHERE rn <= 2
        """
    )


# -- X292 aggregate FILTER clause ------------------------------------------
#
# ANSI SQL:2003 filtered aggregation — one pass over orders computing
# differently-predicated aggregates side by side, written with the
# native FILTER (WHERE ...) syntax on BOTH engines (Spark has supported
# it since 3.0). Same single-scan shape as a CASE-WHEN pivot but
# declared at the aggregate, where the optimizer sees the predicates.

_FILTER_CLAUSE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_totalprice > 150000) AS BIGINT)
         AS cents_large
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q_sql_filter_clause", _FILTER_CLAUSE_ORACLE)
def q_sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "filter_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                 AS n_f,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
                 AS n_o,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_totalprice > 150000) AS BIGINT)
                 AS cents_large
        FROM filter_orders GROUP BY o_orderpriority
        """
    )


# -- X302 candidate-key and foreign-key discovery --------------------------
#
# Schema-profiling a warehouse nobody documented: for each candidate
# column, measure uniqueness (distinct/total); for each candidate
# relationship, measure inclusion (fraction of child distinct values
# present in the parent key set) — the two statistics key/FK discovery
# tools rank on.  Scores are integer parts-per-million (exact in both
# engines).  Each uniqueness row is one stacked count_distinct aggregate
# per table (single scan each); each inclusion row is a distinct-project
# plus a broadcast-able semi join on the parent key — no all-pairs work,
# and every statistic is a keyed aggregate that scales linearly.

_KEY_DISCOVERY_ORACLE = """
WITH uniq AS (
  SELECT 'key' AS kind, 'orders.o_orderkey' AS item,
         COUNT(DISTINCT o_orderkey) AS num, COUNT(*) AS den FROM orders
  UNION ALL
  SELECT 'key', 'orders.o_custkey',
         COUNT(DISTINCT o_custkey), COUNT(*) FROM orders
  UNION ALL
  SELECT 'key', 'customer.c_custkey',
         COUNT(DISTINCT c_custkey), COUNT(*) FROM customer
  UNION ALL
  SELECT 'key', 'customer.c_mktsegment',
         COUNT(DISTINCT c_mktsegment), COUNT(*) FROM customer
  UNION ALL
  SELECT 'key', 'lineitem.(l_orderkey,l_linenumber)',
         COUNT(DISTINCT l_orderkey * 128 + l_linenumber), COUNT(*)
  FROM lineitem),
incl AS (
  SELECT 'fk' AS kind, 'lineitem.l_orderkey->orders.o_orderkey' AS item,
         (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
          WHERE c.l_orderkey IN (SELECT o_orderkey FROM orders)) AS num,
         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS den
  UNION ALL
  SELECT 'fk', 'lineitem.l_partkey->part.p_partkey',
         (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) c
          WHERE c.l_partkey IN (SELECT p_partkey FROM part)),
         (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
  UNION ALL
  SELECT 'fk', 'orders.o_custkey->customer.c_custkey',
         (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) c
          WHERE c.o_custkey IN (SELECT c_custkey FROM customer)),
         (SELECT COUNT(DISTINCT o_custkey) FROM orders)
  UNION ALL
  SELECT 'fk', 'orders.o_orderkey->lineitem.l_orderkey',
         (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders) c
          WHERE c.o_orderkey IN (SELECT l_orderkey FROM lineitem)),
         (SELECT COUNT(DISTINCT o_orderkey) FROM orders)),
scored AS (SELECT * FROM uniq UNION ALL SELECT * FROM incl)
SELECT kind, item, CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
       CAST((1000000 * num) // den AS BIGINT) AS score_ppm
FROM scored ORDER BY kind, item
"""


@query("q_quality_key_discovery", _KEY_DISCOVERY_ORACLE)
def q_quality_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def uniq(df: DataFrame, table: str, pairs: list[tuple[str, F.Column]]):
        # One scan per table: all count_distincts stacked in a single agg.
        aggs = []
        for name, col in pairs:
            aggs.append(F.count_distinct(col).alias(f"u_{name}"))
        aggs.append(F.count("*").alias("den"))
        row = df.agg(*aggs)
        out = None
        for name, _ in pairs:
            piece = row.select(
                F.lit("key").alias("kind"),
                F.lit(f"{table}.{name}").alias("item"),
                F.col(f"u_{name}").alias("num"),
                F.col("den"),
            )
            out = piece if out is None else out.unionAll(piece)
        return out

    uniq_rows = (
        uniq(
            o,
            "orders",
            [
                ("o_orderkey", F.col("o_orderkey")),
                ("o_custkey", F.col("o_custkey")),
            ],
        )
        .unionAll(
            uniq(
                c,
                "customer",
                [
                    ("c_custkey", F.col("c_custkey")),
                    ("c_mktsegment", F.col("c_mktsegment")),
                ],
            )
        )
        .unionAll(
            uniq(
                li,
                "lineitem",
                [
                    (
                        "(l_orderkey,l_linenumber)",
                        F.col("l_orderkey") * 128 + F.col("l_linenumber"),
                    )
                ],
            )
        )
    )

    def incl(child: DataFrame, ck: str, parent: DataFrame, pk: str, item: str):
        ckeys = child.select(F.col(ck).alias("k")).distinct()
        pkeys = parent.select(F.col(pk).alias("k")).distinct()
        hit = ckeys.join(pkeys, "k", "left_semi")
        return (
            hit.agg(F.count("*").alias("num"))
            .crossJoin(ckeys.agg(F.count("*").alias("den")))
            .select(
                F.lit("fk").alias("kind"),
                F.lit(item).alias("item"),
                "num",
                "den",
            )
        )

    incl_rows = (
        incl(li, "l_orderkey", o, "o_orderkey",
             "lineitem.l_orderkey->orders.o_orderkey")
        .unionAll(
            incl(li, "l_partkey", part, "p_partkey",
                 "lineitem.l_partkey->part.p_partkey")
        )
        .unionAll(
            incl(o, "o_custkey", c, "c_custkey",
                 "orders.o_custkey->customer.c_custkey")
        )
        .unionAll(
            incl(o, "o_orderkey", li, "l_orderkey",
                 "orders.o_orderkey->lineitem.l_orderkey")
        )
    )

    return (
        uniq_rows.unionAll(incl_rows)
        .select(
            "kind",
            "item",
            F.col("num").cast("bigint").alias("num"),
            F.col("den").cast("bigint").alias("den"),
            F.expr("(1000000 * num) DIV den").cast("bigint").alias("score_ppm"),
        )
        .orderBy("kind", "item")
    )


# -- X312 Benford's-law first-digit audit ----------------------------------
# Financial-integrity screen: the first significant digit of a value that
# spans several orders of magnitude should follow Benford's law
# (P(d) = log10(1 + 1/d)). The audit compares the observed first-digit
# distribution of o_totalprice (in cents) against the law, per order
# priority, entirely in integer ppm space — the Benford probabilities are
# compile-time constants, so no runtime log is ever evaluated and both
# engines agree bit-for-bit. Plan shape: one groupBy on (priority, digit)
# plus a broadcast join against the 5-row per-priority totals — two keyed
# shuffles over ever-shrinking data, safe at any scale.

_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}

_BENFORD_ORACLE = f"""
WITH v AS (
  SELECT o_orderpriority AS priority,
         CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE o_totalprice > 0),
o AS (
  SELECT priority, digit, CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM v GROUP BY priority, digit),
t AS (
  SELECT priority, CAST(SUM(n_obs) AS BIGINT) AS n_total FROM o
  GROUP BY priority)
SELECT o.priority, o.digit, o.n_obs, t.n_total,
       CAST((1000000 * o.n_obs) // t.n_total AS BIGINT) AS observed_ppm,
       CAST(CASE o.digit
         {" ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())}
       END AS BIGINT) AS expected_ppm,
       CAST((1000000 * o.n_obs) // t.n_total - CASE o.digit
         {" ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())}
       END AS BIGINT) AS dev_ppm
FROM o JOIN t ON o.priority = t.priority
"""


@query("q_quality_benford", _BENFORD_ORACLE)
def q_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    v = o.where(F.col("o_totalprice") > 0).select(
        F.col("o_orderpriority").alias("priority"),
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
    )
    obs = v.groupBy("priority", "digit").agg(
        F.count("*").cast("bigint").alias("n_obs")
    )
    tot = obs.groupBy("priority").agg(
        F.sum("n_obs").cast("bigint").alias("n_total")
    )
    expected = F.create_map(
        *[F.lit(x) for dp in _BENFORD_PPM.items() for x in dp]
    )[F.col("digit")].cast("bigint")
    return (
        obs.join(F.broadcast(tot), "priority")
        .select(
            "priority",
            "digit",
            "n_obs",
            "n_total",
            F.expr("(1000000 * n_obs) DIV n_total").cast("bigint")
            .alias("observed_ppm"),
            expected.alias("expected_ppm"),
            (
                F.expr("(1000000 * n_obs) DIV n_total") - expected
            ).cast("bigint").alias("dev_ppm"),
        )
    )


# -- X314 chi-square independence audit ------------------------------------
# Are order status and order priority independent? Pearson's chi-square
# over the 3x5 contingency table. The table itself is ONE groupBy (the
# only full-data pass); marginals and the per-cell term
# (O - E)^2 / E  with  E = row_total * col_total / n_total
# are windows over the bounded 15-row aggregate. Each term is computed
# from exact BIGINT counts promoted to double — single IEEE-rounded
# multiply/divide chain, bit-identical across engines — and the diff is
# squared in double space so sf0.1-sized products cannot overflow int64.

_CHI2_ORACLE = """
WITH o AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY o_orderstatus, o_orderpriority),
m AS (
  SELECT status, priority, n_obs,
         CAST(SUM(n_obs) OVER (PARTITION BY status) AS BIGINT) AS row_total,
         CAST(SUM(n_obs) OVER (PARTITION BY priority) AS BIGINT) AS col_total,
         CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
  FROM o)
SELECT status, priority, n_obs, row_total, col_total, n_total,
       CAST(CAST(n_obs * n_total - row_total * col_total AS DOUBLE)
            * CAST(n_obs * n_total - row_total * col_total AS DOUBLE)
            / (CAST(n_total AS DOUBLE) * CAST(row_total AS DOUBLE)
               * CAST(col_total AS DOUBLE)) AS DOUBLE) AS chi_term
FROM m
"""


@query("q_quality_chi_square", _CHI2_ORACLE)
def q_quality_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").cast("bigint").alias("n_obs"))
    # windows run over the 15-row contingency aggregate — bounded input
    # (|status| x |priority| cells), never the base table
    m = obs.select(
        "status",
        "priority",
        "n_obs",
        F.sum("n_obs").over(Window.partitionBy("status"))
        .cast("bigint").alias("row_total"),
        F.sum("n_obs").over(Window.partitionBy("priority"))
        .cast("bigint").alias("col_total"),
        F.sum("n_obs").over(
            Window.partitionBy(F.lit(1))
        ).cast("bigint").alias("n_total"),
    )
    diff = (
        F.col("n_obs") * F.col("n_total")
        - F.col("row_total") * F.col("col_total")
    ).cast("double")
    denom = (
        F.col("n_total").cast("double")
        * F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
    )
    return m.withColumn("chi_term", (diff * diff / denom).cast("double"))


# -- X330: EXECUTE IMMEDIATE (dynamic SQL with bound parameters) -----------
# Spark 4 parser-level dynamic SQL: the query text is a runtime VALUE and
# positional parameters bind through USING — the SQL-injection-safe shape
# for templated query services. The oracle is the same statement inlined.

_EXEC_IMMEDIATE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag
"""


@query("q_sql_execute_immediate", _EXEC_IMMEDIATE_ORACLE)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "ei_lineitem_v"
    )
    stmt = (
        "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "AS price_cents "
        "FROM ei_lineitem_v WHERE l_quantity >= ? GROUP BY l_returnflag"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :stmt USING 25", args={"stmt": stmt}
    )


# -- X331: native DataFrame.transpose --------------------------------------
# Spark 4's transpose: rows of the bounded per-flag aggregate become
# columns. The index column's VALUES become column names, so this is only
# sane on a bounded, known-domain frame — which the 3-row flag aggregate
# is. The oracle rebuilds the transposed layout with UNION ALL.

_TRANSPOSE_ORACLE = """
WITH agg AS (
  SELECT l_returnflag AS flag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY flag)
SELECT 'n_rows' AS key,
       MAX(CASE WHEN flag = 'A' THEN n_rows END) AS "A",
       MAX(CASE WHEN flag = 'N' THEN n_rows END) AS "N",
       MAX(CASE WHEN flag = 'R' THEN n_rows END) AS "R"
FROM agg
UNION ALL
SELECT 'qty',
       MAX(CASE WHEN flag = 'A' THEN qty END),
       MAX(CASE WHEN flag = 'N' THEN qty END),
       MAX(CASE WHEN flag = 'R' THEN qty END)
FROM agg
"""


@query("q_sql_transpose", _TRANSPOSE_ORACLE)
def q_sql_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
    )
    return agg.transpose()


# -- X332: partitioning hints (REBALANCE / REPARTITION / COALESCE) ---------
# Results are hint-invariant by definition; what the query proves is that
# the hinted plan still hashes identically to the plain oracle — i.e. the
# engine's partitioning controls never leak into values (the property
# every exact-decimal aggregate in this repo is built to preserve). The
# REBALANCE hint is the AQE-era skew smoother used before wide writes.

_HINTS_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
FROM lineitem GROUP BY l_returnflag
"""


@query("q_sql_hints", _HINTS_ORACLE)
def q_sql_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "hints_lineitem_v"
    )
    return spark.sql(
        """
        SELECT /*+ REBALANCE(l_returnflag) */
               l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM (SELECT /*+ REPARTITION(8, l_returnflag) */ *
              FROM hints_lineitem_v)
        GROUP BY l_returnflag
        """
    )


# -- X333: leave-one-out frame aggregates (ANSI EXCLUDE CURRENT ROW) -------
# Peer-group statistics that must not include the row itself: the sum/
# count of OTHER same-priority orders in a ±2-row frame. The oracle uses
# DuckDB's native ANSI `EXCLUDE CURRENT ROW`; Spark's parser has no
# EXCLUDE (SPARK-(frame exclusion) unimplemented as of 4.1), so the
# engine computes the identical semantics arithmetically — full-frame
# aggregate minus the current row's contribution. The hash match IS the
# proof the rewrite is exact.

_EXCLUDE_ORACLE = """
SELECT o_orderkey,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_orderpriority ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
         EXCLUDE CURRENT ROW) AS BIGINT) AS neighbor_cents,
       CAST(COUNT(*) OVER (
         PARTITION BY o_orderpriority ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
         EXCLUDE CURRENT ROW) AS BIGINT) AS n_neighbors
FROM orders
WHERE o_orderkey < 5000
"""


@query("q_window_exclude", _EXCLUDE_ORACLE)
def q_window_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(-2, 2)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_orderkey",
        (F.sum(cents).over(w) - cents).cast("bigint").alias("neighbor_cents"),
        (F.count(F.lit(1)).over(w) - 1).cast("bigint").alias("n_neighbors"),
    )


# -- X334: IDENTIFIER clause (safe dynamic object names) -------------------
# Spark 4's injection-safe templating for table/column NAMES (the
# complement of X330's parameterized VALUES): the table to read arrives
# as a string parameter but is resolved as an identifier, not spliced
# into SQL text.

_IDENTIFIER_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority
"""


@query("q_sql_identifier", _IDENTIFIER_ORACLE)
def q_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ident_orders_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM IDENTIFIER(:tbl) GROUP BY o_orderpriority
        """,
        args={"tbl": "ident_orders_v"},
    )


# -- X351: Observation metrics (df.observe) --------------------------------
#
# Spark's in-flight pipeline instrumentation: Observation attaches
# named aggregate metrics to a scan so data-quality counters ride the
# SAME job as the real work — zero extra passes, exactly what a 100 TB
# audit needs (a second scan for counters would double the read). The
# query triggers one bounded action (count) to materialize the metrics,
# then returns them as a 1-row frame; the oracle recomputes the same
# aggregates straight off the table.

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_total_cents
FROM orders
"""


@query("q_sql_observe", _OBSERVE_ORACLE)
def q_sql_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_urgent"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_total_cents"),
    )
    observed.count()  # one bounded action; metrics ride this job
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_urgent"], m["sum_total_cents"])],
        "n_rows bigint, n_urgent bigint, sum_total_cents bigint",
    )


# -- X367: join-skew diagnosis + salt recommendation -----------------------
#
# The pre-flight check before any big keyed join: per-key row counts,
# each key's share of the table in ppm, and the salt factor that would
# level it — ceil(count · P / total) parts for a P-partition shuffle,
# i.e. how many splits leave each salted key at or below the average
# partition load. Top-20 keys by count arrive via orderBy+limit
# (TakeOrdered — never a global rank window); everything is integer.

_SKEW_P = 200

_SKEW_ORACLE = f"""
WITH k AS (
  SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM k)
SELECT k.key, k.cnt,
       CAST(k.cnt * 1000000 // t.total AS BIGINT) AS share_ppm,
       CAST(GREATEST(1, CAST(ceil(CAST(k.cnt AS DOUBLE) * {_SKEW_P}
                                  / t.total) AS BIGINT)) AS BIGINT)
         AS salt_parts
FROM k, t
ORDER BY k.cnt DESC, k.key
LIMIT 20
"""


@query("q_quality_skew_diagnosis", _SKEW_ORACLE)
def q_quality_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    t = k.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        k.crossJoin(F.broadcast(t))
        .select(
            "key",
            "cnt",
            F.expr("cnt * 1000000 DIV total").cast("bigint").alias(
                "share_ppm"
            ),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(
                    F.col("cnt").cast("double") * _SKEW_P / F.col("total")
                ).cast("bigint"),
            ).alias("salt_parts"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(20)
    )


# -- X376 named WINDOW clause -----------------------------------------------
#
# The ANSI WINDOW clause: declare the partitioning/ordering once, name
# it, and reference it from several window functions — the SQL surface
# that keeps multi-window SELECTs maintainable AND tells the planner
# the functions share one sort (one Exchange+Sort feeds both). Runs on
# the bounded (event_type, day) daily-revenue spine, so the window
# input is a post-aggregate (~150 rows), not the fact scan. The day
# order carries an explicit NULLS LAST on BOTH engines (r12 ts-NULL
# audit: Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST — the
# running frame would absorb a NULL-day group at opposite ends).

_NAMED_WINDOW_ORACLE = """
WITH d AS (
  SELECT event_type, CAST(DAY(ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2)
SELECT event_type, day, cents,
       CAST(RANK() OVER w1 AS BIGINT) AS day_rank,
       CAST(SUM(cents) OVER w2 AS BIGINT) AS running_cents
FROM d
WINDOW w1 AS (PARTITION BY event_type
                ORDER BY cents DESC, day NULLS LAST),
       w2 AS (PARTITION BY event_type ORDER BY day NULLS LAST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("q_sql_named_window", _NAMED_WINDOW_ORACLE)
def q_sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "nw_events"
    )
    return spark.sql(
        """
        WITH d AS (
          SELECT event_type, CAST(DAY(ts) AS BIGINT) AS day,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM nw_events GROUP BY 1, 2)
        SELECT event_type, day, cents,
               CAST(RANK() OVER w1 AS BIGINT) AS day_rank,
               CAST(SUM(cents) OVER w2 AS BIGINT) AS running_cents
        FROM d
        WINDOW w1 AS (PARTITION BY event_type
                        ORDER BY cents DESC, day NULLS LAST),
               w2 AS (PARTITION BY event_type ORDER BY day NULLS LAST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    )


# -- X400 consistent-hash sharding + rebalance accounting -------------------
#
# The re-sharding economics every 100 TB store cares about: assign
# documents to shards on an md5 hash ring (4 virtual nodes per shard)
# and measure EXACTLY how much data moves when capacity grows 8 -> 9
# shards. Consistent hashing's promise — only ~n/9 of keys move, and
# only INTO the new shard — falls out as integer columns the oracle
# re-derives bit-for-bit (same md5 ring both engines). Plan shape: the
# ring is a <=36-row broadcast; assignment is a per-row min-over-ring
# expression (successor-with-wraparound via two conditional mins); the
# movement audit is one keyed aggregate. No shuffle beyond the final
# group.

_RING_HASH = "CAST(('0x' || substr(md5({k}), 1, 15)) AS BIGINT)"


def _ring_sql(n_shards: int) -> str:
    return f"""
  SELECT s.s AS shard, {_RING_HASH.format(k="'ring:' || s.s || ':' || r.r")}
           AS point
  FROM unnest(generate_series(0, {n_shards - 1})) s(s),
       unnest(generate_series(0, 3)) r(r)"""


_CONSISTENT_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_RING_HASH.format(k="CAST(doc_id AS VARCHAR)")} AS h
  FROM documents),
ring8 AS ({_ring_sql(8)}),
ring9 AS ({_ring_sql(9)}),
a8 AS (
  SELECT doc_id,
         COALESCE(
           MIN(CASE WHEN point >= h THEN point END),
           MIN(point)) AS pt
  FROM docs, ring8 GROUP BY doc_id, h),
a9 AS (
  SELECT doc_id,
         COALESCE(
           MIN(CASE WHEN point >= h THEN point END),
           MIN(point)) AS pt
  FROM docs, ring9 GROUP BY doc_id, h),
asg AS (
  SELECT a8.doc_id, r8.shard AS shard8, r9.shard AS shard9
  FROM a8 JOIN ring8 r8 ON r8.point = a8.pt
  JOIN a9 ON a9.doc_id = a8.doc_id
  JOIN ring9 r9 ON r9.point = a9.pt)
SELECT shard9 AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_after,
       CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
         AS moved_in,
       CAST(SUM(CASE WHEN shard8 <> shard9 AND shard9 <> 8
                     THEN 1 ELSE 0 END) AS BIGINT) AS moved_to_old_shard
FROM asg GROUP BY shard9
"""


@query("q_layout_consistent_hash", _CONSISTENT_ORACLE)
def q_layout_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.sampling_q import hash60

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", hash60(F.col("doc_id").cast("string")).alias("h")
    )

    def ring(spark, n_shards):
        rows = [
            (s, r) for s in range(n_shards) for r in range(4)
        ]
        df = spark.createDataFrame(rows, "shard int, r int")
        return df.select(
            "shard",
            hash60(
                F.concat(
                    F.lit("ring:"),
                    F.col("shard").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            ).alias("point"),
        )

    def assign(docs, ring_df, out):
        j = docs.crossJoin(F.broadcast(ring_df))
        agg = j.groupBy("doc_id", "h").agg(
            F.coalesce(
                F.min(
                    F.when(F.col("point") >= F.col("h"), F.col("point"))
                ),
                F.min("point"),
            ).alias("pt")
        )
        return agg.join(
            F.broadcast(ring_df), agg["pt"] == ring_df["point"]
        ).select("doc_id", F.col("shard").alias(out))

    r8, r9 = ring(spark, 8), ring(spark, 9)
    asg = assign(d, r8, "shard8").join(assign(d, r9, "shard9"), "doc_id")
    return asg.groupBy(F.col("shard9").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.sum(
            (F.col("shard8") != F.col("shard9")).cast("int")
        )
        .cast("bigint")
        .alias("moved_in"),
        F.sum(
            (
                (F.col("shard8") != F.col("shard9"))
                & (F.col("shard9") != 8)
            ).cast("int")
        )
        .cast("bigint")
        .alias("moved_to_old_shard"),
    )


# -- X403 Herfindahl-Hirschman concentration index --------------------------
#
# Per-market supplier concentration — the antitrust-style audit that
# also tells a data pipeline when one producer dominates a shard.
# Market = supplier nation, firm = supplier, mass = revenue cents.
# HHI (basis points, 0..10000) = sum_i share_i^2 * 1e4 where the
# shares' numerator and denominator stay EXACT: per-firm cents are
# BIGINT sums, the squared sum is DECIMAL(38,0) (c_i^2 overflows int64
# past ~sf10), and the final ratio assembles from dec_to_double halves
# so both engines round identically. CR1 (top-firm share, ppm) rides
# along from the same aggregate. Plan: broadcast the supplier dim onto
# the fact scan, one (nation, firm) groupBy with map-side combine, one
# bounded per-nation roll-up — no unkeyed shuffle, scale-safe.

_HHI_ORACLE = """
WITH firm AS (
  SELECT s.s_nationkey AS nk, l.l_suppkey AS firm,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS c
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2),
mkt AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_firms,
         CAST(SUM(c) AS BIGINT) AS tot_cents,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS ssq,
         CAST(MAX(c) AS BIGINT) AS max_c
  FROM firm GROUP BY nk)
SELECT n.n_name AS market, m.n_firms, m.tot_cents,
       (CAST(((m.ssq * 10000) - (m.ssq * 10000) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((m.ssq * 10000) % 1073741824 AS DOUBLE))
         / (CAST(m.tot_cents AS DOUBLE) * CAST(m.tot_cents AS DOUBLE))
         AS hhi_bp,
       CAST(m.max_c AS DOUBLE) * 1000000.0 / CAST(m.tot_cents AS DOUBLE)
         AS cr1_ppm
FROM mkt m JOIN nation n ON n.n_nationkey = m.nk
"""


@query("q_agg_hhi", _HHI_ORACLE)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    firm = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nk"),
            F.col("l_suppkey").alias("firm"),
        )
        .agg(F.sum(cents).cast("bigint").alias("c"))
    )
    mkt = firm.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_firms"),
        F.sum("c").cast("bigint").alias("tot_cents"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("ssq"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    tot_d = F.col("tot_cents").cast("double")
    return mkt.join(
        F.broadcast(nat), mkt.nk == nat.n_nationkey
    ).select(
        F.col("n_name").alias("market"),
        "n_firms",
        "tot_cents",
        (dec_to_double(F.col("ssq") * 10000) / (tot_d * tot_d)).alias(
            "hhi_bp"
        ),
        (F.col("max_c").cast("double") * 1000000.0 / tot_d).alias(
            "cr1_ppm"
        ),
    )


# -- X408 Overdispersion index (variance-to-mean ratio) ---------------------
#
# The Poisson sanity check for event streams: if hourly arrival counts
# were Poisson, the variance-to-mean ratio of the per-hour counts
# would sit near 1 — VMR >> 1 means bursty/clumped traffic (and that
# rate-based alerting thresholds are wrong). Counts per (type, hour)
# are exact integers from one keyed groupBy; the per-type roll-up
# keeps BIGINT/DECIMAL moments over the BOUNDED (types x hours) table
# and emits mean, sample variance and VMR through identical double
# trees. Missing hours count as zero via the hour-spine cross join
# (bounded: types x observed-hour-range).

_VMR_ORACLE = """
WITH e AS (
  SELECT event_type, ts FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2),
spine AS (
  SELECT t.event_type, g.hr
  FROM (SELECT DISTINCT event_type FROM e) t
  CROSS JOIN (SELECT DISTINCT date_trunc('hour', ts) AS hr
              FROM e) g),
f AS (
  SELECT spine.event_type, COALESCE(h.c, 0) AS c
  FROM spine LEFT JOIN h
    ON h.event_type = spine.event_type AND h.hr = spine.hr),
g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q
  FROM f GROUP BY event_type)
SELECT event_type, n_hours, s AS n_events,
       CAST(s AS DOUBLE) / n_hours AS mean_per_hour,
       ((CAST(((q) - (q) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q) % 1073741824 AS DOUBLE))
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_hours)
         / (n_hours - 1) AS var_per_hour,
       (((CAST(((q) - (q) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q) % 1073741824 AS DOUBLE))
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_hours)
         / (n_hours - 1)) / (CAST(s AS DOUBLE) / n_hours) AS vmr,
       CASE WHEN (((CAST(((q) - (q) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q) % 1073741824 AS DOUBLE))
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_hours)
         / (n_hours - 1)) / (CAST(s AS DOUBLE) / n_hours) > 1.5
            THEN 1 ELSE 0 END AS overdispersed
FROM g
"""


@query("q_agg_dispersion", _VMR_ORACLE)
def q_agg_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    # a NULL alert key (or NULL hour) has no spine partner — its c=0
    # rows make mean 0 and trip ANSI divide-by-zero on Spark while the
    # oracle silently emits a row; excluded explicitly on both engines
    # (r12 NULL audit).
    ev = ev.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    types = ev.select("event_type").distinct()
    hours = ev.select(
        F.date_trunc("hour", "ts").alias("hr")
    ).distinct()
    spine = types.crossJoin(hours)
    f = spine.join(h, ["event_type", "hr"], "left").select(
        "event_type", F.coalesce("c", F.lit(0)).alias("c")
    )
    g = f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n_hours")
    var = (
        dec_to_double("q")
        - F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n_hours")
    ) / (F.col("n_hours") - 1)
    vmr = var / mean
    return g.select(
        "event_type",
        "n_hours",
        F.col("s").alias("n_events"),
        mean.alias("mean_per_hour"),
        var.alias("var_per_hour"),
        vmr.alias("vmr"),
        F.when(vmr > 1.5, 1).otherwise(0).alias("overdispersed"),
    )


# -- X439 SQL pipe syntax ---------------------------------------------------
#
# Spark 4's |> pipe operators (SQL:2023-adjacent, the GoogleSQL
# "pipe query" shape): FROM ... |> WHERE |> AGGREGATE ... GROUP BY
# |> EXTEND |> ORDER BY — linear dataflow SQL without nested
# subqueries. The engine accepts the pipe form natively; the oracle
# states the identical query in classic ANSI form (DuckDB has no
# pipe parser), proving the two surfaces are the same relation.
# Exact cents integers; deterministic ORDER BY folded into the hash
# by the driver's canonical sort anyway.

_PIPE_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT)
            // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS avg_cents_floor
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag
"""


@query("q_sql_pipe_syntax", _PIPE_ORACLE)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_lineitem"
    )
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_quantity > 10
        |> AGGREGATE
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
           GROUP BY l_returnflag
        |> EXTEND cents DIV n AS avg_cents_floor
        |> SELECT l_returnflag, cents, n, avg_cents_floor
        """
    )


# -- X459 Hilbert-curve layout key ------------------------------------------
#
# The locality-superior sibling of Z-order (X169): the Hilbert curve
# visits every cell of the 2^k × 2^k grid through unit steps only, so a
# contiguous key range is always a CONNECTED region — tighter file
# bounding boxes than Morton at the same block size, which is why
# Delta/Iceberg offer it for multi-dimensional clustering. The xy2d
# walk (k=8 levels) unrolls into a chain of pure integer CASE/shift
# projections — identical arithmetic in both engines, no recursion at
# runtime — and the output aggregates per 4096-key block: count + cell
# bounding box, the stats a scan planner prunes on. Property pinned by
# tests/test_round8b.py: consecutive keys are Manhattan-adjacent.

_HIL_BITS = 8  # 256 x 256 grid


def _hilbert_steps_sql() -> tuple[str, str]:
    """Chained CTE levels l0..l{k} computing (x, y, d) — the unrolled
    xy2d walk; s halves per level, reflect+swap when ry = 0."""
    steps = []
    prev = "pts"
    for i in range(_HIL_BITS):
        s = 1 << (_HIL_BITS - 1 - i)
        cur = f"l{i}"
        steps.append(f"""{cur} AS (
  SELECT id,
         CASE WHEN (y & {s}) = 0
              THEN CASE WHEN (x & {s}) > 0 THEN {s} - 1 - y ELSE y END
              ELSE x END AS x,
         CASE WHEN (y & {s}) = 0
              THEN CASE WHEN (x & {s}) > 0 THEN {s} - 1 - x ELSE x END
              ELSE y END AS y,
         d + {s * s} * (CASE WHEN (x & {s}) = 0
                             THEN CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END
                             WHEN (y & {s}) = 0 THEN 3 ELSE 2 END) AS d,
         cx, cy
  FROM {prev})""")
        prev = cur
    return ",\n".join(steps), prev


_HIL_CTES, _HIL_LAST = _hilbert_steps_sql()

_HILBERT_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         CAST((c_custkey * 7919) % 256 AS BIGINT) AS x,
         CAST((c_custkey * 104729) % 256 AS BIGINT) AS y,
         CAST((c_custkey * 7919) % 256 AS BIGINT) AS cx,
         CAST((c_custkey * 104729) % 256 AS BIGINT) AS cy,
         CAST(0 AS BIGINT) AS d
  FROM customer),
{_HIL_CTES}
SELECT d // 4096 AS hblock,
       COUNT(*) AS n_points,
       MIN(cx) AS min_x, MAX(cx) AS max_x,
       MIN(cy) AS min_y, MAX(cy) AS max_y
FROM {_HIL_LAST} GROUP BY 1
"""


@query("q_layout_hilbert", _HILBERT_ORACLE)
def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cur = c.select(
        F.col("c_custkey").alias("id"),
        F.expr("CAST((c_custkey * 7919) % 256 AS BIGINT)").alias("x"),
        F.expr("CAST((c_custkey * 104729) % 256 AS BIGINT)").alias("y"),
        F.expr("CAST((c_custkey * 7919) % 256 AS BIGINT)").alias("cx"),
        F.expr("CAST((c_custkey * 104729) % 256 AS BIGINT)").alias("cy"),
        F.lit(0).cast("bigint").alias("d"),
    )
    for i in range(_HIL_BITS):
        s = 1 << (_HIL_BITS - 1 - i)
        cur = cur.select(
            "id",
            F.expr(
                f"CASE WHEN (y & {s}) = 0"
                f" THEN CASE WHEN (x & {s}) > 0 THEN {s} - 1 - y ELSE y END"
                f" ELSE x END"
            ).alias("x"),
            F.expr(
                f"CASE WHEN (y & {s}) = 0"
                f" THEN CASE WHEN (x & {s}) > 0 THEN {s} - 1 - x ELSE x END"
                f" ELSE y END"
            ).alias("y"),
            F.expr(
                f"d + {s * s} * (CASE WHEN (x & {s}) = 0"
                f" THEN CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
                f" WHEN (y & {s}) = 0 THEN 3 ELSE 2 END)"
            ).alias("d"),
            "cx",
            "cy",
        )
    return cur.groupBy(F.expr("d DIV 4096").alias("hblock")).agg(
        F.count("*").alias("n_points"),
        F.min("cx").alias("min_x"),
        F.max("cx").alias("max_x"),
        F.min("cy").alias("min_y"),
        F.max("cy").alias("max_y"),
    )
