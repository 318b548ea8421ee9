"""Join operators — SURVEY.md §2.B Q4–Q9 (equi/outer/semi/anti/theta/cross)
and Q8 (as-of join, via the scalable union+window technique in
``operators/asof.py``).

Scale notes: dimension sides are broadcast (explicitly or by AQE); the
non-equi band join broadcasts the tiny band table (BroadcastNestedLoop over
3 rows ≈ a map-side lookup); the as-of join is a single shuffle on the key —
no per-group pandas, no cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.asof import asof_join
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import dsum, sql_dsum
from mini_etl_project_spark.session import load_table

# -- Q5 left outer join ----------------------------------------------------

_LEFT_ORACLE = f"""
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       {sql_dsum('o_totalprice', 'total_spend')}
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


@query("q_join_left", _LEFT_ORACLE)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
    )


# -- Q5 right outer join ---------------------------------------------------

_RIGHT_ORACLE = """
SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_items
FROM lineitem
RIGHT JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


@query("q_join_right", _RIGHT_ORACLE)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"), "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_items"))
    )


# -- Q5 full outer join ----------------------------------------------------

_FULL_ORACLE = """
WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
           FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
           FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       c.n_customers, s.n_suppliers
FROM c FULL JOIN s ON c.nationkey = s.nationkey
"""


@query("q_join_full", _FULL_ORACLE)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, "nationkey", "full").select(
        F.col("nationkey"), "n_customers", "n_suppliers"
    )


# -- Q6 semi join ----------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


@query("q_join_semi", _SEMI_ORACLE)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# -- Q6 anti join ----------------------------------------------------------

_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
"""


@query("q_join_anti", _ANTI_ORACLE)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


# -- Q9 cross join ---------------------------------------------------------

_CROSS_ORACLE = """
SELECT a.r_name AS from_region, b.r_name AS to_region
FROM region a CROSS JOIN region b
WHERE a.r_regionkey <> b.r_regionkey
"""


@query("q_join_cross", _CROSS_ORACLE)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ak"), F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_regionkey").alias("bk"), F.col("r_name").alias("to_region"))
    return a.crossJoin(b).filter(F.col("ak") != F.col("bk")).select(
        "from_region", "to_region"
    )


# -- Q7 theta (non-equi band) join ----------------------------------------

_BANDS = [("small", 0.0, 150000.0), ("medium", 150000.0, 300000.0), ("large", 300000.0, 1e12)]

_BAND_ORACLE = f"""
WITH bands(band, lo, hi) AS (
  VALUES ('small', 0.0, 150000.0),
         ('medium', 150000.0, 300000.0),
         ('large', 300000.0, 1e12)
)
SELECT band, COUNT(*) AS n_orders, {sql_dsum('o_totalprice', 'band_value')}
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


@query("q_join_band", _BAND_ORACLE)
def q_join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "band_value"))
    )


# -- Q8 as-of join ---------------------------------------------------------
# For each purchase event, the most recent prior-or-same-time signup by the
# same user. DuckDB has a native ASOF JOIN; our engine implements the
# union+window technique (operators/asof.py) which needs one shuffle and no
# range explosion — the scalable form at 100 TB.
#
# NULL timestamps are PINNED OUT of the whole family on both engines
# (r12 ts-NULL audit): DuckDB's native ASOF sorts a NULL probe ts last
# and matches the LATEST right row, while the union+window engine sorts
# it first and matches NOTHING — neither is a defensible temporal match,
# so every asof input carries ts IS NOT NULL.

_ASOF_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
), signups AS (
  SELECT user_id, ts AS signup_ts FROM events
  WHERE event_type = 'signup' AND ts IS NOT NULL
)
SELECT p.user_id, p.event_id, s.signup_ts
FROM purchases p
ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts >= s.signup_ts
"""


_ASOF_FWD_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
), errors AS (
  SELECT user_id, ts AS error_ts FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL
)
SELECT p.user_id, p.event_id, e.error_ts
FROM purchases p
ASOF LEFT JOIN errors e
  ON p.user_id = e.user_id AND p.ts <= e.error_ts
"""


@query("q_join_asof_forward", _ASOF_FWD_ORACLE)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 forward direction: each purchase's NEXT error by the same user
    (vs DuckDB's forward ASOF: p.ts <= e.error_ts picks the earliest)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select("user_id", "event_id", "ts")
    errors = e.filter(
        (F.col("event_type") == "error") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("error_ts"))
    return asof_join(
        purchases, errors, on="user_id", left_ts="ts", right_ts="error_ts",
        direction="forward",
    ).select("user_id", "event_id", "error_ts")


@query("q_join_asof", _ASOF_ORACLE)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select("user_id", "event_id", "ts")
    signups = e.filter(
        (F.col("event_type") == "signup") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("signup_ts"))
    return asof_join(
        purchases,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="signup_ts",
    ).select("user_id", "event_id", "signup_ts")


# -- Q8 nearest-direction as-of join ---------------------------------------
# DuckDB has no nearest ASOF: the oracle runs BOTH directions natively and
# picks the smaller |Δt| (tie → backward), which is exactly the semantics
# of our one-sort two-frame implementation (operators/asof.py).

_ASOF_NEAREST_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
), errors AS (
  SELECT user_id, ts AS error_ts FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL
), b AS (
  SELECT p.user_id, p.event_id, p.ts, e.error_ts AS b_ts
  FROM purchases p
  ASOF LEFT JOIN errors e ON p.user_id = e.user_id AND p.ts >= e.error_ts
), f AS (
  SELECT p.user_id, p.event_id, e.error_ts AS f_ts
  FROM purchases p
  ASOF LEFT JOIN errors e ON p.user_id = e.user_id AND p.ts <= e.error_ts
)
SELECT b.user_id, b.event_id,
       CASE WHEN b.b_ts IS NULL THEN f.f_ts
            WHEN f.f_ts IS NULL THEN b.b_ts
            WHEN (b.ts - b.b_ts) <= (f.f_ts - b.ts) THEN b.b_ts
            ELSE f.f_ts END AS error_ts
FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id
"""


@query("q_join_asof_nearest", _ASOF_NEAREST_ORACLE)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 nearest direction: each purchase's closest error by the same
    user in either time direction (ties break backward)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select("user_id", "event_id", "ts")
    errors = e.filter(
        (F.col("event_type") == "error") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("error_ts"))
    return asof_join(
        purchases, errors, on="user_id", left_ts="ts", right_ts="error_ts",
        direction="nearest",
    ).select("user_id", "event_id", "error_ts")


# -- Q8 as-of join, NULL-payload row-level semantics -----------------------
# Regression gate for row-level match semantics: every third click carries a
# NULL payload value. A matched right row must contribute its OWN NULLs —
# per-column last(ignorenulls) filling would stitch the value from an older
# click onto the matched click's timestamp (the bug class the struct-fill in
# operators/asof.py prevents). DuckDB's native ASOF is row-level, so the
# oracle exercises exactly this.

_ASOF_NULLPAYLOAD_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
), clicks AS (
  SELECT user_id, ts AS click_ts,
         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS click_value
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
)
SELECT p.user_id, p.event_id, c.click_ts, c.click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


@query("q_join_asof_nullpayload", _ASOF_NULLPAYLOAD_ORACLE)
def q_join_asof_nullpayload(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select("user_id", "event_id", "ts")
    clicks = e.filter(
        (F.col("event_type") == "click") & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.when(F.col("event_id") % 3 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("click_value"),
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts"
    ).select("user_id", "event_id", "click_ts", "click_value")


# -- Q7 interval-overlap join ----------------------------------------------
# Two order samples with synthetic validity windows; pairs whose windows
# overlap. DuckDB plans the raw range predicate with IEJoin; our engine
# uses the range-bucket join (operators/interval.py) — an equi-shuffle on
# the bucket key, the 100 TB-safe shape.

_INTERVAL_ORACLE = """
WITH a AS (
  SELECT o_orderkey AS a_key, o_orderdate AS a_start,
         o_orderdate + INTERVAL 10 DAY AS a_end
  FROM orders WHERE o_orderkey % 97 = 0
), b AS (
  SELECT o_orderkey AS b_key, o_orderdate AS b_start,
         o_orderdate + INTERVAL 5 DAY AS b_end
  FROM orders WHERE o_orderkey % 89 = 0
)
SELECT a_key, b_key
FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
"""


@query("q_join_interval", _INTERVAL_ORACLE)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.interval import interval_join

    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderdate").alias("a_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")).alias("a_end"),
    )
    b = o.filter(F.col("o_orderkey") % 89 == 0).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderdate").alias("b_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 5 DAY")).alias("b_end"),
    )
    paired = interval_join(
        a, b, "a_start", "a_end", "b_start", "b_end",
        bucket_width=16 * 86400.0,
    )
    return paired.select("a_key", "b_key")


# -- Q4+ LATERAL join (correlated subquery in FROM) ------------------------
# Spark 3.2+ supports LATERAL natively; Catalyst rewrites the correlated
# limit into a partitioned window (DecorrelateInnerQuery), so this is a
# window-topk shuffle at scale, not a nested loop.

_LATERAL_ORACLE = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) t
"""


@query("q_join_lateral", _LATERAL_ORACLE)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM lat_nation n, LATERAL (
          SELECT c_custkey, c_acctbal
          FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) t
        """
    )


# -- Q4+ null-safe equi join (<=> / IS NOT DISTINCT FROM) ------------------
#
# NULL join keys silently drop rows in a plain equi join; the null-safe
# operator treats NULL as a joinable value. Planted NULLs on both sides
# make the semantic difference observable (the oracle fails if <=> is
# swapped for =). Spark executes eqNullSafe as a hash join on the
# null-wrapped key — same single shuffle as a plain equi join.

_NULLSAFE_ORACLE = """
WITH l AS (
  SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderstatus END AS k,
         o_totalprice
  FROM orders),
r AS (
  SELECT DISTINCT o_orderstatus AS k FROM orders
  UNION ALL SELECT NULL)
SELECT l.k AS k, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price_sum
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
GROUP BY l.k
"""


@query("q_join_nullsafe", _NULLSAFE_ORACLE)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    left = o.select(
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("lk"),
        "o_totalprice",
    )
    right = (
        o.select(F.col("o_orderstatus").alias("rk"))
        .distinct()
        .unionByName(o.sparkSession.createDataFrame([(None,)], "rk string"))
    )
    joined = left.join(right, F.col("lk").eqNullSafe(F.col("rk")))
    return joined.groupBy(F.col("lk").alias("k")).agg(
        F.count("*").alias("n"),
        dsum("o_totalprice", "price_sum"),
    )


# -- Market-basket co-occurrence (item-item self-join within baskets) ------
#
# The recommender primitive: parts appearing in the same order, counted
# across orders. The self-join is keyed on the basket id, so each basket
# expands only within itself (quadratic in basket size, linear in
# baskets) — never a global cross product. Pairs are canonicalized a < b.

_COOCCUR_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT part_a, part_b, COUNT(*) AS n_baskets
FROM pairs GROUP BY part_a, part_b
HAVING COUNT(*) >= 2
"""


@query("q_join_cooccurrence", _COOCCUR_ORACLE)
def q_join_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_baskets"))
        .filter(F.col("n_baskets") >= 2)
    )


# -- Point-in-time (temporal validity) join --------------------------------
#
# The temporal-warehouse primitive: each fact row joins the dimension
# VERSION that was valid at its event time (key equality + ts within
# [valid_from, valid_to)). A deterministic three-version SCD2 dimension is
# derived from customer; Spark executes the key-equality part as a plain
# hash join with the validity range as residual predicates — one shuffle,
# no interval blowup.

_TEMPORAL_ORACLE = """
WITH versions AS (
  SELECT c_custkey AS key, v.v AS version,
         TIMESTAMP '2024-01-01' + INTERVAL (10 * (v.v - 1)) DAY AS valid_from,
         CASE WHEN v.v = 3 THEN TIMESTAMP '2100-01-01'
              ELSE TIMESTAMP '2024-01-01' + INTERVAL (10 * v.v) DAY END
           AS valid_to,
         c_acctbal + 100.0 * v.v AS bal
  FROM customer, (SELECT unnest(generate_series(1, 3)) AS v) v),
matched AS (
  SELECT d.version, e.value, d.bal
  FROM events e JOIN versions d
    ON e.user_id + 1 = d.key
   AND e.ts >= d.valid_from AND e.ts < d.valid_to)
SELECT version, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum,
       CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS bal_sum
FROM matched GROUP BY version
"""


@query("q_join_temporal", _TEMPORAL_ORACLE)
def q_join_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    v = spark.range(1, 4).select(F.col("id").cast("int").alias("version"))
    versions = c.crossJoin(F.broadcast(v)).select(
        F.col("c_custkey").alias("key"),
        "version",
        F.timestamp_add(
            "DAY", 10 * (F.col("version") - 1), F.lit("2024-01-01").cast("timestamp")
        ).alias("valid_from"),
        F.when(
            F.col("version") == 3, F.lit("2100-01-01").cast("timestamp")
        )
        .otherwise(
            F.timestamp_add(
                "DAY", 10 * F.col("version"), F.lit("2024-01-01").cast("timestamp")
            )
        )
        .alias("valid_to"),
        (F.col("c_acctbal") + 100.0 * F.col("version")).alias("bal"),
    )
    matched = e.join(
        versions,
        (e["user_id"] + 1 == versions["key"])
        & (e["ts"] >= versions["valid_from"])
        & (e["ts"] < versions["valid_to"]),
    )
    return matched.groupBy("version").agg(
        F.count("*").alias("n_events"),
        dsum("value", "value_sum"),
        dsum("bal", "bal_sum"),
    )


# -- Portable bloom-filter semi-join semantics -----------------------------
#
# An in-plan bloom pre-filter over the PORTABLE hash family: the build
# side's keys mark k=3 positions in an m=4096 slot space; a probe key
# passes iff all three of its positions are marked. The query proves the
# bloom contract — zero false negatives (every true match passes) and an
# exactly reproducible false-positive count — which an opaque bitmap
# never could. (Spark's own runtime bloom join is exercised in
# test_runtime_bloom_filter_injects_on_selective_join; this is the
# engine-portable, oracle-checkable formulation. The position set is
# ~3·|build| rows — broadcast, like the bitmap would be.)

_BLOOM_M = 4096
_BLOOM_SEEDS = (0, 1, 2)

_BLOOM_HASH = (
    "CAST(('0x' || substr(md5(CAST({seed} AS VARCHAR) || ':' "
    "|| CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT) % 4096"
)


def _bloom_oracle() -> str:
    build_pos = " UNION ".join(
        "SELECT DISTINCT "
        + _BLOOM_HASH.format(seed=s, key="o_orderkey")
        + " AS pos FROM build"
        for s in _BLOOM_SEEDS
    )
    probe_pos = ", ".join(
        _BLOOM_HASH.format(seed=s, key="l_orderkey") + f" AS p{s}"
        for s in _BLOOM_SEEDS
    )
    return f"""
WITH build AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0),
bits AS ({build_pos}),
probe AS (SELECT l_orderkey, {probe_pos} FROM lineitem),
passed AS (
  SELECT p.l_orderkey FROM probe p
  WHERE EXISTS (SELECT 1 FROM bits WHERE pos = p.p0)
    AND EXISTS (SELECT 1 FROM bits WHERE pos = p.p1)
    AND EXISTS (SELECT 1 FROM bits WHERE pos = p.p2)),
truth AS (
  SELECT l.l_orderkey FROM lineitem l
  WHERE EXISTS (SELECT 1 FROM build b WHERE b.o_orderkey = l.l_orderkey))
SELECT (SELECT COUNT(*) FROM lineitem) AS n_probe,
       (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM passed) AS n_pass,
       (SELECT COUNT(*) FROM passed) - (SELECT COUNT(*) FROM truth)
         AS n_false_pos
"""


@query("q_join_bloom_portable", _bloom_oracle())
def q_join_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.sampling_q import hash60

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = o.filter(F.col("o_orderkey") % 100 == 0).select("o_orderkey")

    def pos(key_col, seed: int):
        return hash60(
            F.concat(F.lit(f"{seed}:"), key_col.cast("string"))
        ) % _BLOOM_M

    bits = None
    for s in _BLOOM_SEEDS:
        part = build.select(pos(F.col("o_orderkey"), s).alias("pos")).distinct()
        bits = part if bits is None else bits.unionByName(part).distinct()

    probe = li.select("l_orderkey")
    passed = probe
    for s in _BLOOM_SEEDS:
        passed = passed.join(
            F.broadcast(bits),
            pos(F.col("l_orderkey"), s) == F.col("pos"),
            "left_semi",
        )
    truth = probe.join(
        build, probe["l_orderkey"] == build["o_orderkey"], "left_semi"
    )
    return (
        probe.agg(F.count(F.lit(1)).alias("n_probe"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true")))
        .crossJoin(passed.agg(F.count(F.lit(1)).alias("n_pass")))
        .select(
            "n_probe",
            "n_true",
            "n_pass",
            (F.col("n_pass") - F.col("n_true")).alias("n_false_pos"),
        )
    )


# -- Range-bucketed band join ------------------------------------------------
#
# The scale-safe plan for a band join with NO equi key: |a.v - b.v| <= w
# becomes an EQUI join on bucket = v DIV w after exploding each left row
# into its 3 adjacent buckets, then an exact band filter on the matched
# candidates. Candidates per row are bounded by the band's data density
# (never the table size), versus the broadcast-nested-loop a raw theta
# join degenerates to. The oracle is the plain theta band join, so the
# bucketing's losslessness is the thing under test.

_BAND_W = 10  # cents

_RANGE_BUCKET_ORACLE = f"""
WITH p AS (
  SELECT event_id AS a_id, CAST(ROUND(value * 100) AS BIGINT) AS a_cents
  FROM events WHERE event_type = 'purchase'),
e AS (
  SELECT event_id AS b_id, CAST(ROUND(value * 100) AS BIGINT) AS b_cents
  FROM events WHERE event_type = 'error')
SELECT a_id, b_id, a_cents - b_cents AS diff
FROM p JOIN e ON b_cents BETWEEN a_cents - {_BAND_W} AND a_cents + {_BAND_W}
"""


@query("q_join_range_bucket", _RANGE_BUCKET_ORACLE)
def q_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("a_id"), cents.alias("a_cents")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"), cents.alias("b_cents")
    )
    probe = p.select(
        "a_id",
        "a_cents",
        F.explode(
            F.array(
                F.expr(f"a_cents DIV {_BAND_W} - 1"),
                F.expr(f"a_cents DIV {_BAND_W}"),
                F.expr(f"a_cents DIV {_BAND_W} + 1"),
            )
        ).alias("bucket"),
    )
    build = e.withColumn("bucket", F.expr(f"b_cents DIV {_BAND_W}"))
    return (
        probe.join(build, "bucket")
        .filter(
            (F.col("b_cents") >= F.col("a_cents") - _BAND_W)
            & (F.col("b_cents") <= F.col("a_cents") + _BAND_W)
        )
        .select("a_id", "b_id", (F.col("a_cents") - F.col("b_cents")).alias("diff"))
    )


# -- X157 grid-bucketed spatial neighbor join ------------------------------
#
# The 2-D analogue of the 1-D range-bucket band join above: synthetic
# integer point coordinates (microdegrees, derived deterministically from
# c_custkey so both engines build the identical point set), bucketed into
# a square grid whose cell edge (100 000 µ°) exceeds the search radius
# (80 000 µ°) — so every true neighbor pair lives in the same or an
# adjacent cell, and a 9-cell candidate join is provably lossless.  The
# oracle is the BRUTE-FORCE all-pairs quadratic join; the engine runs the
# pruned plan.  All distance math is exact int64 (squared Euclidean in
# µ°²) — no trig, no float divergence.
#
# Scale posture: explode side A to its 9 neighbor cells (fixed 9× map-side
# amplification), equi-join on the cell key (one keyed shuffle), exact
# filter on candidates only.  At 100 TB the cell key is also the natural
# partitioning for co-located storage; the quadratic oracle shape never
# runs on the engine side.

_GRID_CELL = 100_000
_GRID_R2 = 80_000 * 80_000  # radius 80 000 µ° squared

_SPATIAL_SQL_PTS = """
  SELECT c_custkey AS id,
         (c_custkey * 7919) % 2000001 AS x,
         (c_custkey * 104729) % 2000001 AS y
  FROM customer
"""

_SPATIAL_ORACLE = f"""
WITH pts AS ({_SPATIAL_SQL_PTS}),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
         LEAST(a.x, b.x) // {_GRID_CELL} AS cell_x,
         LEAST(a.y, b.y) // {_GRID_CELL} AS cell_y
  FROM pts a JOIN pts b ON a.id < b.id)
SELECT cell_x, cell_y,
       COUNT(*) AS n_pairs,
       CAST(MIN(d2) AS BIGINT) AS min_d2,
       CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM pairs
WHERE d2 <= {_GRID_R2}
GROUP BY cell_x, cell_y
"""


@query("q_join_spatial_grid", _SPATIAL_ORACLE)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919) % 2000001).alias("x"),
        ((F.col("c_custkey") * 104729) % 2000001).alias("y"),
    )
    a = pts.select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    ).select(
        "*",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx ->"
                f" transform(sequence(-1, 1), dy ->"
                f" struct(ax DIV {_GRID_CELL} + dx AS cx,"
                f"        ay DIV {_GRID_CELL} + dy AS cy))))"
            )
        ).alias("cell"),
    )
    b = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr(f"struct(bx DIV {_GRID_CELL} AS cx, by DIV {_GRID_CELL} AS cy)").alias(
            "cell"
        ),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            d2.alias("d2"),
            F.expr(f"least(ax, bx) DIV {_GRID_CELL}").alias("cell_x"),
            F.expr(f"least(ay, by) DIV {_GRID_CELL}").alias("cell_y"),
        )
        .filter(F.col("d2") <= _GRID_R2)
    )
    return pairs.groupBy("cell_x", "cell_y").agg(
        F.count("*").alias("n_pairs"),
        F.min("d2").cast("bigint").alias("min_d2"),
        F.sum("d2").cast("bigint").alias("sum_d2"),
    )


# -- X167 salted skew join as a query surface ------------------------------
#
# operators/skew.py::salted_join (previously pytest-only) promoted to an
# oracle-checked query: lineitem joins supplier on the (skew-prone)
# suppkey THROUGH the salted path — dim rows replicated per salt, fact
# rows spread by a row-position salt, equi-join on (key, salt) — and the
# oracle is the PLAIN join, proving salting never changes results.  The
# MERGE hint pins the sort-merge-join shape salting exists for (a
# broadcast join needs no salt; at 100 TB the dim side may not fit).

_SALTED_ORACLE = """
SELECT s.s_nationkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
"""


@query("q_join_salted", _SALTED_ORACLE)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).hint("merge")
    joined = salted_join(l, s, "s_suppkey", n_salts=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_lines"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


# -- X175 as-of join with tolerance ----------------------------------------
#
# pandas merge_asof(tolerance=...) semantics on the backward as-of: a
# match only counts if the matched signup is within 24 h of the
# purchase; staler matches null out (the row survives — LEFT semantics).
# Engine = the single-shuffle asof_join + a conditional null; oracle =
# DuckDB native ASOF with a CASE on the gap.  The gap itself is an
# output column (µs, exact).

_ASOF_TOL_US = 24 * 3600 * 1000000

_ASOF_TOL_ORACLE = f"""
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
), signups AS (
  SELECT user_id, ts AS signup_ts FROM events
  WHERE event_type = 'signup' AND ts IS NOT NULL
)
SELECT p.user_id, p.event_id,
       CASE WHEN epoch_us(p.ts) - epoch_us(s.signup_ts) <= {_ASOF_TOL_US}
            THEN s.signup_ts END AS signup_ts,
       CASE WHEN epoch_us(p.ts) - epoch_us(s.signup_ts) <= {_ASOF_TOL_US}
            THEN CAST(epoch_us(p.ts) - epoch_us(s.signup_ts) AS BIGINT)
       END AS gap_us
FROM purchases p
ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts >= s.signup_ts
"""


@query("q_join_asof_tolerance", _ASOF_TOL_ORACLE)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select("user_id", "event_id", "ts")
    signups = e.filter(
        (F.col("event_type") == "signup") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("signup_ts"))
    j = asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="signup_ts"
    )
    gap = F.unix_micros("ts") - F.unix_micros("signup_ts")
    within = gap <= F.lit(_ASOF_TOL_US)
    return j.select(
        "user_id",
        "event_id",
        F.when(within, F.col("signup_ts")).alias("signup_ts"),
        F.when(within, gap).cast("bigint").alias("gap_us"),
    )


# -- X176 ordered string aggregation (listagg) -----------------------------
#
# Spark 4's listagg / string_agg as a first-class ordered aggregate: the
# keys of the few very large orders concatenate deterministically
# (ORDER BY the element itself).  Bounded by the selective filter — the
# pattern for "collect a small ordered digest per group" without
# collect_list + UDF.

_LISTAGG_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_big,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
         AS keys_csv
FROM orders
WHERE o_totalprice > 450000.0
GROUP BY o_orderpriority
"""


@query("q_agg_listagg", _LISTAGG_ORACLE)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 450000.0)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_big"),
            F.expr(
                "listagg(cast(o_orderkey as string), ',')"
                " within group (order by o_orderkey)"
            ).alias("keys_csv"),
        )
    )


# -- X193 fuzzy join via deletion-neighborhood blocking (FastSS) -----------
#
# Edit-distance-≤1 join WITHOUT the quadratic compare: every name emits
# its FastSS 1-deletion neighborhood {s} ∪ {s minus one char}; two
# strings within edit distance 1 (insert/delete/substitute) provably
# share a neighborhood key, so the equi-join on keys generates a
# candidate superset and exact levenshtein verifies only candidates.
# Right side = planted corruptions of supplier names (one char deleted
# at a key-dependent position).  At scale this is one explode (≈ |s|
# keys per row) + one keyed join — the standard spell-matching shape.

_FASTSS_ORACLE = """
WITH lhs AS (
  SELECT s_suppkey AS a_key, s_name AS a_name FROM supplier),
rhs AS (
  SELECT s_suppkey AS b_key,
         substring(s_name, 1, 9 + CAST(s_suppkey % 8 AS INT))
           || substring(s_name, 11 + CAST(s_suppkey % 8 AS INT)) AS b_name
  FROM supplier),
lk AS (
  SELECT a_key, a_name,
         UNNEST(list_append(
           list_transform(generate_series(1, LENGTH(a_name)),
             i -> substring(a_name, 1, i - 1) || substring(a_name, i + 1)),
           a_name)) AS k
  FROM lhs),
rk AS (
  SELECT b_key, b_name,
         UNNEST(list_append(
           list_transform(generate_series(1, LENGTH(b_name)),
             i -> substring(b_name, 1, i - 1) || substring(b_name, i + 1)),
           b_name)) AS k
  FROM rhs),
cand AS (
  SELECT DISTINCT a_key, a_name, b_key, b_name
  FROM lk JOIN rk USING (k))
SELECT a_key, b_key, a_name, b_name,
       CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(a_name, b_name) <= 1
"""


@query("q_join_fuzzy_fastss", _FASTSS_ORACLE)
def q_join_fuzzy_fastss(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    lhs = s.select(
        F.col("s_suppkey").alias("a_key"), F.col("s_name").alias("a_name")
    )
    rhs = s.select(
        F.col("s_suppkey").alias("b_key"),
        F.expr(
            "concat(substring(s_name, 1, 9 + cast(s_suppkey % 8 as int)),"
            " substring(s_name, 11 + cast(s_suppkey % 8 as int)))"
        ).alias("b_name"),
    )

    def keys(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.expr(
                    f"array_append(transform(sequence(1, length({name})),"
                    f" i -> concat(substring({name}, 1, i - 1),"
                    f" substring({name}, i + 1))), {name})"
                )
            ).alias("k"),
        )

    cand = (
        keys(lhs, "a_name")
        .join(keys(rhs, "b_name"), "k")
        .select("a_key", "a_name", "b_key", "b_name")
        .distinct()
    )
    return cand.filter(
        F.levenshtein("a_name", "b_name") <= 1
    ).select(
        "a_key",
        "b_key",
        "a_name",
        "b_name",
        F.levenshtein("a_name", "b_name").cast("bigint").alias("dist"),
    )


# -- X219 CIDR longest-prefix-match join -----------------------------------
#
# Log-to-network enrichment: each event-derived 32-bit IP is matched to a
# small CIDR table with MIXED prefix lengths (/8, /12, /16) and the
# longest matching prefix wins (ties cannot occur across distinct
# lengths; equal-length duplicates pin to the smallest network key).
# Plan shape at scale: the CIDR dim is joined on the IP's FIRST OCTET
# (every prefix here is >= /8, so the first octet of the network is a
# valid equi key) — a broadcast hash join, never a cartesian range scan;
# the per-IP longest-prefix argmax is a keyed aggregate. Output is the
# bounded per-network match profile.

_CIDR_ORACLE = """
WITH cidrs AS (
  SELECT n_nationkey AS netkey,
         8 + 4 * (n_nationkey % 3) AS plen,
         (CAST((n_nationkey * 41) % 256 AS BIGINT) << 24)
           + (CASE WHEN n_nationkey % 3 >= 1
                   THEN CAST((n_nationkey * 7) % 16 AS BIGINT) << 20
                   ELSE 0 END)
           + (CASE WHEN n_nationkey % 3 = 2
                   THEN CAST((n_nationkey * 13) % 16 AS BIGINT) << 16
                   ELSE 0 END)
           AS net
  FROM nation),
ips AS (
  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 4294967296 AS ip
  FROM events),
matched AS (
  SELECT i.ip, c.netkey, c.plen
  FROM ips i JOIN cidrs c
    ON (i.ip >> 24) = (c.net >> 24)
   AND (i.ip >> (32 - c.plen)) = (c.net >> (32 - c.plen))),
best AS (
  SELECT ip, netkey, plen,
         ROW_NUMBER() OVER (PARTITION BY ip
                            ORDER BY plen DESC, netkey) AS rk
  FROM matched)
SELECT CAST(netkey AS BIGINT) AS netkey,
       CAST(MIN(plen) AS BIGINT) AS plen,
       CAST(COUNT(*) AS BIGINT) AS n_ips
FROM best WHERE rk = 1
GROUP BY netkey
"""


@query("q_join_cidr", _CIDR_ORACLE)
def q_join_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = load_table(spark, sf_dir, "nation")
    cidrs = n.select(
        F.col("n_nationkey").alias("netkey"),
        (8 + 4 * (F.col("n_nationkey") % 3)).alias("plen"),
        (
            F.expr(
                "shiftleft(CAST((n_nationkey * 41) % 256 AS BIGINT), 24)"
            )
            + F.when(
                F.col("n_nationkey") % 3 >= 1,
                F.expr(
                    "shiftleft(CAST((n_nationkey * 7) % 16 AS BIGINT), 20)"
                ),
            ).otherwise(0)
            + F.when(
                F.col("n_nationkey") % 3 == 2,
                F.expr(
                    "shiftleft(CAST((n_nationkey * 13) % 16 AS BIGINT), 16)"
                ),
            ).otherwise(0)
        ).alias("net"),
    )
    e = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    ips = e.select((h % F.lit(4294967296)).alias("ip"))
    matched = ips.join(
        F.broadcast(cidrs),
        (F.shiftright("ip", 24) == F.expr("shiftright(net, 24)"))
        & (
            F.expr("shiftright(ip, 32 - plen)")
            == F.expr("shiftright(net, 32 - plen)")
        ),
    )
    best = matched.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("ip").orderBy(
                F.desc("plen"), F.asc("netkey")
            )
        ),
    ).filter(F.col("rk") == 1)
    return best.groupBy(F.col("netkey").cast("bigint").alias("netkey")).agg(
        F.min("plen").cast("bigint").alias("plen"),
        F.count("*").cast("bigint").alias("n_ips"),
    )


# -- X241 point-in-polygon join (integer ray casting) -----------------------
#
# Spatial containment as a JOIN: five deterministic concave quads (one
# per region, derived from r_regionkey) against a point cloud derived
# from customer keys. The polygon edge table is bounded (5 polys × 4
# edges) → broadcast; each point evaluates the ray-cast crossing count
# per polygon as a pure expression aggregate — no shuffle carries
# geometry, which is exactly how a 100 TB point set joins a bounded
# polygon layer. Arithmetic is all-integer: vertices sit on even
# coordinates and points on odd, so the strict crossing inequalities
# never tie (the one diagonal-edge tangency class is mirrored
# identically in both engines). Crossing rule, division-free:
#   cross ⟺ (y1 > py) ≠ (y2 > py)  AND
#           ((px−x1)(y2−y1) − (py−y1)(x2−x1) < 0) ≠ (y2 < y1)

_PIP_ORACLE = """
WITH poly AS (
  SELECT r_regionkey AS pid, v.i,
         100 * r_regionkey + v.dx AS x, v.dy AS y
  FROM region,
       (VALUES (1, 0, 0), (2, 20, 60), (3, 40, 0), (4, 20, 20))
         v(i, dx, dy)),
edges AS (
  SELECT a.pid, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM poly a JOIN poly b
    ON a.pid = b.pid AND b.i = a.i % 4 + 1),
pts AS (
  SELECT c_custkey AS id,
         2 * ((c_custkey * 13) % 250) + 1 AS px,
         2 * ((c_custkey * 7) % 40) + 1 AS py
  FROM customer),
crossings AS (
  SELECT p.id, e.pid,
         SUM(CASE WHEN ((e.y1 > p.py) <> (e.y2 > p.py))
                   AND (((p.px - e.x1) * (e.y2 - e.y1)
                         - (p.py - e.y1) * (e.x2 - e.x1) < 0)
                        <> (e.y2 < e.y1))
                  THEN 1 ELSE 0 END) AS n_cross
  FROM pts p CROSS JOIN edges e
  GROUP BY p.id, e.pid)
SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_inside,
       CAST(SUM(id) AS BIGINT) AS id_checksum
FROM crossings WHERE n_cross % 2 = 1
GROUP BY pid
"""


@query("q_join_point_in_polygon", _PIP_ORACLE)
def q_join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    c = load_table(spark, sf_dir, "customer")
    verts = r.select(
        F.col("r_regionkey").alias("pid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.lit(dx).alias("dx"),
                        F.lit(dy).alias("dy"),
                    )
                    for i, dx, dy in [(1, 0, 0), (2, 20, 60), (3, 40, 0), (4, 20, 20)]
                ]
            )
        ).alias("v"),
    ).select(
        "pid",
        F.col("v.i").alias("i"),
        (F.lit(100) * F.col("pid") + F.col("v.dx")).alias("x"),
        F.col("v.dy").alias("y"),
    )
    a = verts.select("pid", "i", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = verts.select(
        F.col("pid").alias("bpid"),
        F.col("i").alias("bi"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    edges = a.join(
        b,
        (F.col("pid") == F.col("bpid")) & (F.col("bi") == F.col("i") % 4 + 1),
    ).select("pid", "x1", "y1", "x2", "y2")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.lit(2) * ((F.col("c_custkey") * 13) % 250) + 1).alias("px"),
        (F.lit(2) * ((F.col("c_custkey") * 7) % 40) + 1).alias("py"),
    )
    t = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1")) - (
        F.col("py") - F.col("y1")
    ) * (F.col("x2") - F.col("x1"))
    crossing = (
        ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
        & ((t < 0) != (F.col("y2") < F.col("y1")))
    ).cast("long")
    crossings = (
        pts.crossJoin(F.broadcast(edges))
        .groupBy("id", "pid")
        .agg(F.sum(crossing).alias("n_cross"))
    )
    return (
        crossings.filter(F.col("n_cross") % 2 == 1)
        .groupBy("pid")
        .agg(
            F.count("*").cast("bigint").alias("n_inside"),
            F.sum("id").cast("bigint").alias("id_checksum"),
        )
    )


# -- X268 fact → SCD2 dimension AS-OF join ---------------------------------
#
# The warehouse join every star schema with versioned dimensions needs:
# each fact row (a purchase event) picks the dimension VERSION valid at
# its timestamp. Dimension history = per-user event_type periods (the
# X45 SCD2 derivation: change flags → cumulative period ids →
# [valid_from, valid_to) intervals — built from the user's NON-purchase
# activity, so the fact's own event never defines its version). The
# join is keyed on user_id plus
# the half-open interval containment — Spark executes it as a keyed
# equi-join with interval residual (facts never cross user partitions).
# Facts BEFORE the user's first version stay NULL (left join) — the
# contract a PIT-correct feature store must honor.

_SCD2_ASOF_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
periods AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS period_id
  FROM ordered),
dim AS (
  SELECT user_id, event_type AS state, CAST(period_id AS BIGINT) AS version,
         MIN(ts) AS valid_from,
         LEAD(MIN(ts)) OVER (PARTITION BY user_id
                             ORDER BY MIN(ts)) AS valid_to
  FROM periods GROUP BY user_id, event_type, period_id),
facts AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
joined AS (
  SELECT f.user_id, f.event_id, f.cents, d.state, d.version
  FROM facts f
  LEFT JOIN dim d
    ON d.user_id = f.user_id
   AND f.ts >= d.valid_from
   AND (d.valid_to IS NULL OR f.ts < d.valid_to))
SELECT state, CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM joined GROUP BY state
"""


@query("q_join_scd2_asof", _SCD2_ASOF_ORACLE)
def q_join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    periods = (
        e.filter(F.col("event_type") != "purchase")
        .select("user_id", "event_type", "ts", "event_id", chg.alias("chg"))
        .withColumn("period_id", F.sum("chg").over(wcum))
    )
    grouped = periods.groupBy(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        F.col("period_id").cast("bigint").alias("version"),
    ).agg(F.min("ts").alias("valid_from"))
    dim = grouped.withColumn(
        "valid_to",
        F.lead("valid_from").over(
            Window.partitionBy("d_user").orderBy("valid_from")
        ),
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    joined = facts.join(
        dim,
        (F.col("d_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy("state").agg(
        F.count("*").cast("bigint").alias("n_facts"),
        F.sum("cents").cast("bigint").alias("cents_sum"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )


# -- X296 overlap-weighted interval join -----------------------------------
#
# Interval join where the MEASURE is the overlap itself: each user's
# daily activity span [first event, last event] joins the day's fixed
# promo window [08:00, 16:00), and the contribution is the overlap in
# exact microseconds — greatest(0, min(ends) - max(starts)). The join
# key is the calendar day (pure equi-join; the interval arithmetic rides
# as projection), so there is no band/theta blowup to contain at scale.
# Output: per-user totals over the month.

_OVERLAP_JOIN_ORACLE = """
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM events GROUP BY 1, 2),
promo AS (
  SELECT day,
         day + INTERVAL 8 HOUR AS p_start,
         day + INTERVAL 16 HOUR AS p_end
  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)),
weighted AS (
  SELECT s.user_id, s.day,
         GREATEST(CAST(0 AS BIGINT),
                  epoch_us(LEAST(s.s_end, p.p_end))
                  - epoch_us(GREATEST(s.s_start, p.p_start)))
           AS overlap_us
  FROM spans s JOIN promo p ON p.day = s.day)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN overlap_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlapping,
       CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
FROM weighted GROUP BY user_id
"""


@query("q_join_interval_weighted", _OVERLAP_JOIN_ORACLE)
def q_join_interval_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    promo = (
        ev.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .select(
            "day",
            (F.col("day").cast("timestamp") + F.expr("INTERVAL 8 HOURS"))
            .alias("p_start"),
            (F.col("day").cast("timestamp") + F.expr("INTERVAL 16 HOURS"))
            .alias("p_end"),
        )
    )
    us = lambda c: F.unix_micros(c)  # noqa: E731
    weighted = spans.join(F.broadcast(promo), "day").select(
        "user_id",
        "day",
        F.greatest(
            F.lit(0).cast("bigint"),
            us(F.least("s_end", "p_end"))
            - us(F.greatest("s_start", "p_start")),
        ).alias("overlap_us"),
    )
    return weighted.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("overlap_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overlapping"),
        F.sum("overlap_us").cast("bigint").alias("total_overlap_us"),
    )


# -- X299 bitemporal as-of join --------------------------------------------
#
# Two time axes at once: each part carries 3 price versions on a VALID
# axis (800-day regimes from 1995-01-01, +v% price steps) that were
# RECORDED late on the transaction axis (tx = valid_from + partkey%400
# days — deterministic late arrival). The join answers "what price did
# we believe applied on the ship date, as of the 1998-01-01 snapshot":
# versions are filtered to tx <= T, then the fact takes the max
# valid_from <= ship date — at most 3 candidates per part, so the
# fan-out is bounded and the argmax is a keyed aggregate, never a
# window over facts. Output: per chosen version, line count and exact
# believed-price cents; lines whose applicable regime was not yet
# recorded at T fall back to the newest earlier regime, and that
# fallback population is the interesting audit number.

_BITEMPORAL_ORACLE = """
WITH versions AS (
  SELECT p_partkey, v,
         DATE '1995-01-01' + INTERVAL (v * 800) DAY AS valid_from,
         DATE '1995-01-01' + INTERVAL (v * 800 + (p_partkey * 7 % 400)) DAY
           AS tx_time,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) * (100 + v) AS price_c
  FROM part, unnest([0, 1, 2]) t(v)),
known AS (
  SELECT * FROM versions WHERE tx_time <= DATE '1998-01-01'),
facts AS (
  SELECT l_orderkey, l_linenumber, l_partkey,
         CAST(l_shipdate AS DATE) AS d
  FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1998-01-01'),
pit AS (
  SELECT f.l_orderkey, f.l_linenumber, f.d, f.l_partkey,
         MAX(k.valid_from) AS vf
  FROM facts f JOIN known k
    ON k.p_partkey = f.l_partkey AND k.valid_from <= f.d
  GROUP BY 1, 2, 3, 4),
resolved AS (
  SELECT a.l_orderkey, k.v, k.price_c,
         CASE WHEN a.d >= DATE '1995-01-01'
                          + INTERVAL ((k.v + 1) * 800) DAY
              THEN 1 ELSE 0 END AS stale
  FROM pit a JOIN known k
    ON k.p_partkey = a.l_partkey AND k.valid_from = a.vf)
SELECT CAST(v AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(stale) AS BIGINT) AS n_stale,
       CAST(SUM(price_c) AS BIGINT) AS believed_cents
FROM resolved GROUP BY v ORDER BY v
"""


@query("q_join_bitemporal", _BITEMPORAL_ORACLE)
def q_join_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    t_snap = F.lit("1998-01-01").cast("date")
    versions = p.select(
        "p_partkey",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("v"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("pc"),
    ).select(
        "p_partkey",
        "v",
        F.date_add(F.lit("1995-01-01").cast("date"), F.col("v") * 800)
        .alias("valid_from"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            (F.col("v") * 800 + F.col("p_partkey") * 7 % 400).cast("int"),
        ).alias("tx_time"),
        (F.col("pc") * (F.col("v") + 100)).alias("price_c"),
    )
    known = versions.filter(F.col("tx_time") <= t_snap)
    facts = li.filter(F.col("l_shipdate").cast("date") < t_snap).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
    )
    asof = (
        facts.join(
            F.broadcast(known),
            (F.col("p_partkey") == F.col("l_partkey"))
            & (F.col("valid_from") <= F.col("d")),
        )
        .groupBy("l_orderkey", "l_linenumber", "d", "l_partkey")
        .agg(F.max("valid_from").alias("vf"))
    )
    resolved = asof.join(
        F.broadcast(known),
        (F.col("p_partkey") == F.col("l_partkey"))
        & (F.col("valid_from") == F.col("vf")),
    ).select(
        "v",
        "price_c",
        F.when(
            F.col("d")
            >= F.date_add(
                F.lit("1995-01-01").cast("date"),
                ((F.col("v") + 1) * 800).cast("int"),
            ),
            1,
        )
        .otherwise(0)
        .alias("stale"),
    )
    return resolved.groupBy(F.col("v").cast("bigint").alias("version")).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum("stale").cast("bigint").alias("n_stale"),
        F.sum("price_c").cast("bigint").alias("believed_cents"),
    )


# -- X318 nation-x-nation trade-flow matrix ---------------------------------
# The OLAP cube behind q05's single slice: realized revenue routed from
# supplier nation to customer nation, the full 25x25 matrix in one pass.
# Fact-side revenue stays integral (cents x (100 - discount pct), exact
# BIGINT); the three dimension hops are broadcast joins (supplier,
# customer-key->nation projection, nation names), so the only wide
# shuffle is the final (supp_nation, cust_nation) aggregation of an
# already-slim projection. The intra-nation flag comes free from the key
# pair. At cluster scale customer stops being broadcastable — the join
# degrades to a plain shuffled hash join on o_custkey with no plan
# change required.

_TRADE_MATRIX_ORACLE = """
WITH f AS (
  SELECT s.s_nationkey AS sk, c.c_nationkey AS ck,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey)
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(f.sk = f.ck AS BOOLEAN) AS intra_nation,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(f.rev) AS BIGINT) AS revenue
FROM f
JOIN nation ns ON ns.n_nationkey = f.sk
JOIN nation nc ON nc.n_nationkey = f.ck
GROUP BY ns.n_name, nc.n_name, f.sk = f.ck
"""


@query("q_join_trade_matrix", _TRADE_MATRIX_ORACLE)
def q_join_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    ).alias("rev")
    f = (
        li.select("l_orderkey", "l_suppkey", rev)
        .join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_nationkey").alias("sk"),
            F.col("c_nationkey").alias("ck"),
            "rev",
        )
    )
    ns = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
        )
    )
    nc = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
        )
    )
    return (
        f.join(ns, "sk")
        .join(nc, "ck")
        .groupBy(
            "supp_nation",
            "cust_nation",
            (F.col("sk") == F.col("ck")).alias("intra_nation"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("rev").cast("bigint").alias("revenue"),
        )
    )


# -- X319 fulfillment-lag percentile profile --------------------------------
# Operations SLA view: days from order placement to each line's shipment,
# profiled per order priority with exact discrete percentiles (the value
# AT row ceil(p*n) of the per-priority sort — a real observation, no
# interpolation; identical row_number formulation on both engines) plus
# an exact integer milli-day mean. One fact-fact join on o_orderkey and
# per-priority rank windows (5 keys of growing size — at extreme scale
# the percentile picks would move to a two-pass quantile cut, same
# outputs).

_FULFILL_LAG_ORACLE = """
WITH lag AS (
  SELECT o.o_orderpriority AS priority,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS lag_days,
         l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
r AS (
  SELECT priority, lag_days,
         ROW_NUMBER() OVER (PARTITION BY priority
                            ORDER BY lag_days, l_orderkey, l_linenumber)
           AS rn,
         COUNT(*) OVER (PARTITION BY priority) AS n
  FROM lag)
SELECT priority, CAST(MIN(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                THEN lag_days END) AS p25_days,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                THEN lag_days END) AS p50_days,
       MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
                THEN lag_days END) AS p75_days,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                THEN lag_days END) AS p90_days,
       CAST((1000 * SUM(lag_days)) // COUNT(*) AS BIGINT)
         AS mean_millidays
FROM r GROUP BY priority
"""


@query("q_join_fulfillment_lag", _FULFILL_LAG_ORACLE)
def q_join_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lag = (
        li.select("l_orderkey", "l_linenumber", "l_shipdate")
        .join(
            o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("bigint").alias("lag_days"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    w = Window.partitionBy("priority").orderBy(
        "lag_days", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("priority")
    r = lag.select(
        "priority",
        "lag_days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def pick(p: float, alias: str):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                F.col("lag_days"),
            )
        ).alias(alias)

    return r.groupBy("priority").agg(
        F.min("n").cast("bigint").alias("n"),
        pick(0.25, "p25_days"),
        pick(0.5, "p50_days"),
        pick(0.75, "p75_days"),
        pick(0.9, "p90_days"),
        F.expr("(1000 * SUM(lag_days)) DIV COUNT(*)").cast("bigint")
        .alias("mean_millidays"),
    )


# -- X347: FIFO inventory costing ------------------------------------------
#
# The classic "hard in SQL" matching: per part, issues (sales) consume
# receipt lots strictly in shipdate order, and each issue's cost is the
# receipt cost of exactly the units it consumed. The set-based form —
# the one that scales — maps both sides onto CUMULATIVE quantity
# intervals per part ([lot start, lot end) for receipts, likewise for
# issues) and equi-joins on partkey with an interval-overlap predicate:
# overlap units of (lot, issue) = the units that issue drew from that
# lot. Semantics are SEQUENCE FIFO (period cost allocation): the k-th
# issued unit is costed against the k-th received unit, so a receipt
# later in the period covers an earlier backordered issue — the form
# accountants close a period with, and the one that is set-expressible. Keyed windows + one keyed join, per-key fan-out bounded by lines
# per part — no per-row iteration anywhere. Costs stay integer: a lot's
# consumed portion is charged pro-rata in exact floor cents.
# Reference scope: ETL_PROJECT.py has no matching engine; this is the
# training-pipeline-adjacent ledger op the survey's X-track calls for.

_FIFO_ORACLE = """
WITH li AS (
  SELECT l_partkey AS pk, l_shipdate, l_orderkey, l_linenumber,
         CAST(ROUND(l_quantity) AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ext_cents,
         l_linenumber % 2 AS side          -- 1 = receipt, 0 = issue
  FROM lineitem WHERE l_partkey <= 500),
r AS (
  SELECT pk, qty, ext_cents,
         SUM(qty) OVER (PARTITION BY pk ORDER BY l_shipdate, l_orderkey,
                        l_linenumber ROWS UNBOUNDED PRECEDING) - qty AS rs,
         SUM(qty) OVER (PARTITION BY pk ORDER BY l_shipdate, l_orderkey,
                        l_linenumber ROWS UNBOUNDED PRECEDING) AS re
  FROM li WHERE side = 1),
s AS (
  SELECT pk, qty, l_orderkey, l_linenumber,
         SUM(qty) OVER (PARTITION BY pk ORDER BY l_shipdate, l_orderkey,
                        l_linenumber ROWS UNBOUNDED PRECEDING) - qty AS ss,
         SUM(qty) OVER (PARTITION BY pk ORDER BY l_shipdate, l_orderkey,
                        l_linenumber ROWS UNBOUNDED PRECEDING) AS se
  FROM li WHERE side = 0),
m AS (
  SELECT s.pk, s.qty AS issue_qty,
         LEAST(r.re, s.se) - GREATEST(r.rs, s.ss) AS ov,
         r.ext_cents, r.qty AS lot_qty
  FROM s JOIN r ON r.pk = s.pk AND r.rs < s.se AND s.ss < r.re)
SELECT pk AS p_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(ov) AS BIGINT) AS matched_qty,
       CAST(SUM(ext_cents * ov // lot_qty) AS BIGINT) AS matched_cost_cents
FROM m GROUP BY pk
"""


@query("q_join_fifo_costing", _FIFO_ORACLE)
def q_join_fifo_costing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") <= 500)
        .select(
            F.col("l_partkey").alias("pk"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity").cast("bigint").alias("qty"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("ext_cents"),
            (F.col("l_linenumber") % 2).alias("side"),
        )
    )
    w = (
        Window.partitionBy("pk")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("qty").over(w)
    r = li.filter(F.col("side") == 1).select(
        "pk",
        F.col("qty").alias("lot_qty"),
        "ext_cents",
        (cum - F.col("qty")).alias("rs"),
        cum.alias("re"),
    )
    s = li.filter(F.col("side") == 0).select(
        "pk",
        F.col("qty").alias("issue_qty"),
        (cum - F.col("qty")).alias("ss"),
        cum.alias("se"),
    )
    m = s.join(
        r,
        (s["pk"] == r["pk"])
        & (r["rs"] < s["se"])
        & (s["ss"] < r["re"]),
    ).select(
        s["pk"],
        (F.least("re", "se") - F.greatest("rs", "ss")).alias("ov"),
        "ext_cents",
        "lot_qty",
    )
    return m.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("ov").cast("bigint").alias("matched_qty"),
        F.sum(F.expr("ext_cents * ov DIV lot_qty"))
        .cast("bigint")
        .alias("matched_cost_cents"),
    ).withColumnRenamed("pk", "p_partkey")


# -- X358: price-volume-mix revenue bridge ---------------------------------
#
# The FP&A decomposition of year-over-year revenue change per part:
# price effect (unit-price change at new volume) and volume effect
# (volume change at old price). Unit prices are rationals (rev/qty), so
# the bridge ships EXACT NUMERATORS over the common denominator q0:
#   price_num  = rev1·q0 − rev0·q1   (= (p1−p0)·q1 · q0)
#   volume_num = (q1−q0)·rev0        (= (q1−q0)·p0 · q0)
# and price_num + volume_num = (rev1 − rev0)·q0 — an identity the test
# pins. DECIMAL(38,0) keeps the cross-products exact at fact-scale
# magnitudes. Two year-slices of one scan, one keyed join on partkey.

_PVM_ORACLE = """
WITH y AS (
  SELECT l_partkey AS pk, EXTRACT(YEAR FROM l_shipdate) AS yr,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM lineitem
  WHERE l_partkey <= 1000 AND EXTRACT(YEAR FROM l_shipdate) IN (1996, 1997)
  GROUP BY pk, yr),
b AS (
  SELECT a.pk, a.qty AS q0, a.rev AS rev0, c.qty AS q1, c.rev AS rev1
  FROM y a JOIN y c ON c.pk = a.pk AND a.yr = 1996 AND c.yr = 1997)
SELECT pk AS p_partkey, q0, q1, rev0, rev1,
       CAST(CAST(CAST(rev1 AS DECIMAL(38,0)) * q0
            - CAST(rev0 AS DECIMAL(38,0)) * q1 AS DECIMAL(38,0))
         AS VARCHAR) AS price_num,
       CAST(CAST(CAST(q1 - q0 AS DECIMAL(38,0)) * rev0 AS DECIMAL(38,0))
         AS VARCHAR) AS volume_num
FROM b
"""


@query("q_join_pvm_bridge", _PVM_ORACLE)
def q_join_pvm_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_partkey") <= 1000)
        & F.year("l_shipdate").isin(1996, 1997)
    )
    y = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").alias("yr"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    )
    a = y.filter(F.col("yr") == 1996).select(
        "pk", F.col("qty").alias("q0"), F.col("rev").alias("rev0")
    )
    c = y.filter(F.col("yr") == 1997).select(
        "pk", F.col("qty").alias("q1"), F.col("rev").alias("rev1")
    )
    dec = "decimal(38,0)"
    b = a.join(c, "pk")
    return b.select(
        F.col("pk").alias("p_partkey"),
        "q0",
        "q1",
        "rev0",
        "rev1",
        # DECIMAL(38,0) keeps the cross-products exact; the final VARCHAR
        # cast is transport-only — the driver canonicalizes through pandas,
        # where DuckDB DECIMALs degrade to float64 while Spark keeps
        # decimal.Decimal, so identical values hash-diverged (r7's one red
        # row). Text is exact at any magnitude on both engines.
        (
            F.col("rev1").cast(dec) * F.col("q0")
            - F.col("rev0").cast(dec) * F.col("q1")
        )
        .cast(dec)
        .cast("string")
        .alias("price_num"),
        ((F.col("q1") - F.col("q0")).cast(dec) * F.col("rev0"))
        .cast(dec)
        .cast("string")
        .alias("volume_num"),
    )


# -- X386: association rules (support / confidence / lift / Jaccard) --------
#
# The step after q_join_cooccurrence's pair counting: turn basket pair
# counts into the four standard rule metrics, all integer-ppm so both
# engines agree bit-for-bit. Directional rules a→b for every ordered
# pair that co-occurs in >= 3 baskets. n_a/n_b come from a tiny item
# support table joined twice (broadcast); N is a 1-row aggregate. The
# basket self-join stays keyed on the basket id — quadratic only within
# a basket, linear across baskets.

_ASSOC_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM items GROUP BY l_partkey),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
      FROM items),
pairs AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
SELECT p.ante, p.cons, p.n_ab,
       sa.n_item AS n_ante, sb.n_item AS n_cons,
       CAST(p.n_ab * 1000000 // n.n_baskets AS BIGINT) AS support_ppm,
       CAST(p.n_ab * 1000000 // sa.n_item AS BIGINT) AS confidence_ppm,
       CAST(p.n_ab * n.n_baskets * 1000000
            // (sa.n_item * sb.n_item) AS BIGINT) AS lift_ppm,
       CAST(p.n_ab * 1000000
            // (sa.n_item + sb.n_item - p.n_ab) AS BIGINT) AS jaccard_ppm
FROM pairs p
JOIN supp sa ON sa.l_partkey = p.ante
JOIN supp sb ON sb.l_partkey = p.cons
CROSS JOIN n
"""


@query("q_ml_association_rules", _ASSOC_ORACLE)
def q_ml_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    n = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("ante"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("cons"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    out = (
        pairs.join(
            F.broadcast(
                supp.select(
                    F.col("l_partkey").alias("ante"),
                    F.col("n_item").alias("n_ante"),
                )
            ),
            "ante",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("l_partkey").alias("cons"),
                    F.col("n_item").alias("n_cons"),
                )
            ),
            "cons",
        )
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "ante",
        "cons",
        "n_ab",
        "n_ante",
        "n_cons",
        F.expr("CAST(n_ab * 1000000 DIV n_baskets AS BIGINT)").alias(
            "support_ppm"
        ),
        F.expr("CAST(n_ab * 1000000 DIV n_ante AS BIGINT)").alias(
            "confidence_ppm"
        ),
        F.expr(
            "CAST(n_ab * n_baskets * 1000000 DIV (n_ante * n_cons)"
            " AS BIGINT)"
        ).alias("lift_ppm"),
        F.expr(
            "CAST(n_ab * 1000000 DIV (n_ante + n_cons - n_ab) AS BIGINT)"
        ).alias("jaccard_ppm"),
    )
