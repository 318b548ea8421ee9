"""Window functions — SURVEY.md §2.B Q14 (ranking), Q15 (analytic),
Q16 (frame-spec aggregates), Q18 (top-k per group).

Determinism: every window is totally ordered (explicit tiebreakers on a
key column) so ranks and frames are reproducible under any partitioning.
Frame-spec sums go through the exact-decimal trick (helpers.py) because
both Spark and DuckDB evaluate window sums in data-dependent association
orders (DuckDB uses segment trees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import DEC, dsum
from mini_etl_project_spark.session import load_table

# -- Q14 ranking family ----------------------------------------------------

_RANK_ORACLE = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ROW_NUMBER()  OVER w AS rn,
       RANK()        OVER w AS rnk,
       DENSE_RANK()  OVER w AS drnk,
       NTILE(4)      OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


@query("q_window_rank", _RANK_ORACLE)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# -- Q18 top-k per group ---------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@query("q_window_topk_per_group", _TOPK_ORACLE)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


# -- Q15 lag / lead / first / last ----------------------------------------

_LAG_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice)  OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       o_totalprice - LAG(o_totalprice) OVER w AS price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("q_window_lag_lead", _LAG_ORACLE)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_orderkey").over(w).alias("first_order"),
        (F.col("o_totalprice") - prev).alias("price_delta"),
    )


# -- Q16 frame-spec aggregates: running total + moving average -------------

_FRAME_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS day_rev,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT order_day, day_rev,
       CAST(SUM(CAST(day_rev AS DECIMAL(38,6))) OVER (
            ORDER BY order_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_rev,
       CAST(SUM(CAST(day_rev AS DECIMAL(38,6))) OVER (
            ORDER BY order_day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(*) OVER (ORDER BY order_day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS moving_avg_7d
FROM daily
"""


_RANGE_ORACLE = """
WITH daily AS (
  SELECT CAST(DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
              AS BIGINT) AS day_idx,
         COUNT(*) AS n
  FROM orders GROUP BY 1)
SELECT day_idx, n,
       CAST(SUM(n) OVER (ORDER BY day_idx
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_7d
FROM daily
"""
# DuckDB SUM(BIGINT) yields HUGEINT (int128); Spark's window sum over bigint
# stays bigint.  Without the CAST above the driver's value-hash sees two
# different integer widths for identical values (round 2's one red row).


@query("q_window_range_frame", _RANGE_ORACLE)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 RANGE frame: value-based 7-day trailing count — unlike a ROWS
    frame, missing days don't stretch the window."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day_idx")
    ).agg(F.count("*").alias("n"))
    # BOUNDED-INPUT INVARIANT: this unpartitioned Window runs single-
    # partition (WindowExec with no PARTITION BY).  That is safe ONLY
    # because the input is the post-aggregate daily frame — cardinality
    # = distinct calendar days (~2.4k rows at any sf, ~10k rows even for
    # a 30-year corpus).  Never copy this pattern onto raw rows; there,
    # partition by a coarse time bucket and stitch boundaries.
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    return daily.select("day_idx", "n", F.sum("n").over(w).alias("n_7d"))


@query("q_window_frames", _FRAME_ORACLE)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(
            dsum("o_totalprice", "day_rev"),
            F.count("*").alias("n"),
        )
    )
    # BOUNDED-INPUT INVARIANT: unpartitioned windows over the per-day
    # aggregate only (cardinality = calendar days) — see q_window_range_frame.
    w_run = Window.orderBy("order_day").rowsBetween(Window.unboundedPreceding, 0)
    w_mov = Window.orderBy("order_day").rowsBetween(-6, 0)
    return daily.select(
        "order_day",
        "day_rev",
        F.sum(F.col("day_rev").cast(DEC)).over(w_run).cast("double").alias("running_rev"),
        (
            F.sum(F.col("day_rev").cast(DEC)).over(w_mov).cast("double")
            / F.count("*").over(w_mov)
        ).alias("moving_avg_7d"),
    )


# -- Q14+ distribution family (percent_rank / cume_dist) -------------------
# Pure rank arithmetic over a total order — (rank-1)/(n-1) and rank/n in
# double — so both engines produce identical bits.

_DIST_ORACLE = """
SELECT o_orderpriority, o_orderkey,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@query("q_window_distribution", _DIST_ORACLE)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# -- Q15+ value functions (first/last/nth over explicit frames) ------------
# last_value needs the full-partition frame (the default frame ends at
# CURRENT ROW — the classic trap); nth_value(2) gets the second-smallest.

_VALUE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice,
       FIRST_VALUE(l_extendedprice) OVER w AS cheapest,
       LAST_VALUE(l_extendedprice)
         OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS priciest,
       NTH_VALUE(l_extendedprice, 2) OVER w AS second_cheapest
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber)
"""


@query("q_window_value_fns", _VALUE_ORACLE)
def q_window_value_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_extendedprice", "l_linenumber")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.first("l_extendedprice").over(w).alias("cheapest"),
        F.last("l_extendedprice").over(w_full).alias("priciest"),
        F.nth_value("l_extendedprice", 2).over(w).alias("second_cheapest"),
    )


# -- Q14+ COUNT(DISTINCT) OVER — the rewrite Spark doesn't ship ------------
#
# Spark rejects DISTINCT aggregates in window frames; the standard rewrite
# is first-occurrence flagging: a value contributes 1 only at its first
# row within (partition, value), and the running sum of flags is the
# cumulative distinct count. DuckDB supports COUNT(DISTINCT …) OVER
# natively, so the oracle is the real operator — the rewrite has to
# reproduce it exactly. Cost: two shuffles (the flag window partitions on
# (user, value), the running sum on user) — the standard price of this
# rewrite; a native implementation would pay one sort-based pass.

_WCD_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS s
  FROM events WHERE ts IS NOT NULL)
SELECT user_id, event_id,
       COUNT(DISTINCT event_type)
         OVER (PARTITION BY user_id ORDER BY s, event_id) AS n_types_seen
FROM obs
"""


@query("q_window_count_distinct", _WCD_ORACLE)
def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the sequencing axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("s"))
    first_seen = Window.partitionBy("user_id", "event_type").orderBy("s", "event_id")
    running = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # COUNT(DISTINCT x) ignores NULL x in SQL; the rewrite must too — a
    # NULL type's first occurrence is NOT a new distinct value (r12 NULL
    # audit; the row itself still emits, only its flag is 0).
    flagged = obs.withColumn(
        "is_first",
        F.when(
            (F.row_number().over(first_seen) == 1)
            & F.col("event_type").isNotNull(),
            1,
        ).otherwise(0),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("is_first").over(running).alias("n_types_seen"),
    )


# -- Q15+ IGNORE NULLS window navigation (LOCF forward fill) ---------------
#
# Every 7th reading is nulled; last_value(... IGNORE NULLS) carries the
# previous observation forward — the canonical sensor forward-fill. Spark
# spells it last(col, ignorenulls=True) over a running frame; the
# trailing variant (frame ending at 1 PRECEDING) is the portable
# replacement for LAG ... IGNORE NULLS, which Spark doesn't ship.

_IGNORE_NULLS_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events WHERE ts IS NOT NULL)
SELECT user_id, event_id, v,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY s, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY s, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_obs
FROM obs
"""


@query("q_window_ignore_nulls", _IGNORE_NULLS_ORACLE)
def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the sequencing axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    base = Window.partitionBy("user_id").orderBy("s", "event_id")
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trailing = base.rowsBetween(Window.unboundedPreceding, -1)
    return obs.select(
        "user_id",
        "event_id",
        "v",
        F.last("v", ignorenulls=True).over(running).alias("filled"),
        F.last("v", ignorenulls=True).over(trailing).alias("prev_obs"),
    )


# -- Q16+ keyed time-RANGE frame (trailing 1 hour per event) ---------------
#
# The per-row sliding time window a rate-limiter or rolling-exposure
# query needs: RANGE BETWEEN 1 HOUR PRECEDING AND CURRENT ROW on the
# microsecond timeline, partitioned by user — unlike the day-level
# unpartitioned variant above, this one runs keyed and scales. RANGE
# frames are tie-safe by construction (peers share the frame), so no
# event_id tie-break is needed; sums stay in exact cents.

_TIME_RANGE_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_last_hour,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_last_hour
FROM obs
WINDOW w AS (PARTITION BY user_id ORDER BY s
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@query("q_window_time_range", _TIME_RANGE_ORACLE)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return obs.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum("cents").over(w).cast("bigint").alias("cents_last_hour"),
    )


# -- Exact rolling median (bounded frame) -----------------------------------
#
# Robust rolling statistic: the exact median of the trailing 5 values per
# user. The frame is CONSTANT-SIZED, so collecting it as an array and
# sorting is O(1) per row and fully keyed — this is the scale-safe way to
# get exact small-window order statistics (contrast: percentile over a
# growing frame). Integer cents keep the even-count midpoint (.5) exact.

_ROLLING_MEDIAN_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL),
arrs AS (
  SELECT user_id, event_id,
         list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
  FROM obs)
SELECT user_id, event_id,
       len(arr) AS k,
       (arr[CAST((len(arr) + 1) // 2 AS INT)]
        + arr[CAST(len(arr) // 2 + 1 AS INT)]) / 2.0 / 100.0 AS roll_med
FROM arrs
"""


@query("q_window_rolling_median", _ROLLING_MEDIAN_ORACLE)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # NULL readings carry no median signal and diverge between engines
    # (collect_list SKIPS NULLs, DuckDB's list() keeps them — an
    # all-NULL frame then trips ANSI element_at(0)); NULL order keys
    # rank opposite ends (Spark NULLS FIRST, DuckDB NULLS LAST).
    # Both excluded explicitly on both engines (r12 NULL audit).
    obs = e.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("cents").over(w))
    k = F.size(arr)
    lo = F.element_at(arr, ((k + 1) / 2).cast("int"))
    hi = F.element_at(arr, (k / 2).cast("int") + 1)
    return obs.select(
        "user_id",
        "event_id",
        k.cast("bigint").alias("k"),
        ((lo + hi) / F.lit(2.0) / F.lit(100.0)).alias("roll_med"),
    )


# -- X173 native batch session_window --------------------------------------
#
# Spark's built-in session_window(ts, gap) used in a BATCH aggregation
# (the streaming twin is q_stream_sessions): per-user sessions close
# after 30 idle minutes.  The oracle derives identical sessions from
# first principles — gaps-and-islands with a LAG > gap boundary flag and
# a running session counter — proving the native operator implements
# exactly that semantics.  Session start/end at native µs precision;
# event counts and integer cent sums per session.

_SESSION_NATIVE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN epoch_us(ts)
                   - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id))
                   > 1800000000
              OR LAG(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE ts IS NOT NULL),
sess AS (
  SELECT user_id, ts, cents,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sess
GROUP BY user_id, sess_id
"""


@query("q_window_session_native", _SESSION_NATIVE_ORACLE)
def q_window_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time cannot enter a session window (Spark drops it;
    # the oracle would mint a NULL-keyed session) — excluded on both
    # engines (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    agg = (
        e.select(
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    return agg.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "sum_cents",
    )


# -- X250 GROUPS window frame, emulated ------------------------------------
#
# SQL:2011 GROUPS frames (peer-group-counted) exist in DuckDB but not in
# Spark 4. The lossless re-expression: a GROUPS frame over ORDER BY k is
# EXACTLY a RANGE frame over dense_rank(k) — peers share a dense rank,
# and "N groups preceding" = "dense ranks in [r−N, r]". Two keyed
# windows (the dense_rank, then the RANGE aggregate over it) replace the
# missing frame type with identical semantics. DuckDB lacks GROUPS mode
# too, so the oracle certifies through an INDEPENDENT formulation: an
# explicit peer-group self-join on dense-rank distance ≤ 1 — three
# different evaluation strategies, one answer.

_GROUPS_FRAME_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS pri,
         CAST(o_orderdate AS DATE) AS d,
         CAST(ROUND(o_totalprice) AS BIGINT) AS cents
  FROM orders),
g AS (
  SELECT pri, d, CAST(SUM(cents) AS BIGINT) AS day_total
  FROM daily GROUP BY pri, d),
r AS (
  SELECT *, DENSE_RANK() OVER (PARTITION BY pri ORDER BY day_total) AS dr
  FROM g)
SELECT a.pri, a.d, a.day_total,
       CAST(SUM(b.day_total) AS BIGINT) AS grp_frame_sum,
       CAST(COUNT(*) AS BIGINT) AS grp_frame_n
FROM r a JOIN r b
  ON b.pri = a.pri AND b.dr BETWEEN a.dr - 1 AND a.dr
GROUP BY a.pri, a.d, a.day_total
"""


@query("q_window_groups_frame", _GROUPS_FRAME_ORACLE)
def q_window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(
        F.sum(F.round("o_totalprice").cast("bigint"))
        .cast("bigint")
        .alias("day_total")
    )
    dr = F.dense_rank().over(
        Window.partitionBy("pri").orderBy("day_total")
    )
    ranked = g.select("pri", "d", "day_total", dr.alias("dr"))
    frame = (
        Window.partitionBy("pri")
        .orderBy("dr")
        .rangeBetween(-1, 0)
    )
    return ranked.select(
        "pri",
        "d",
        "day_total",
        F.sum("day_total").over(frame).cast("bigint").alias("grp_frame_sum"),
        F.count("*").over(frame).cast("bigint").alias("grp_frame_n"),
    )


# -- X255 top-k WITH TIES (rank, not row_number) ---------------------------
#
# SQL:2008 FETCH FIRST k WITH TIES semantics per group: rank() admits
# every peer of the k-th row, so result size is data-dependent — the
# semantic difference from row_number top-k is the point (and the reason
# the oracle's row count is not 3·groups). Tie potential is real: the
# ranking key is a COUNT. Keyed window over a bounded aggregate.

_TOPK_TIES_ORACLE = """
WITH counts AS (
  SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2),
ranked AS (
  SELECT *, RANK() OVER (PARTITION BY l_returnflag
                         ORDER BY cnt DESC) AS rk
  FROM counts)
SELECT l_returnflag, CAST(rk AS BIGINT) AS rk, qty, cnt
FROM ranked WHERE rk <= 3
"""


@query("q_window_topk_with_ties", _TOPK_TIES_ORACLE)
def q_window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("qty"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    ranked = counts.withColumn(
        "rk",
        F.rank().over(
            Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"))
        ),
    )
    return ranked.filter(F.col("rk") <= 3).select(
        "l_returnflag", F.col("rk").cast("bigint").alias("rk"), "qty", "cnt"
    )


# -- X295 rolling OLS slope (windowed regression) --------------------------
#
# Trend detection as a frame aggregate: per event type, the least-squares
# slope of daily revenue over the trailing 7 calendar slots, computed
# entirely from integer window sums (n, Σx, Σy, Σxy, Σx²) — the closed
# form needs nothing else, so the whole thing is one keyed ROWS-frame
# window with no UDF. The slope is scaled to per-mille and floored while
# every intermediate still fits double's exact-integer range; rows with a
# degenerate frame (fewer than 2 points) report NULL via NULLIF.

_ROLLREG_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
framed AS (
  SELECT event_type, x, CAST(y AS BIGINT) AS y,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT event_type, x, y, n,
       CAST(FLOOR((n * sxy - sx * sy) * 1000.0
                  / NULLIF(n * sxx - sx * sx, 0)) AS BIGINT) AS slope_pm
FROM framed ORDER BY event_type, x
"""


@query("q_window_rolling_regression", _ROLLREG_ORACLE)
def q_window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit; a NULL x day would enter the trailing frame
    # at opposite ends of the two engines' sort order)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("x"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = daily.select(
        "event_type",
        "x",
        "y",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return framed.select(
        "event_type",
        "x",
        "y",
        "n",
        F.floor(num * 1000.0 / F.nullif(den, F.lit(0)))
        .cast("bigint")
        .alias("slope_pm"),
    )


# -- X304 per-group skyline (Pareto frontier) ------------------------------
#
# The skyline operator (Börzsönyi et al., ICDE'01): within each brand,
# keep the parts no other part dominates — here minimize price, maximize
# size; a dominates b iff price_a <= price_b AND size_a >= size_b with at
# least one strict. The quadratic NOT-EXISTS definition (the oracle)
# collapses to two keyed window maxima after sorting by price: a point
# survives iff no strictly-cheaper point has size >= mine (RANGE frame up
# to price−1) and no same-price point has size > mine. Both windows
# partition by brand — per-key sorts, no global ordering, scales with the
# number of groups.

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT p_brand, p_partkey,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS size
  FROM part)
SELECT p_brand, p_partkey, price_c, size
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts d
  WHERE d.p_brand = a.p_brand
    AND d.price_c <= a.price_c AND d.size >= a.size
    AND (d.price_c < a.price_c OR d.size > a.size))
ORDER BY p_brand, price_c, p_partkey
"""


@query("q_window_skyline", _SKYLINE_ORACLE)
def q_window_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "price_c")
    flagged = pts.select(
        "p_brand",
        "p_partkey",
        "price_c",
        "size",
        F.max("size").over(w_cheaper).alias("best_cheaper"),
        F.max("size").over(w_same).alias("best_same"),
    )
    return (
        flagged.filter(
            (F.col("best_cheaper").isNull()
             | (F.col("best_cheaper") < F.col("size")))
            & (F.col("best_same") <= F.col("size"))
        )
        .select("p_brand", "p_partkey", "price_c", "size")
        .orderBy("p_brand", "price_c", "p_partkey")
    )


# -- X317 ABC / Pareto-class inventory analysis -----------------------------
# Classic inventory control: within each brand, rank parts by realized
# revenue descending and split them into class A (parts covering the
# first 70% of cumulative revenue), B (to 90%), C (the tail), then
# summarize each class. Revenue stays integral — cents x (100 - discount
# pct), exact in BIGINT — and the class boundaries are integer
# cross-multiplications (cum*10 <= 7*total), so both engines agree
# bit-for-bit. Plan: one keyed lineitem aggregation, a part join for the
# brand, and a cumulative window PARTITIONED by brand (parts-per-brand
# sorts run in parallel across brands; no global sort). Share reported
# in basis points via integer division.

_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY l_partkey),
j AS (
  SELECT p.p_brand AS brand, r.l_partkey AS partkey, r.rev
  FROM rev r JOIN part p ON p.p_partkey = r.l_partkey),
c AS (
  SELECT brand, partkey, rev,
         SUM(rev) OVER (PARTITION BY brand
                        ORDER BY rev DESC, partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum,
         SUM(rev) OVER (PARTITION BY brand) AS total
  FROM j),
k AS (
  SELECT brand, rev, total,
         CASE WHEN cum * 10 <= 7 * total THEN 'A'
              WHEN cum * 10 <= 9 * total THEN 'B'
              ELSE 'C' END AS abc_class
  FROM c)
SELECT brand, abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS class_rev,
       CAST((10000 * SUM(rev)) // MIN(total) AS BIGINT) AS share_bp
FROM k GROUP BY brand, abc_class
"""


@query("q_window_abc_class", _ABC_ORACLE)
def q_window_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).cast("bigint").alias("rev")
    )
    j = rev.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        rev["l_partkey"] == p["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_partkey").alias("partkey"),
        "rev",
    )
    wcum = (
        Window.partitionBy("brand")
        .orderBy(F.desc("rev"), "partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = j.select(
        "brand",
        "rev",
        F.sum("rev").over(wcum).alias("cum"),
        F.sum("rev").over(Window.partitionBy("brand")).alias("total"),
    )
    k = c.select(
        "brand",
        "rev",
        "total",
        F.when(F.col("cum") * 10 <= 7 * F.col("total"), "A")
        .when(F.col("cum") * 10 <= 9 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return k.groupBy("brand", "abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("rev").cast("bigint").alias("class_rev"),
        F.expr("(10000 * SUM(rev)) DIV MIN(total)").cast("bigint")
        .alias("share_bp"),
    )


# -- X335: session windows with DYNAMIC gap --------------------------------
# Spark's session_window with a per-event gap expression: purchases hold
# a session open 30 min, everything else 10 min. The oracle replicates
# interval-union semantics exactly: a new session starts when the event's
# ts reaches the running max of (ts + gap) over all prior events — the
# standard variable-gap sessionization recurrence (interval union is
# order-independent, so the tie-break only pins the scan order).

_SESSION_DYNGAP_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase'
              THEN 1800000000 ELSE 600000000 END AS gap_us
  FROM events WHERE ts IS NOT NULL),
marked AS (
  SELECT user_id, ts, event_id, cents, gap_us,
         CASE WHEN MAX(epoch_us(ts) + gap_us) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                IS NULL
              OR epoch_us(ts) >= MAX(epoch_us(ts) + gap_us) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_start
  FROM g),
sess AS (
  SELECT user_id, ts, cents, gap_us,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts + to_microseconds(gap_us)) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sess GROUP BY user_id, sid
"""


@query("q_window_session_dynamic_gap", _SESSION_DYNGAP_ORACLE)
def q_window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.session import load_table

    # NULL event time cannot enter a session window — excluded on
    # both engines (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        e.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).cast("bigint").alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )
