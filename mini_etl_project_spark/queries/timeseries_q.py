"""Time-series operators over ``events`` and ``orders`` — the shapes a
hypertable/rollup engine provides (OHLC downsampling, interval coverage,
time-weighted averages, streak detection), expressed as window + aggregate
plans that shuffle once on the series key.

Determinism notes (driver hash-compares values):

- All time arithmetic is integer microseconds (``unix_micros`` /
  ``epoch_us``); double→bigint conversions go through explicit ``floor``
  because Spark truncates while DuckDB rounds on a bare cast.
- Window orderings always include ``event_id`` so ties on ``ts`` are
  pinned.
- Double sums go through the exact-decimal trick (see ``helpers``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import dsum, exact_sum, sql_dsum
from mini_etl_project_spark.session import load_table

# -- OHLC downsampling (open/high/low/close per series per bucket) ---------
#
# The classic hypertable rollup: first/last are pinned by (ts, event_id)
# row_number, not arbitrary first()/last() — those are partition-order
# dependent and would not survive a re-partitioning, let alone an oracle.

_OHLC_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_asc,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_desc
  FROM events WHERE ts IS NOT NULL)
SELECT event_type, bucket,
       COUNT(*) AS n_events,
       MAX(CASE WHEN rn_asc = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_desc = 1 THEN value END) AS close,
       {sql_dsum("value", "vsum")}
FROM ranked
GROUP BY event_type, bucket
"""


@query("q_ts_ohlc", _OHLC_ORACLE)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    bucketed = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        "value",
        "ts",
        "event_id",
    )
    asc = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    desc = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = bucketed.withColumns(
        {"rn_asc": F.row_number().over(asc), "rn_desc": F.row_number().over(desc)}
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("rn_asc") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_desc") == 1, F.col("value"))).alias("close"),
        dsum("value", "vsum"),
    )


# -- Interval union / coverage (merge overlapping intervals) ---------------
#
# Each event opens an interval [ts, ts + value minutes]; per user, compute
# total covered time with overlaps merged — the gaps-and-islands sweep:
# running max of interval-end over preceding rows marks island starts, a
# running sum of starts numbers the islands, one aggregate per island,
# one per user. Two window passes + two aggregates, all on the user key —
# a single shuffle at scale.

_COVERAGE_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + CAST(FLOOR(value * 60000000) AS BIGINT) AS e
  FROM events),
marked AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   >= s
              THEN 0 ELSE 1 END AS new_island
  FROM iv),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM marked),
per_island AS (
  SELECT user_id, island, COUNT(*) AS n_iv, MAX(e) - MIN(s) AS covered
  FROM islands GROUP BY user_id, island)
SELECT user_id,
       CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
       COUNT(*) AS n_islands,
       CAST(SUM(covered) AS BIGINT) AS covered_us
FROM per_island GROUP BY user_id
"""


@query("q_ts_interval_coverage", _COVERAGE_ORACLE)
def q_ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * F.lit(60000000.0)).cast("bigint")
        ).alias("e"),
    )
    sweep = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("e").over(
        sweep.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prev_max_end >= F.col("s"), F.lit(0)).otherwise(F.lit(1)).alias(
            "new_island"
        ),
    )
    number = Window.partitionBy("user_id").orderBy("s", "event_id")
    islands = marked.withColumn(
        "island",
        F.sum("new_island").over(
            number.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("n_iv"),
        (F.max("e") - F.min("s")).alias("covered"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("n_iv").cast("bigint").alias("n_intervals"),
        F.count("*").alias("n_islands"),
        F.sum("covered").cast("bigint").alias("covered_us"),
    )


# -- Time-weighted average (LOCF integration) ------------------------------
#
# Sensor-style TWA: each value holds until the next observation; the
# average weights each value by its holding time. One lead() window + one
# aggregate on the user key; the integral sums exactly in decimal space.
#
# The integral is pure int64 arithmetic (value in cents × dt in micros):
# a double product rounds differently into decimal across engines (Spark
# decimalizes via the double's shortest representation, DuckDB via its
# exact expansion), and decimal→double is double-rounded in DuckDB once
# the scaled integer exceeds 2^53. int64 sums are exact and their
# int→double conversion plus the two divisions below are each correctly
# rounded IEEE ops in both engines — bit-identical end to end. Bound:
# cents(≤1e4) × span(us) stays under int64 for spans up to ~decades.

_TWA_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS s
  FROM events),
stepped AS (
  SELECT user_id, cents, s,
         LEAD(s) OVER (PARTITION BY user_id ORDER BY s, event_id) - s AS dt
  FROM obs)
SELECT user_id,
       COUNT(*) AS n_events,
       MAX(s) - MIN(s) AS span_us,
       CAST(SUM(cents * dt) AS DOUBLE) / 100.0 / (MAX(s) - MIN(s)) AS twa
FROM stepped
GROUP BY user_id
HAVING MAX(s) - MIN(s) > 0
"""


@query("q_ts_twa", _TWA_ORACLE)
def q_ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("s"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    stepped = obs.select(
        "user_id", "cents", "s", (F.lead("s").over(w) - F.col("s")).alias("dt")
    )
    agg = stepped.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max("s") - F.min("s")).alias("span_us"),
        (
            F.sum(F.col("cents") * F.col("dt")).cast("double")
            / F.lit(100.0)
            / (F.max("s") - F.min("s"))
        ).alias("twa"),
    )
    return agg.filter(F.col("span_us") > 0)


# -- Longest consecutive-day streak (gaps-and-islands on dates) ------------

_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
grp AS (
  SELECT o_custkey, d,
         datediff('day', DATE '1970-01-01', d)
           - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d) AS g
  FROM days),
runs AS (
  SELECT o_custkey, g, COUNT(*) AS run_len FROM grp GROUP BY o_custkey, g)
SELECT o_custkey,
       CAST(SUM(run_len) AS BIGINT) AS n_days,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak
FROM runs GROUP BY o_custkey
"""


@query("q_ts_streak", _STREAK_ORACLE)
def q_ts_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    grp = days.select(
        "o_custkey",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("g"),
    )
    runs = grp.groupBy("o_custkey", "g").agg(F.count("*").alias("run_len"))
    return runs.groupBy("o_custkey").agg(
        F.sum("run_len").cast("bigint").alias("n_days"),
        F.max("run_len").cast("bigint").alias("longest_streak"),
    )


# -- Trailing-window anomaly detection (z-score vs rolling baseline) -------
#
# Monitoring-style outlier flagging: each observation is scored against
# the mean/std of its own trailing 20-observation window. The rolling
# moments are int64 sums over the frame (value in cents), so the window
# aggregation is exact and the final mean/std/z doubles come from
# identical expression trees in both engines. One window pass on the
# series key — a single shuffle at scale.

_ANOMALY_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id, value,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS s
  FROM events WHERE ts IS NOT NULL),
rolled AS (
  SELECT user_id, event_id, value, cents,
         COUNT(*) OVER w AS n,
         SUM(cents) OVER w AS sw,
         SUM(cents * cents) OVER w AS sww
  FROM obs
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
scored AS (
  SELECT user_id, event_id, value,
         (cents - CAST(sw AS DOUBLE) / n)
           / sqrt((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / n)
                  / (n - 1)) AS z
  FROM rolled
  WHERE n >= 10
    AND (CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / n) > 0)
SELECT user_id, event_id, value, z
FROM scored WHERE abs(z) > 2.5
"""


@query("q_ts_anomaly", _ANOMALY_ORACLE)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        "value",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    rolled = obs.select(
        "user_id",
        "event_id",
        "value",
        "cents",
        F.count("*").over(w).alias("n"),
        F.sum("cents").over(w).alias("sw"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("sww"),
    )
    n = F.col("n")
    sw, sww = F.col("sw").cast("double"), F.col("sww").cast("double")
    var_num = sww - sw * sw / n
    scored = rolled.filter((n >= 10) & (var_num > 0)).select(
        "user_id",
        "event_id",
        "value",
        ((F.col("cents") - sw / n) / F.sqrt(var_num / (n - 1))).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) > 2.5)


# -- Cohort retention (weekly cohorts × week offset) -----------------------
#
# The standard product-analytics matrix: users grouped by first-activity
# week, counted in each subsequent week they stay active. Two keyed
# aggregations (first-touch per user, then distinct users per cell) — the
# user-level distinct is the only shuffle that grows with data.

_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         datediff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM activity GROUP BY cohort_week, week_offset
"""


@query("q_ts_cohort_retention", _COHORT_ORACLE)
def q_ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )


# -- Markov transition matrix over event sequences -------------------------
#
# P(next event type | current type) per-user sequences: one lead() window
# on the user key, one count aggregate, one broadcast-sized denominator
# join. The probability is a single division of exact counts — identical
# doubles in both engines.

_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS nxt
  FROM events WHERE ts IS NOT NULL),
pairs AS (
  SELECT cur, nxt, COUNT(*) AS n FROM seq WHERE nxt IS NOT NULL
  GROUP BY cur, nxt),
totals AS (SELECT cur, SUM(n) AS tot FROM pairs GROUP BY cur)
SELECT p.cur, p.nxt, p.n,
       CAST(p.n AS DOUBLE) / t.tot AS prob
FROM pairs p JOIN totals t ON p.cur = t.cur
"""


@query("q_ts_transition_matrix", _TRANSITION_ORACLE)
def q_ts_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("tot"))
    return pairs.join(F.broadcast(totals), "cur").select(
        "cur",
        "nxt",
        "n",
        (F.col("n").cast("double") / F.col("tot")).alias("prob"),
    )


# -- Top session paths (first-k event-type sequences) ----------------------
#
# Path analysis: each user's first three event types, in event order,
# concatenated into a path string and counted across users. The in-order
# concat is an array_sort over (rn, type) structs — collect_list order is
# partition-dependent and must never carry meaning on its own.

_PATHS_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS rn
  FROM events WHERE ts IS NOT NULL),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id)
SELECT path, COUNT(*) AS n_users
FROM paths GROUP BY path
"""


@query("q_ts_paths", _PATHS_ORACLE)
def q_ts_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_users"))


# -- CUSUM changepoint detection -------------------------------------------
#
# Per-series cumulative sum of deviations from the series mean; the
# |CUSUM| peak marks the most likely level-shift point. Determinism trap
# avoided: float running sums are NOT portable (DuckDB evaluates window
# aggregates over a segment tree, so float addition order differs from
# Spark's running accumulation) — the deviation is scaled to integers
# (cents*n − S per row) so the cumulative sum is exact int64 in any
# association order. One window pass + two small aggregates on the key.

_CUSUM_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS s
  FROM events WHERE ts IS NOT NULL),
stats AS (
  SELECT user_id, SUM(cents) AS tot, COUNT(*) AS n
  FROM obs GROUP BY user_id),
dev AS (
  SELECT o.user_id, o.event_id,
         SUM(o.cents * t.n - t.tot)
           OVER (PARTITION BY o.user_id ORDER BY o.s, o.event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM obs o JOIN stats t ON o.user_id = t.user_id),
peaks AS (
  SELECT user_id, CAST(MAX(abs(cusum)) AS BIGINT) AS peak
  FROM dev GROUP BY user_id)
SELECT d.user_id, p.peak AS max_abs_cusum,
       MIN(d.event_id) AS changepoint_event
FROM dev d JOIN peaks p
  ON d.user_id = p.user_id AND abs(d.cusum) = p.peak
GROUP BY d.user_id, p.peak
"""


@query("q_ts_cusum", _CUSUM_ORACLE)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("s"),
    )
    stats = obs.groupBy("user_id").agg(
        F.sum("cents").alias("tot"), F.count("*").alias("n")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = obs.join(F.broadcast(stats), "user_id").select(
        "user_id",
        "event_id",
        F.sum(F.col("cents") * F.col("n") - F.col("tot")).over(w).alias("cusum"),
    )
    peaks = dev.groupBy("user_id").agg(F.max(F.abs("cusum")).alias("peak"))
    return (
        dev.join(peaks, "user_id")
        .filter(F.abs(F.col("cusum")) == F.col("peak"))
        .groupBy("user_id", F.col("peak").alias("max_abs_cusum"))
        .agg(F.min("event_id").alias("changepoint_event"))
        .select("user_id", "max_abs_cusum", "changepoint_event")
    )


# -- Time-to-event (first click → first subsequent purchase) ---------------
#
# Survival-style funnel timing: per user, the delay from the first click
# to the first purchase at or after it; users who never convert surface
# with NULL delay (censored), not dropped. Two keyed min-aggregates and
# one join — no window over raw events needed.

_TTC_ORACLE = """
WITH first_click AS (
  SELECT user_id, MIN(ts) AS c_ts FROM events
  WHERE event_type = 'click' GROUP BY user_id),
first_purchase AS (
  SELECT f.user_id, MIN(e.ts) AS p_ts
  FROM first_click f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts >= f.c_ts
  GROUP BY f.user_id)
SELECT f.user_id,
       CAST(epoch_us(p.p_ts) - epoch_us(f.c_ts) AS BIGINT) AS delay_us,
       CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END AS censored
FROM first_click f LEFT JOIN first_purchase p ON f.user_id = p.user_id
"""


@query("q_ts_time_to_convert", _TTC_ORACLE)
def q_ts_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    first_purchase = (
        first_click.join(
            e.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_raw")
            ),
            "user_id",
        )
        .filter(F.col("p_raw") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("p_raw").alias("p_ts"))
    )
    return first_click.join(first_purchase, "user_id", "left").select(
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delay_us"),
        F.when(F.col("p_ts").isNull(), 1).otherwise(0).alias("censored"),
    )


# -- Truncated EMA (exponential moving average, fixed-point) ----------------
#
# A true EMA is an order-recursive float fold — unreproducible across
# partitionings and engines. The portable operator: an 8-term truncated
# EMA with alpha=1/4, all weights scaled to the common denominator 4^7 so
# the smoothed value is an exact int64 numerator (cents space) divided
# once at the end. Terms: sum_{i=0..6} 3^i*4^(6-i)*c_{t-i} + 3^7*c_{t-7}
# (the tail term absorbs the remaining geometric mass, so the weights sum
# to exactly 4^7). Only rows with a full 8-event history emit. One keyed
# window per user — scale-safe.

_EMA_DEN = 4**7  # 16384
_EMA_COEF = [3**i * 4 ** (6 - i) for i in range(7)] + [3**7]


def _ema_sql() -> str:
    terms = []
    for i, coef in enumerate(_EMA_COEF):
        src = "cents" if i == 0 else f"LAG(cents, {i}) OVER w"
        terms.append(f"{coef} * {src}")
    return f"""
WITH obs AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS s
  FROM events WHERE ts IS NOT NULL),
lagged AS (
  SELECT user_id, event_id, {' + '.join(terms)} AS num
  FROM obs
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id))
SELECT user_id, event_id, num AS ema_num,
       CAST(num AS DOUBLE) / {_EMA_DEN * 100}.0 AS ema
FROM lagged WHERE num IS NOT NULL
"""


@query("q_ts_ema", _ema_sql())
def q_ts_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("s"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    num = F.lit(None).cast("bigint")
    total = None
    for i, coef in enumerate(_EMA_COEF):
        term = F.lit(coef) * (
            F.col("cents") if i == 0 else F.lag("cents", i).over(w)
        )
        total = term if total is None else total + term
    return (
        obs.withColumn("num", total)
        .filter(F.col("num").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.col("num").alias("ema_num"),
            (F.col("num").cast("double") / F.lit(float(_EMA_DEN * 100))).alias(
                "ema"
            ),
        )
    )


# -- Lag-1 autocorrelation (per series, exact) ------------------------------
#
# r1 = sum_{t>=2} (c_t*n - S)(c_{t-1}*n - S) / sum_t (c_t*n - S)^2 — the
# scaled-integer deviation trick (cents*n - S is exact int64) makes both
# sums order-independent; products can exceed int64 at large n, so they
# accumulate in DECIMAL(38,0) (exact in any order in both engines) with
# ONE double division at the end. One keyed lag window + one grouped agg.

_AUTOCORR_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS s
  FROM events WHERE ts IS NOT NULL),
stats AS (
  SELECT user_id, SUM(cents) AS tot, COUNT(*) AS n
  FROM obs GROUP BY user_id),
dev AS (
  SELECT o.user_id,
         o.cents * t.n - t.tot AS d,
         LAG(o.cents * t.n - t.tot)
           OVER (PARTITION BY o.user_id ORDER BY o.s, o.event_id) AS dprev
  FROM obs o JOIN stats t ON o.user_id = t.user_id)
SELECT user_id,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(d * dprev AS DECIMAL(38,0))) AS DOUBLE)
            / CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS DOUBLE)
            AS DOUBLE) AS r1
FROM dev
GROUP BY user_id
HAVING SUM(CAST(d * d AS DECIMAL(38,0))) <> 0
"""


@query("q_ts_autocorr", _AUTOCORR_ORACLE)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("s"),
    )
    stats = obs.groupBy("user_id").agg(
        F.sum("cents").alias("tot"), F.count("*").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    dev = (
        obs.join(stats, "user_id")
        .withColumn("d", F.col("cents") * F.col("n") - F.col("tot"))
        .withColumn("dprev", F.lag("d").over(w))
    )
    dec = "decimal(38,0)"
    num = F.sum((F.col("d") * F.col("dprev")).cast(dec))
    den = F.sum((F.col("d") * F.col("d")).cast(dec))
    return (
        dev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (num.cast("double") / den.cast("double")).alias("r1"),
            den.alias("__den"),
        )
        .filter(F.col("__den") != 0)
        .drop("__den")
    )


# -- Hourly resample with linear interpolation ------------------------------
#
# Each user's irregular value series resampled to an hourly grid strictly
# inside [min_ts, max_ts]: union the grid points with the observations,
# bracket every grid point with its neighbors via last/first IGNORE NULLS
# over two keyed windows, and interpolate with a single fixed expression
# tree (int64 microsecond gaps; one divide — bit-identical both engines).
# Grid size is bounded by the series' time span, never by row count.

_RESAMPLE_ORACLE = """
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS s,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
spans AS (
  SELECT user_id, MIN(s) AS lo, MAX(s) AS hi FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, g AS s
  FROM spans,
       LATERAL unnest(generate_series(
         (lo // 3600000000 + 1) * 3600000000,
         (hi // 3600000000) * 3600000000,
         3600000000)) t(g)),
u AS (
  SELECT user_id, s, cents, 0 AS is_grid FROM obs
  UNION ALL
  SELECT user_id, s, NULL, 1 FROM grid),
br AS (
  SELECT user_id, s, is_grid,
         LAST_VALUE(cents IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY s, is_grid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
         LAST_VALUE(CASE WHEN cents IS NOT NULL THEN s END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY s, is_grid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
         FIRST_VALUE(cents IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY s, is_grid
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
         FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN s END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY s, is_grid
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns
  FROM u)
SELECT user_id, s AS grid_us,
       CASE WHEN ns = ps THEN CAST(pc AS DOUBLE)
            ELSE CAST(pc AS DOUBLE)
                 + (CAST(nc AS DOUBLE) - CAST(pc AS DOUBLE))
                   * (CAST(s - ps AS DOUBLE) / CAST(ns - ps AS DOUBLE))
       END / 100.0 AS v
FROM br WHERE is_grid = 1
"""

_HOUR_US = 3_600_000_000


@query("q_ts_resample_interp", _RESAMPLE_ORACLE)
def q_ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    spans = obs.groupBy("user_id").agg(
        F.min("s").alias("lo"), F.max("s").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(
                (F.col("lo") / _HOUR_US).cast("bigint") * _HOUR_US + _HOUR_US,
                (F.col("hi") / _HOUR_US).cast("bigint") * _HOUR_US,
                F.lit(_HOUR_US),
            )
        ).alias("s"),
    )
    u = obs.withColumn("is_grid", F.lit(0)).unionByName(
        grid.select(
            "user_id",
            "s",
            F.lit(None).cast("bigint").alias("cents"),
            F.lit(1).alias("is_grid"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("s", "is_grid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # (0, unboundedFollowing) is a SHRINKING frame — O(n²) per key in
    # Spark's window exec. The forward probe runs under the exact
    # reverse ordering as a growing frame instead (same row set).
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("s"), F.desc("is_grid"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_s = F.when(F.col("cents").isNotNull(), F.col("s"))
    br = u.select(
        "user_id",
        "s",
        "is_grid",
        F.last("cents", ignorenulls=True).over(wb).alias("pc"),
        F.last(obs_s, ignorenulls=True).over(wb).alias("ps"),
        F.last("cents", ignorenulls=True).over(wf).alias("nc"),
        F.last(obs_s, ignorenulls=True).over(wf).alias("ns"),
    )
    interp = F.when(
        F.col("ns") == F.col("ps"), F.col("pc").cast("double")
    ).otherwise(
        F.col("pc").cast("double")
        + (F.col("nc").cast("double") - F.col("pc").cast("double"))
        * (
            (F.col("s") - F.col("ps")).cast("double")
            / (F.col("ns") - F.col("ps")).cast("double")
        )
    )
    return br.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("s").alias("grid_us"),
        (interp / F.lit(100.0)).alias("v"),
    )


# -- Hour-of-day seasonality profile ----------------------------------------
#
# Per (event_type, hour-of-day): event count, exact-decimal mean value,
# and the hour's share of the type's total — the seasonal-index /
# diurnal-profile primitive. Two keyed aggregations (hour stats + type
# totals) and a broadcast-sized join; output bounded at 24 x #types.

_SEASONALITY_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         COUNT(*) AS n,
         {sql_dsum('value', 'sum_value')}
  FROM events GROUP BY event_type, hour),
tot AS (
  SELECT event_type, SUM(n) AS tn FROM hourly GROUP BY event_type)
SELECT h.event_type, h.hour, h.n, h.sum_value,
       CAST(h.sum_value / h.n AS DOUBLE) AS mean_value,
       CAST(h.n AS DOUBLE) / t.tn AS hour_share
FROM hourly h JOIN tot t ON h.event_type = t.event_type
"""


@query("q_ts_seasonality", _SEASONALITY_ORACLE)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.hour("ts").alias("hour")
    ).agg(F.count("*").alias("n"), dsum("value", "sum_value"))
    tot = hourly.groupBy("event_type").agg(F.sum("n").alias("tn"))
    return hourly.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour",
        "n",
        "sum_value",
        (F.col("sum_value") / F.col("n")).alias("mean_value"),
        (F.col("n").cast("double") / F.col("tn")).alias("hour_share"),
    )


# -- Gap-rule sessionization (batch) ----------------------------------------
#
# The batch twin of the streaming session window (Q32): a new session
# starts when the gap since the previous event exceeds 30 minutes; the
# session id is the user's session ordinal (keyed lag + keyed running
# sum); per-session aggregates follow. Everything is keyed by user —
# scale-safe at any row count.

_SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSION_GAP_ORACLE = f"""
WITH obs AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL),
flagged AS (
  SELECT *, CASE WHEN s - LAG(s) OVER w > {_SESSION_GAP_US}
                   OR LAG(s) OVER w IS NULL
                 THEN 1 ELSE 0 END AS is_new
  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged)
SELECT user_id, CAST(sess AS BIGINT) AS sess,
       COUNT(*) AS n_events,
       MIN(s) AS start_us, MAX(s) AS end_us,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM sessions GROUP BY user_id, sess
"""


@query("q_ts_session_gap", _SESSION_GAP_ORACLE)
def q_ts_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("s").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("s") - prev) > _SESSION_GAP_US), 1
    ).otherwise(0)
    sess = (
        obs.withColumn("is_new", is_new)
        .withColumn("sess", F.sum("is_new").over(wsum).cast("bigint"))
    )
    return sess.groupBy("user_id", "sess").agg(
        F.count("*").alias("n_events"),
        F.min("s").alias("start_us"),
        F.max("s").alias("end_us"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# -- VWAP (volume-weighted average price per hour) --------------------------
#
# The finance-standard rollup: per (event_type, hour), sum(price*qty)/
# sum(qty) with both sums exact int64 (cents x unit weights) and ONE
# division at the end. Pure map-side-combine aggregation. Here "volume"
# is the event count weight and "price" the cents value — the shape, not
# the ticker, is the operator.

_VWAP_ORACLE = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CAST(1 + user_id % 5 AS BIGINT) AS vol
  FROM events)
SELECT event_type, hour,
       CAST(SUM(vol) AS BIGINT) AS total_vol,
       CAST(SUM(cents * vol) AS BIGINT) AS turnover_cents,
       CAST(SUM(cents * vol) AS DOUBLE) / SUM(vol) / 100.0 AS vwap
FROM obs GROUP BY event_type, hour
"""


@query("q_ts_vwap", _VWAP_ORACLE)
def q_ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (1 + F.col("user_id") % 5).cast("bigint").alias("vol"),
    )
    return obs.groupBy("event_type", "hour").agg(
        F.sum("vol").cast("bigint").alias("total_vol"),
        F.sum(F.col("cents") * F.col("vol"))
        .cast("bigint")
        .alias("turnover_cents"),
        (
            F.sum(F.col("cents") * F.col("vol")).cast("double")
            / F.sum("vol")
            / 100.0
        ).alias("vwap"),
    )


# -- Coverage-gap detection --------------------------------------------------
#
# The dual of gap-filling: per user, which hourly slots between the
# series' first and last observation have NO event. Calendar spine via
# sequence (bounded by the time span), anti-joined against observed
# hours — both keyed by user. Emits per-user gap counts plus the longest
# gap run (keyed window over the bounded spine).

_GAP_DETECT_ORACLE = """
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS h
  FROM events GROUP BY user_id, h),
spans AS (
  SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM obs GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM spans),
flagged AS (
  SELECT s.user_id, s.h,
         CASE WHEN o.h IS NULL THEN 1 ELSE 0 END AS missing
  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.h = o.h),
runs AS (
  SELECT user_id, h, missing,
         SUM(1 - missing) OVER (PARTITION BY user_id ORDER BY h
                                ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged)
SELECT user_id,
       CAST(SUM(missing) AS BIGINT) AS n_missing_hours,
       CAST(COUNT(*) AS BIGINT) AS n_slots,
       CAST(COALESCE(MAX(run_len), 0) AS BIGINT) AS longest_gap
FROM runs
LEFT JOIN (
  SELECT user_id AS u2, grp AS g2, COUNT(*) AS run_len
  FROM runs WHERE missing = 1 GROUP BY u2, g2
) r ON runs.user_id = r.u2 AND runs.grp = r.g2 AND runs.missing = 1
GROUP BY user_id
"""


@query("q_ts_gap_detect", _GAP_DETECT_ORACLE)
def q_ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = (
        e.select("user_id", F.date_trunc("hour", "ts").alias("h")).distinct()
    )
    spans = obs.groupBy("user_id").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    flagged = spine.join(
        obs.withColumn("seen", F.lit(1)), ["user_id", "h"], "left"
    ).select(
        "user_id",
        "h",
        F.when(F.col("seen").isNull(), 1).otherwise(0).alias("missing"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.withColumn("grp", F.sum(1 - F.col("missing")).over(w))
    run_lens = (
        runs.filter(F.col("missing") == 1)
        .groupBy(F.col("user_id").alias("u2"), F.col("grp").alias("g2"))
        .agg(F.count("*").alias("run_len"))
    )
    joined = runs.join(
        run_lens,
        (runs.user_id == run_lens.u2)
        & (runs.grp == run_lens.g2)
        & (runs.missing == 1),
        "left",
    )
    return joined.groupBy("user_id").agg(
        F.sum("missing").cast("bigint").alias("n_missing_hours"),
        F.count(F.lit(1)).cast("bigint").alias("n_slots"),
        F.coalesce(F.max("run_len"), F.lit(0))
        .cast("bigint")
        .alias("longest_gap"),
    )


# -- Bollinger bands (trailing mean ± 2σ, exact-integer moments) ------------
#
# Rolling mean and population stddev of the trailing 8 observations per
# user, from EXACT integer rolling sums (sum, sum-of-squares over a
# constant frame): mean = s/k, sigma = sqrt(k*sq - s^2)/k. sqrt is
# IEEE-correctly-rounded in both engines (unlike pow/exp/log), so the
# bands hash-match. Keyed constant-size frames — scale-safe.

_BOLLINGER_ORACLE = """
WITH obs AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL),
roll AS (
  SELECT user_id, event_id,
         SUM(cents) OVER w AS rs,
         SUM(cents * cents) OVER w AS rsq,
         COUNT(*) OVER w AS k
  FROM obs
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, CAST(k AS BIGINT) AS k,
       CAST(rs AS DOUBLE) / k / 100.0 AS mid,
       CAST(rs AS DOUBLE) / k / 100.0
         + 2.0 * (sqrt(CAST(k * rsq - rs * rs AS DOUBLE)) / k) / 100.0
         AS upper_band,
       CAST(rs AS DOUBLE) / k / 100.0
         - 2.0 * (sqrt(CAST(k * rsq - rs * rs AS DOUBLE)) / k) / 100.0
         AS lower_band
FROM roll
"""


@query("q_ts_bollinger", _BOLLINGER_ORACLE)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    obs = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(-7, 0)
    )
    roll = obs.select(
        "user_id",
        "event_id",
        F.sum("cents").over(w).alias("rs"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("rsq"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    mid = F.col("rs").cast("double") / F.col("k") / 100.0
    sigma = (
        F.sqrt((F.col("k") * F.col("rsq") - F.col("rs") * F.col("rs")).cast("double"))
        / F.col("k")
        / 100.0
    )
    return roll.select(
        "user_id",
        "event_id",
        F.col("k").cast("bigint").alias("k"),
        mid.alias("mid"),
        (mid + 2.0 * sigma).alias("upper_band"),
        (mid - 2.0 * sigma).alias("lower_band"),
    )


# -- X162 cascading time-bucket rollup (continuous-aggregate pattern) ------
#
# The hypertable/continuous-aggregate maintenance pattern: minutely
# aggregates roll up into hourly, hourly into daily — and the driver
# check proves the CASCADE equals a direct daily aggregation of the raw
# stream, i.e. that (count, sum, min, max) compose losslessly through
# re-aggregation.  That mergeability is exactly what lets a 100 TB
# deployment maintain cheap incremental minutely partials and answer
# coarse-grained queries from them instead of rescanning raw events.
# Values are integer cents so every level is bit-exact.

_ROLLUP_CASCADE_ORACLE = """
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
       MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents
FROM events
GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
"""


@query("q_ts_rollup_cascade", _ROLLUP_CASCADE_ORACLE)
def q_ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    minutely = e.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )
    hourly = minutely.groupBy(
        "event_type", F.date_trunc("hour", "minute").alias("hour")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )
    return hourly.groupBy(
        "event_type", F.date_trunc("day", "hour").cast("date").alias("day")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )


# -- X163 first/last-touch attribution -------------------------------------
#
# Marketing-style conversion attribution: every 'purchase' is attributed
# to the FIRST and the LAST 'click' of the same user in the 72 h window
# before the purchase.  One as-of-style shape expressed as a keyed
# band join + min/max_by aggregation — per-user partitioning, no global
# state.  Timestamps compare at native µs precision; the attribution gap
# is exact µs.

_ATTRIB_WINDOW_US = 72 * 3600 * 1000000

_ATTRIBUTION_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'),
joined AS (
  SELECT p.p_id, p.user_id, p.p_ts, c.c_id, c.c_ts
  FROM purchases p JOIN clicks c
    ON p.user_id = c.user_id
   AND c.c_ts <= p.p_ts
   AND epoch_us(p.p_ts) - epoch_us(c.c_ts) <= {_ATTRIB_WINDOW_US})
SELECT p_id, user_id,
       MIN(c_ts) AS first_touch_ts,
       MAX(c_ts) AS last_touch_ts,
       CAST(MIN(epoch_us(p_ts) - epoch_us(c_ts)) AS BIGINT)
         AS last_touch_gap_us,
       COUNT(*) AS n_touches
FROM joined
GROUP BY p_id, user_id
"""


@query("q_ts_attribution", _ATTRIBUTION_ORACLE)
def q_ts_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.unix_micros("p_ts") - F.unix_micros("c_ts")
            <= F.lit(_ATTRIB_WINDOW_US)
        ),
    )
    return joined.groupBy("p_id", "user_id").agg(
        F.min("c_ts").alias("first_touch_ts"),
        F.max("c_ts").alias("last_touch_ts"),
        F.min(F.unix_micros("p_ts") - F.unix_micros("c_ts"))
        .cast("bigint")
        .alias("last_touch_gap_us"),
        F.count("*").alias("n_touches"),
    )


# -- X168 max-triangle visual downsampling (LTTB-style) --------------------
#
# Largest-Triangle downsampling for time-series visualization: each
# series (event_type) is reduced to 8 points — the first, the last, and
# for each of 6 equal-count middle buckets the point whose triangle with
# the NEIGHBOR BUCKET MEANS has maximal area.  This is the parallel
# variant of LTTB (anchoring on bucket means instead of the previously
# selected point), which drops LTTB's sequential left-to-right dependency
# so every bucket's argmax computes independently — one keyed window +
# two keyed joins, no cross-bucket chain.  All arithmetic is integer:
# seconds since a fixed anchor, cents, floored integer bucket means, and
# the |cross product| area score (≤ ~1.5e11, overflow-safe at any scale);
# area ties break to the earliest point.

_LTTB_B = 8

_LTTB_ORACLE = f"""
WITH pts AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
              AS BIGINT) // 1000000 AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS v,
         event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE ts IS NOT NULL),
bucketed AS (
  SELECT *, (rn - 1) * {_LTTB_B} // n AS bucket FROM pts),
stats AS (
  SELECT event_type, bucket,
         CAST(SUM(t) // COUNT(*) AS BIGINT) AS mt,
         CAST(SUM(v) // COUNT(*) AS BIGINT) AS mv
  FROM bucketed GROUP BY event_type, bucket),
scored AS (
  SELECT b.event_type, b.bucket, b.t, b.v, b.event_id,
         abs((p.mt - b.t) * (n.mv - b.v) - (n.mt - b.t) * (p.mv - b.v))
           AS area2,
         ROW_NUMBER() OVER (
           PARTITION BY b.event_type, b.bucket
           ORDER BY abs((p.mt - b.t) * (n.mv - b.v)
                        - (n.mt - b.t) * (p.mv - b.v)) DESC,
                    b.t, b.event_id) AS pick
  FROM bucketed b
  JOIN stats p ON p.event_type = b.event_type AND p.bucket = b.bucket - 1
  JOIN stats n ON n.event_type = b.event_type AND n.bucket = b.bucket + 1
  WHERE b.bucket BETWEEN 1 AND {_LTTB_B} - 2),
endpoints AS (
  SELECT event_type, bucket, t, v, event_id, CAST(0 AS BIGINT) AS area2
  FROM bucketed WHERE rn = 1 OR rn = n)
SELECT event_type, bucket, t, v, event_id, CAST(area2 AS BIGINT) AS area2
FROM scored WHERE pick = 1
UNION ALL
SELECT * FROM endpoints
"""


@query("q_ts_lttb_downsample", _LTTB_ORACLE)
def q_ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    anchor = F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wn = Window.partitionBy("event_type")
    pts = (
        e.select(
            "event_type",
            "ts",
            F.expr(
                "(unix_micros(ts)"
                " - unix_micros(timestamp'2024-01-01 00:00:00'))"
                " DIV 1000000"
            ).alias("t"),
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
            "event_id",
        )
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("n", F.count("*").over(wn))
        .drop("ts")
    )
    bucketed = pts.withColumn(
        "bucket", F.expr(f"(rn - 1) * {_LTTB_B} DIV n")
    )
    stats = bucketed.groupBy("event_type", "bucket").agg(
        F.expr("sum(t) DIV count(*)").alias("mt"),
        F.expr("sum(v) DIV count(*)").alias("mv"),
    )
    p = stats.select(
        F.col("event_type").alias("p_et"),
        (F.col("bucket") + 1).alias("p_bk"),
        F.col("mt").alias("pmt"),
        F.col("mv").alias("pmv"),
    )
    nx = stats.select(
        F.col("event_type").alias("n_et"),
        (F.col("bucket") - 1).alias("n_bk"),
        F.col("mt").alias("nmt"),
        F.col("mv").alias("nmv"),
    )
    mid = (
        bucketed.filter(
            (F.col("bucket") >= 1) & (F.col("bucket") <= _LTTB_B - 2)
        )
        .join(
            p,
            (F.col("event_type") == F.col("p_et"))
            & (F.col("bucket") == F.col("p_bk")),
        )
        .join(
            nx,
            (F.col("event_type") == F.col("n_et"))
            & (F.col("bucket") == F.col("n_bk")),
        )
        .withColumn(
            "area2",
            F.abs(
                (F.col("pmt") - F.col("t")) * (F.col("nmv") - F.col("v"))
                - (F.col("nmt") - F.col("t")) * (F.col("pmv") - F.col("v"))
            ),
        )
    )
    wpick = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("area2"), "t", "event_id"
    )
    picked = (
        mid.withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type", "bucket", "t", "v", "event_id",
            F.col("area2").cast("bigint").alias("area2"),
        )
    )
    ends = bucketed.filter(
        (F.col("rn") == 1) | (F.col("rn") == F.col("n"))
    ).select(
        "event_type", "bucket", "t", "v", "event_id",
        F.lit(0).cast("bigint").alias("area2"),
    )
    return picked.unionByName(ends)


# -- X190 sequential pattern detection (MATCH_RECOGNIZE-lite) --------------
#
# Spark has no MATCH_RECOGNIZE; the equivalent fixed-length pattern
# compiles to LEAD windows: a V-shape is two strict drops followed by a
# strict rise in a user's consecutive event values (integer cents).
# One keyed window, pattern predicate as a plain boolean — at any scale
# this is a single per-user sort, the same cost as any session
# analysis.  Output: users with at least one V and their match count.

_VSHAPE_ORACLE = """
WITH seq AS (
  SELECT user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v0,
         LEAD(CAST(ROUND(value * 100) AS BIGINT), 1)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v1,
         LEAD(CAST(ROUND(value * 100) AS BIGINT), 2)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v2,
         LEAD(CAST(ROUND(value * 100) AS BIGINT), 3)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v3
  FROM events WHERE ts IS NOT NULL)
SELECT user_id, COUNT(*) AS n_vshapes
FROM seq
WHERE v0 > v1 AND v1 > v2 AND v2 < v3
GROUP BY user_id
"""


@query("q_ts_pattern_vshape", _VSHAPE_ORACLE)
def q_ts_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("bigint")
    seq = e.select(
        "user_id",
        cents.alias("v0"),
        F.lead(cents, 1).over(w).alias("v1"),
        F.lead(cents, 2).over(w).alias("v2"),
        F.lead(cents, 3).over(w).alias("v3"),
    )
    return (
        seq.filter(
            (F.col("v0") > F.col("v1"))
            & (F.col("v1") > F.col("v2"))
            & (F.col("v2") < F.col("v3"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_vshapes"))
    )


# -- X191 A/B test two-proportion z-statistic ------------------------------
#
# Experimentation analytics: users hash-bucketed into A/B, conversion =
# a heavy purchaser (≥ 14 purchase events — the corpus median, so both
# outcomes occur in every bucket at every SF).  The pooled two-proportion z-statistic
# derives from exact integer counts through one fixed expression tree
# (divisions + one sqrt — IEEE-correctly-rounded operations, so both
# engines produce the identical double).  One keyed aggregation; the
# z-score math runs on a 2-row frame.

_ABTEST_ORACLE = """
WITH users AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS bucket,
         CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) >= 14
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id),
sides AS (
  SELECT bucket, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS k
  FROM users GROUP BY bucket),
wide AS (
  SELECT MAX(CASE WHEN bucket = 0 THEN n END) AS n_a,
         MAX(CASE WHEN bucket = 0 THEN k END) AS k_a,
         MAX(CASE WHEN bucket = 1 THEN n END) AS n_b,
         MAX(CASE WHEN bucket = 1 THEN k END) AS k_b
  FROM sides)
SELECT n_a, k_a, n_b, k_b,
       (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b)
       / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
              * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
              * (1.0 / n_a + 1.0 / n_b)) AS z
FROM wide
"""


@query("q_ml_ab_ztest", _ABTEST_ORACLE)
def q_ml_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 2
    )
    users = (
        e.groupBy("user_id")
        .agg(
            (
                F.count(F.when(F.col("event_type") == "purchase", 1)) >= 14
            )
            .cast("int")
            .alias("conv")
        )
        .withColumn("bucket", bucket)
    )
    sides = users.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("conv").cast("bigint").alias("k")
    )
    wide = sides.agg(
        F.max(F.when(F.col("bucket") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("bucket") == 0, F.col("k"))).alias("k_a"),
        F.max(F.when(F.col("bucket") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("bucket") == 1, F.col("k"))).alias("k_b"),
    )
    p_pool = (F.col("k_a") + F.col("k_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (
        F.col("k_a").cast("double") / F.col("n_a")
        - F.col("k_b").cast("double") / F.col("n_b")
    ) / F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return wide.select("n_a", "k_a", "n_b", "k_b", z.alias("z"))


# -- X196 XmR control chart (statistical process control) ------------------
#
# Individuals/moving-range chart: per event_type, the moving range
# MR_i = |x_i − x_{i-1}| (one LAG window), control limits at
# mean ± 2.66·MR̄ computed in exact integer micro-cents (2.66 = 266/100,
# all sums exact, one final DIV), and the out-of-control count.  The
# whole chart is two keyed aggregations over one sorted pass.

_XMR_ORACLE = """
WITH seq AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS c,
         ABS(CAST(ROUND(value * 100) AS BIGINT)
             - LAG(CAST(ROUND(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id)) AS mr
  FROM events WHERE ts IS NOT NULL),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS sum_c,
         CAST(SUM(mr) AS BIGINT) AS sum_mr,
         COUNT(mr) AS n_mr
  FROM seq GROUP BY event_type),
limits AS (
  SELECT event_type, n, sum_c, sum_mr,
         sum_c * 100 // n AS mean_centi,
         (sum_c * 100 // n) + 266 * sum_mr // n_mr AS ucl_centi,
         (sum_c * 100 // n) - 266 * sum_mr // n_mr AS lcl_centi
  FROM stats)
SELECT l.event_type, l.n, l.mean_centi, l.ucl_centi, l.lcl_centi,
       CAST(SUM(CASE WHEN s.c * 100 > l.ucl_centi
                       OR s.c * 100 < l.lcl_centi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_control
FROM limits l JOIN seq s ON s.event_type = l.event_type
GROUP BY l.event_type, l.n, l.mean_centi, l.ucl_centi, l.lcl_centi
"""


@query("q_ts_xmr_control", _XMR_ORACLE)
def q_ts_xmr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    seq = e.select(
        "event_type",
        c.alias("c"),
        F.abs(c - F.lag(c).over(w)).alias("mr"),
    )
    stats = seq.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("bigint").alias("sum_c"),
        F.sum("mr").cast("bigint").alias("sum_mr"),
        F.count("mr").alias("n_mr"),
    )
    limits = stats.select(
        "event_type",
        "n",
        "sum_c",
        "sum_mr",
        F.expr("sum_c * 100 DIV n").alias("mean_centi"),
        F.expr("(sum_c * 100 DIV n) + 266 * sum_mr DIV n_mr").alias(
            "ucl_centi"
        ),
        F.expr("(sum_c * 100 DIV n) - 266 * sum_mr DIV n_mr").alias(
            "lcl_centi"
        ),
    )
    joined = seq.join(F.broadcast(limits), "event_type")
    return joined.groupBy(
        "event_type", "n", "mean_centi", "ucl_centi", "lcl_centi"
    ).agg(
        F.sum(
            F.when(
                (F.col("c") * 100 > F.col("ucl_centi"))
                | (F.col("c") * 100 < F.col("lcl_centi")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_out_of_control")
    )


# -- X197 index-100 series rebasing ----------------------------------------
#
# The BI normalization: every series rebased so its first observation
# reads 100, later points as exact per-mille of the base
# (value*100000 DIV base) — comparable trajectories across series with
# different absolute levels.  first_value over a keyed window; output
# thinned to every 100th event for bounded rows.

_REBASE_ORACLE = """
WITH seq AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS c,
         FIRST_VALUE(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS base,
         ROW_NUMBER()
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL)
SELECT event_type, event_id, c, base,
       c * 100000 // GREATEST(base, 1) AS index_milli
FROM seq WHERE rn % 100 = 1
"""


@query("q_ts_rebase_index", _REBASE_ORACLE)
def q_ts_rebase_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    seq = e.select(
        "event_type",
        "event_id",
        c.alias("c"),
        F.first_value(c).over(w).alias("base"),
        F.row_number().over(w).alias("rn"),
    )
    return seq.filter(F.col("rn") % 100 == 1).select(
        "event_type",
        "event_id",
        "c",
        "base",
        F.expr("c * 100000 DIV greatest(base, 1)").alias("index_milli"),
    )


# -- X200 ordered batch funnel ---------------------------------------------
#
# Product-analytics funnel with STRICT ordering: a user reaches step 2
# only with a click AFTER their first view, step 3 only with a purchase
# AFTER that first qualifying click.  Three keyed aggregations chained
# by joins (each pass conditions on the previous step's timestamp) —
# never a per-user sort of all events.  Output: per-step user counts.

_FUNNEL_BATCH_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id)
SELECT 'step1_view' AS step, COUNT(*) AS n_users FROM v
UNION ALL SELECT 'step2_click', COUNT(*) FROM c
UNION ALL SELECT 'step3_purchase', COUNT(*) FROM p
"""


@query("q_ts_funnel_batch", _FUNNEL_BATCH_ORACLE)
def q_ts_funnel_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def n(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("step"), F.count("*").alias("n_users")
        ).select("step", "n_users")

    return (
        n(v, "step1_view")
        .unionByName(n(c, "step2_click"))
        .unionByName(n(p, "step3_purchase"))
    )


# -- X201 cumulative distinct users (growth curve) -------------------------
#
# Running COUNT(DISTINCT user) per arrival hour — computed the
# scale-safe way: distinct-by-first-seen (one keyed aggregate finds
# each user's first hour), then a cumulative sum over the BOUNDED hour
# series, never a distinct-over-window across raw events.

_CUM_USERS_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS d
  FROM events GROUP BY user_id),
per_day AS (
  SELECT d, COUNT(*) AS n_new FROM first_seen GROUP BY d)
SELECT CAST(d AS TIMESTAMP) AS d, n_new,
       CAST(SUM(n_new) OVER (ORDER BY d) AS BIGINT) AS cum_users
FROM per_day
"""


@query("q_ts_cumulative_users", _CUM_USERS_ORACLE)
def q_ts_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("d")
    )
    per_day = first_seen.groupBy("d").agg(F.count("*").alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cum_users")
    )


# -- X207 SAX symbolic discretization --------------------------------------
#
# Symbolic Aggregate approXimation, rank-based and fully integer: each
# series' hourly mean (exact cents via DIV) is mapped to one of 4
# symbols by the series' own quartile cutpoints (percentile_disc on the
# hourly means — actual elements, no interpolation), and consecutive
# symbols concatenate into the series' SAX word.  Downstream, equal
# words = candidate similar series; here the word and its symbol
# histogram are the checked output.  Two keyed aggregations + one
# bounded per-series window.

_SAX_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           // COUNT(*) AS mean_cents
  FROM events WHERE ts IS NOT NULL GROUP BY event_type, date_trunc('hour', ts)),
cuts AS (
  SELECT event_type,
         quantile_disc(mean_cents, 0.25) AS q1,
         quantile_disc(mean_cents, 0.50) AS q2,
         quantile_disc(mean_cents, 0.75) AS q3
  FROM hourly GROUP BY event_type),
symbols AS (
  SELECT h.event_type, h.h,
         CASE WHEN h.mean_cents <= c.q1 THEN 'a'
              WHEN h.mean_cents <= c.q2 THEN 'b'
              WHEN h.mean_cents <= c.q3 THEN 'c'
              ELSE 'd' END AS sym
  FROM hourly h JOIN cuts c ON h.event_type = c.event_type)
SELECT event_type,
       string_agg(sym, '' ORDER BY h) AS sax_word,
       CAST(COUNT(CASE WHEN sym = 'a' THEN 1 END) AS BIGINT) AS n_a,
       CAST(COUNT(CASE WHEN sym = 'b' THEN 1 END) AS BIGINT) AS n_b,
       CAST(COUNT(CASE WHEN sym = 'c' THEN 1 END) AS BIGINT) AS n_c,
       CAST(COUNT(CASE WHEN sym = 'd' THEN 1 END) AS BIGINT) AS n_d
FROM symbols GROUP BY event_type
"""


@query("q_ts_sax", _SAX_ORACLE)
def q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.expr(
                "cast(sum(cast(round(value * 100) as bigint)) as bigint)"
                " DIV count(*)"
            ).alias("mean_cents")
        )
    )
    cuts = hourly.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY mean_cents)")
        .alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY mean_cents)")
        .alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY mean_cents)")
        .alias("q3"),
    )
    sym = (
        hourly.join(cuts, "event_type")
        .select(
            "event_type",
            "h",
            F.when(F.col("mean_cents") <= F.col("q1"), "a")
            .when(F.col("mean_cents") <= F.col("q2"), "b")
            .when(F.col("mean_cents") <= F.col("q3"), "c")
            .otherwise("d")
            .alias("sym"),
        )
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    word = sym.withColumn("rn", F.row_number().over(wo)).groupBy(
        "event_type"
    ).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(rn, sym))),"
            " x -> x.sym), '')"
        ).alias("sax_word"),
        F.count(F.when(F.col("sym") == "a", 1)).cast("bigint").alias("n_a"),
        F.count(F.when(F.col("sym") == "b", 1)).cast("bigint").alias("n_b"),
        F.count(F.when(F.col("sym") == "c", 1)).cast("bigint").alias("n_c"),
        F.count(F.when(F.col("sym") == "d", 1)).cast("bigint").alias("n_d"),
    )
    return word


# -- X212 forecast evaluation (persistence baseline, WAPE/MAE/bias) --------
#
# The metrics layer every forecasting pipeline needs, over the
# persistence ("naive last-value") baseline: forecast(h) = actual(h−1)
# per series, then WAPE = Σ|err|/Σ|actual|, MAE, and signed bias — all
# from exact integer cent sums, ratios in milli-units via single DIVs.
# One keyed window (the lag) + one keyed aggregate.

_FORECAST_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY event_type, date_trunc('hour', ts)),
paired AS (
  SELECT event_type, h, c,
         LAG(c) OVER (PARTITION BY event_type ORDER BY h) AS f
  FROM hourly)
SELECT event_type,
       COUNT(*) AS n_points,
       CAST(SUM(ABS(c - f)) AS BIGINT) AS sum_abs_err,
       CAST(SUM(c - f) AS BIGINT) AS sum_err,
       CAST(SUM(ABS(c - f)) * 1000 // SUM(ABS(c)) AS BIGINT) AS wape_milli,
       CAST(SUM(ABS(c - f)) // COUNT(*) AS BIGINT) AS mae_cents
FROM paired WHERE f IS NOT NULL
GROUP BY event_type
"""


@query("q_ts_forecast_eval", _FORECAST_ORACLE)
def q_ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    paired = hourly.withColumn("f", F.lag("c").over(w)).filter(
        F.col("f").isNotNull()
    )
    return paired.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.sum(F.abs(F.col("c") - F.col("f"))).cast("bigint").alias(
            "sum_abs_err"
        ),
        F.sum(F.col("c") - F.col("f")).cast("bigint").alias("sum_err"),
        F.expr(
            "cast(sum(abs(c - f)) * 1000 DIV sum(abs(c)) as bigint)"
        ).alias("wape_milli"),
        F.expr("cast(sum(abs(c - f)) DIV count(*) as bigint)").alias(
            "mae_cents"
        ),
    )


# -- X216 maximum drawdown -------------------------------------------------
#
# Per event-type series: treat the running total of event values within a
# day as an equity curve; drawdown at a point is (running peak − equity),
# and the headline number is each series' worst drawdown with the day it
# happened. Arithmetic is integer cents end-to-end; the intraday
# cumsum/running-max windows are KEYED by (event_type, day) — the
# hypertable segment granularity every other ts query here uses — so no
# unbounded unpartitioned window appears at any scale. Ties (same worst
# drawdown on several days) pin to the earliest day.

_DRAWDOWN_ORACLE = """
WITH pts AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
equity_t AS (
  SELECT event_type, day, ts, event_id,
         CAST(SUM(cents) OVER (PARTITION BY event_type, day
                               ORDER BY ts, event_id) AS BIGINT) AS equity
  FROM pts),
curve AS (
  SELECT event_type, day, equity,
         CAST(MAX(equity) OVER (PARTITION BY event_type, day
                                ORDER BY ts, event_id) AS BIGINT) AS peak
  FROM equity_t),
daily AS (
  SELECT event_type, day,
         CAST(MAX(peak - equity) AS BIGINT) AS dd
  FROM curve GROUP BY event_type, day)
SELECT event_type,
       CAST(MAX(dd) AS BIGINT) AS max_drawdown_cents,
       MIN(CASE WHEN dd = mx THEN day END) AS worst_day
FROM (SELECT *, MAX(dd) OVER (PARTITION BY event_type) AS mx FROM daily) t
GROUP BY event_type
"""


@query("q_ts_drawdown", _DRAWDOWN_ORACLE)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Running max follows the SAME (ts, event_id) order as the cumsum, so
    # both ride one sort within the keyed partition.
    curve = (
        pts.withColumn(
            "equity", F.sum("cents").over(w).cast("bigint")
        )
        .withColumn("peak", F.max("equity").over(w).cast("bigint"))
        .select("event_type", "day", "equity", "peak")
    )
    daily = curve.groupBy("event_type", "day").agg(
        F.max(F.col("peak") - F.col("equity")).cast("bigint").alias("dd")
    )
    w_mx = Window.partitionBy("event_type")
    return (
        daily.withColumn("mx", F.max("dd").over(w_mx))
        .groupBy("event_type")
        .agg(
            F.max("dd").cast("bigint").alias("max_drawdown_cents"),
            F.min(
                F.when(F.col("dd") == F.col("mx"), F.col("day"))
            ).alias("worst_day"),
        )
    )


# -- X217 period-over-period growth ------------------------------------------
#
# Period-over-period reporting: daily revenue per event type joined to
# the previous calendar day (an equi join on the shifted day key — no
# window at all, so consecutive periods need not be adjacent rows and the
# plan is one keyed shuffle; the same shape serves weekly or monthly
# periods). Growth is signed per-mille fixed point with
# SIGN·(ABS·1000 DIV prev) so Spark's truncating DIV and DuckDB's //
# agree on negative deltas too.

_POP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day)
SELECT cur.event_type, cur.day,
       cur.cents AS rev_cents,
       prev.cents AS prev_cents,
       CAST(CASE WHEN cur.cents >= prev.cents THEN 1 ELSE -1 END
            * (ABS(cur.cents - prev.cents) * 1000 // prev.cents)
            AS BIGINT) AS growth_pml
FROM daily cur
JOIN daily prev
  ON prev.event_type = cur.event_type
 AND cur.day = prev.day + INTERVAL 1 DAY
WHERE prev.cents > 0
"""


@query("q_ts_pop_growth", _POP_ORACLE)
def q_ts_pop_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    cur = daily.select(
        "event_type", "day", F.col("cents").alias("rev_cents")
    )
    prev = daily.select(
        F.col("event_type").alias("p_type"),
        F.date_add(F.col("day"), 1).alias("p_next"),
        F.col("cents").alias("prev_cents"),
    ).filter(F.col("prev_cents") > 0)
    j = cur.join(
        prev,
        (F.col("p_type") == F.col("event_type"))
        & (F.col("p_next") == F.col("day")),
    )
    growth = F.when(
        F.col("rev_cents") >= F.col("prev_cents"), F.lit(1)
    ).otherwise(F.lit(-1)) * F.expr(
        "ABS(rev_cents - prev_cents) * 1000 DIV prev_cents"
    )
    return j.select(
        "event_type",
        "day",
        "rev_cents",
        "prev_cents",
        growth.cast("bigint").alias("growth_pml"),
    )


# -- X233 Theil–Sen robust trend (median of pairwise slopes) ----------------
#
# The robust regression slope: per key, the lower median of all pairwise
# slopes of the daily series. The pairwise self-join is KEYED (event_type)
# and each key's series is calendar-bounded (one row per day), so the
# quadratic blowup is per-key-bounded — the canonical way to run Theil–Sen
# distributed: O(days²) per key, never O(rows²) global. Slopes are exact
# integers: sign-split floor division (Spark DIV truncates, DuckDB //
# floors — splitting sign makes both compute sign·(|Δy|·10⁶ div Δx)), and
# the lower median is a deterministic row_number pick over a keyed window.

_THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
           AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
slopes AS (
  SELECT a.event_type,
         CASE WHEN b.y >= a.y THEN 1 ELSE -1 END
           * (ABS(b.y - a.y) * 1000000 // (b.x - a.x)) AS slope_ppm
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.x > a.x),
ranked AS (
  SELECT event_type, slope_ppm,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope_ppm) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM slopes)
SELECT event_type, CAST(m AS BIGINT) AS n_slopes,
       CAST(slope_ppm AS BIGINT) AS median_slope_ppm
FROM ranked WHERE rn = (m + 1) // 2
"""


@query("q_ts_theil_sen", _THEIL_SEN_ORACLE)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("x"),
    ).agg(F.count("*").cast("bigint").alias("y"))
    a = daily.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        "event_type", F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xb") > F.col("xa"))
        .select(
            "event_type",
            (
                F.when(F.col("yb") >= F.col("ya"), F.lit(1)).otherwise(
                    F.lit(-1)
                )
                * F.expr("ABS(yb - ya) * 1000000 DIV (xb - xa)")
            ).alias("slope_ppm"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_ppm")
    wc = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope_ppm",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("m"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(m + 1) DIV 2")
    ).select(
        "event_type",
        F.col("m").cast("bigint").alias("n_slopes"),
        F.col("slope_ppm").cast("bigint").alias("median_slope_ppm"),
    )


# -- X234 seasonal decomposition (trend / seasonal / residual) --------------
#
# Classical additive decomposition with a known period (weekly, 7): trend
# is a centered 7-observation moving average (full frames only), seasonal
# is the per-phase mean of the detrended series, residual is the rest.
# Every window is KEYED by (event_type) and ordered by day — at 100 TB the
# per-key series stays calendar-bounded, so no unpartitioned window
# appears anywhere. Arithmetic: cents-integer sums; the two divisions
# (trend by 7, phase mean by its count) run as mirrored IEEE double
# FLOORs — identical operand bits in both engines → identical results.

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
           AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
win AS (
  SELECT event_type, day, cents,
         SUM(cents) OVER w AS s7, COUNT(*) OVER w AS c7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
trended AS (
  SELECT event_type, day, cents,
         CAST(FLOOR(CAST(s7 AS DOUBLE) / 7) AS BIGINT) AS trend,
         cents - CAST(FLOOR(CAST(s7 AS DOUBLE) / 7) AS BIGINT) AS detr
  FROM win WHERE c7 = 7),
seasonal AS (
  SELECT event_type, day % 7 AS phase,
         CAST(FLOOR(CAST(SUM(detr) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS seas
  FROM trended GROUP BY 1, 2)
SELECT t.event_type, t.day, t.cents, t.trend, s.seas AS seasonal,
       t.detr - s.seas AS residual
FROM trended t
JOIN seasonal s ON s.event_type = t.event_type AND s.phase = t.day % 7
"""


@query("q_ts_seasonal_decompose", _SEASONAL_ORACLE)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    win = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).alias("s7"),
        F.count("*").over(w).alias("c7"),
    )
    trend = F.floor(F.col("s7").cast("double") / F.lit(7)).cast("bigint")
    trended = win.filter(F.col("c7") == 7).select(
        "event_type",
        "day",
        "cents",
        trend.alias("trend"),
        (F.col("cents") - trend).alias("detr"),
    )
    seasonal = trended.groupBy(
        F.col("event_type").alias("s_et"), (F.col("day") % 7).alias("phase")
    ).agg(
        F.floor(F.sum("detr").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("seas")
    )
    out = trended.join(
        F.broadcast(seasonal),
        (F.col("event_type") == F.col("s_et"))
        & (F.col("day") % 7 == F.col("phase")),
    )
    return out.select(
        "event_type",
        "day",
        "cents",
        "trend",
        F.col("seas").alias("seasonal"),
        (F.col("detr") - F.col("seas")).alias("residual"),
    )


# -- X244 Holt linear exponential smoothing (stateful recurrence) -----------
#
# Double exponential smoothing (level + trend) is a SEQUENTIAL per-key
# recurrence — the one shape declarative plans cannot express. The
# Spark-idiomatic escape hatch: ``applyInPandas`` per key, Arrow-batched,
# with the keyed partitioning doing the distribution (each key's
# calendar-bounded series fits one task; 100 TB of keys parallelize
# across executors). α = β = ½ keeps the recurrence EXACT in integers:
#   l_t = trunc((y_t + l_{t−1} + b_{t−1}) / 2)
#   b_t = trunc((b_{t−1} + l_t − l_{t−1}) / 2)
# The halving is sign-split TRUNCATING division (DuckDB ``//``
# truncates on integers; Python mirrors with sign·(|x|//2)), so the
# recursive-CTE oracle replays the recurrence bit-for-bit — a rows-only
# check would have proven nothing about the state evolution.

_HOLT_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
ranked AS (
  SELECT event_type, day, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily),
rec AS (
  WITH RECURSIVE h(event_type, rn, day, cents, l, b) AS (
    SELECT event_type, rn, day, cents, cents, CAST(0 AS BIGINT)
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT r.event_type, r.rn, r.day, r.cents,
           (r.cents + h.l + h.b) // 2,
           (h.b + ((r.cents + h.l + h.b) // 2) - h.l) // 2
    FROM h JOIN ranked r
      ON r.event_type = h.event_type AND r.rn = h.rn + 1)
  SELECT * FROM h)
SELECT event_type, day, cents, l AS level, b AS trend,
       l + b AS forecast_next
FROM rec
"""


@query("q_ts_holt_linear", _HOLT_ORACLE)
def q_ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    # NULL keys/values/timestamps excluded on both engines (r12 NULL
    # audit: an all-NULL group gives NULL cents, which int() in the
    # recurrence crashes on; the oracle's recursive join also cannot
    # chain a NULL event_type)
    ev = ev.filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ls: list[int] = []
        bs: list[int] = []
        l = b = 0
        for i, y in enumerate(int(v) for v in pdf["cents"]):
            if i == 0:
                l, b = y, 0
            else:
                half = lambda x: abs(x) // 2 * (1 if x >= 0 else -1)  # noqa: E731
                l_new = half(y + l + b)
                b = half(b + l_new - l)
                l = l_new
            ls.append(l)
            bs.append(b)
        pdf["level"] = pd.Series(ls, dtype="int64")
        pdf["trend"] = pd.Series(bs, dtype="int64")
        pdf["forecast_next"] = pdf["level"] + pdf["trend"]
        return pdf

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, day bigint, cents bigint, "
        "level bigint, trend bigint, forecast_next bigint",
    )


# -- X245 lagged cross-correlation between two event streams ----------------
#
# Lead/lag analysis: Pearson correlation of the click and purchase daily
# series at lags −3..+3. The lag table is a 7-element literal explode;
# each lag's pairing is one keyed equi-join on (day + lag), and every
# per-lag correlation reduces to the 6 integer moments (map-side
# combinable). Mirrored IEEE double tree on exact int64 sums — the
# q_agg_moments_corr convention.

_XCORR_ORACLE = """
WITH a AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'click' GROUP BY 1),
b AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
lags AS (SELECT UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS lag),
paired AS (
  SELECT l.lag, a.y AS x, b.y AS y
  FROM lags l
  JOIN a ON TRUE
  JOIN b ON b.day = a.day + l.lag),
m AS (
  SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM paired GROUP BY lag)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
         AS xcorr
FROM m
"""


@query("q_ts_cross_correlation", _XCORR_ORACLE)
def q_ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day")
    )
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(day)
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count("*").cast("bigint").alias("y"))
        .withColumnRenamed("day", "bday")
    )
    lags = a.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (-3, -2, -1, 0, 1, 2, 3)])).alias(
            "lag"
        )
    )
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bday") == F.col("day") + F.col("lag"))
        .select("lag", "x", "y")
    )
    m = paired.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cxy = sxy - sx * sy / n
    cxx = sxx - sx * sx / n
    cyy = syy - sy * sy / n
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        n.cast("bigint").alias("n"),
        (cxy / F.sqrt(cxx * cyy)).alias("xcorr"),
    )


# -- X249 binary-segmentation changepoint (argmin split SSE) ----------------
#
# The other classic changepoint detector (complement to CUSUM): per key,
# the split k that minimizes SSE(prefix) + SSE(suffix) of the daily
# series. Prefix sums/sumsqs come from KEYED cumulative windows (the
# series is calendar-bounded per key), suffixes from the per-key totals
# minus the prefix — one window pass, one argmin, no self-join over
# candidate splits. Integer sums exact; SSE = Q − S²/m and the argmin
# comparison run in the mirrored IEEE double tree (identical operand
# bits → identical ordering), tie → earliest day.

_BINSEG_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT event_type, day, cents,
         SUM(cents) OVER w AS ps, SUM(cents * cents) OVER w AS pq,
         COUNT(*) OVER w AS pm,
         SUM(cents) OVER t AS ts_, SUM(cents * cents) OVER t AS tq,
         COUNT(*) OVER t AS tn
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING),
         t AS (PARTITION BY event_type)),
cost AS (
  SELECT event_type, day,
         (CAST(pq AS DOUBLE) - CAST(ps AS DOUBLE) * CAST(ps AS DOUBLE) / pm)
         + (CAST(tq - pq AS DOUBLE)
            - CAST(ts_ - ps AS DOUBLE) * CAST(ts_ - ps AS DOUBLE)
              / (tn - pm)) AS sse,
         CAST(ps AS DOUBLE) / pm AS mean_before,
         CAST(ts_ - ps AS DOUBLE) / (tn - pm) AS mean_after
  FROM cum WHERE pm < tn),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY sse, day) AS rk
  FROM cost)
SELECT event_type, day AS split_day, sse, mean_before, mean_after
FROM ranked WHERE rk = 1
"""


@query("q_ts_binary_seg", _BINSEG_ORACLE)
def q_ts_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day",
        F.sum("cents").over(w).alias("ps"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("pq"),
        F.count("*").over(w).alias("pm"),
        F.sum("cents").over(t).alias("ts_"),
        F.sum(F.col("cents") * F.col("cents")).over(t).alias("tq"),
        F.count("*").over(t).alias("tn"),
    )
    ps, pq, pm = (
        F.col("ps").cast("double"),
        F.col("pq").cast("double"),
        F.col("pm"),
    )
    ss, sq, sm = (
        (F.col("ts_") - F.col("ps")).cast("double"),
        (F.col("tq") - F.col("pq")).cast("double"),
        F.col("tn") - F.col("pm"),
    )
    cost = cum.filter(F.col("pm") < F.col("tn")).select(
        "event_type",
        "day",
        ((pq - ps * ps / pm) + (sq - ss * ss / sm)).alias("sse"),
        (ps / pm).alias("mean_before"),
        (ss / sm).alias("mean_after"),
    )
    ranked = cost.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("sse", "day")
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("day").alias("split_day"),
        "sse",
        "mean_before",
        "mean_after",
    )


# -- X251 rescaled range (R/S) statistic -----------------------------------
#
# The Hurst-exponent workhorse: chunk each key's daily series into
# consecutive blocks of 8 and 16 observations, compute per-block
# R/S = (max cumdev − min cumdev) / population_std, and report the
# cross-block mean per (key, block size). Everything reduces to keyed
# windows over the calendar-bounded series plus per-block integer
# moments; cumulative deviation cd_i = prefix_i − i·mean needs only the
# integer prefix sum and the (mirrored-double) mean. Per-block R and S
# are IEEE-mirrored (sqrt is correctly rounded); the cross-block mean
# goes through the DECIMAL(38,6) order-independent sum (the repo's
# float-aggregation convention).

_RS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
sized AS (
  SELECT d.*, sz.sz,
         (ROW_NUMBER() OVER (PARTITION BY d.event_type, sz.sz
                             ORDER BY d.day) - 1) // sz.sz AS blk,
         ROW_NUMBER() OVER (PARTITION BY d.event_type, sz.sz
                            ORDER BY d.day) AS rn
  FROM daily d CROSS JOIN (SELECT UNNEST([8, 16]) AS sz) sz),
pre AS (
  SELECT *,
         SUM(cents) OVER (PARTITION BY event_type, sz, blk ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS ps,
         ROW_NUMBER() OVER (PARTITION BY event_type, sz, blk
                            ORDER BY day) AS i,
         COUNT(*) OVER (PARTITION BY event_type, sz, blk) AS m,
         SUM(cents) OVER (PARTITION BY event_type, sz, blk) AS s,
         SUM(cents * cents) OVER (PARTITION BY event_type, sz, blk) AS q
  FROM sized),
dev AS (
  SELECT event_type, sz, blk, m,
         CAST(ps AS DOUBLE) - i * (CAST(s AS DOUBLE) / m) AS cd,
         CAST(q AS DOUBLE) / m
           - (CAST(s AS DOUBLE) / m) * (CAST(s AS DOUBLE) / m) AS var_p
  FROM pre WHERE m = sz),
blocks AS (
  SELECT event_type, sz, blk,
         (MAX(cd) - MIN(cd)) / sqrt(ANY_VALUE(var_p)) AS rs
  FROM dev GROUP BY event_type, sz, blk),
out AS (
  SELECT event_type, CAST(sz AS BIGINT) AS chunk_size,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(rs AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
           AS mean_rs
  FROM blocks GROUP BY event_type, sz)
SELECT * FROM out
"""


@query("q_ts_rescaled_range", _RS_ORACLE)
def q_ts_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    sizes = daily.sparkSession.range(1).select(
        F.explode(F.array(F.lit(8), F.lit(16))).alias("sz")
    )
    sized = daily.crossJoin(F.broadcast(sizes)).withColumn(
        "blk", F.expr("(ROW_NUMBER() OVER (PARTITION BY event_type, sz "
                      "ORDER BY day) - 1) DIV sz")
    )
    wblk = Window.partitionBy("event_type", "sz", "blk").orderBy("day")
    wtot = Window.partitionBy("event_type", "sz", "blk")
    pre = sized.select(
        "event_type",
        "sz",
        "blk",
        "day",
        "cents",
        F.sum("cents").over(
            wblk.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("ps"),
        F.row_number().over(wblk).alias("i"),
        F.count("*").over(wtot).alias("m"),
        F.sum("cents").over(wtot).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(wtot).alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("m")
    dev = pre.filter(F.col("m") == F.col("sz")).select(
        "event_type",
        "sz",
        "blk",
        (F.col("ps").cast("double") - F.col("i") * mean).alias("cd"),
        (F.col("q").cast("double") / F.col("m") - mean * mean).alias(
            "var_p"
        ),
    )
    blocks = dev.groupBy("event_type", "sz", "blk").agg(
        (
            (F.max("cd") - F.min("cd")) / F.sqrt(F.first("var_p"))
        ).alias("rs")
    )
    return blocks.groupBy(
        "event_type", F.col("sz").cast("bigint").alias("chunk_size")
    ).agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        (exact_sum("rs") / F.count("*")).alias("mean_rs"),
    )


# -- X258 peak detection (local maxima above level) -------------------------
#
# Peaks of each key's daily series: strictly above both neighbors AND
# 20 % above the key's mean, the latter tested by integer
# cross-multiplication (5·cents·n > 6·total — no division, no floats).
# One keyed lag/lead window + one per-key total rides the same
# partitioning; series are calendar-bounded per key.

_PEAKS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
nbrs AS (
  SELECT *,
         LAG(cents) OVER w AS prev,
         LEAD(cents) OVER w AS next,
         SUM(cents) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day))
SELECT event_type, day, cents, prev, next
FROM nbrs
WHERE prev IS NOT NULL AND next IS NOT NULL
  AND cents > prev AND cents > next
  AND 5 * cents * n > 6 * total
"""


@query("q_ts_peaks", _PEAKS_ORACLE)
def q_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    nbrs = daily.select(
        "event_type",
        "day",
        "cents",
        F.lag("cents").over(w).alias("prev"),
        F.lead("cents").over(w).alias("next"),
        F.sum("cents").over(wt).alias("total"),
        F.count("*").over(wt).alias("n"),
    )
    return nbrs.filter(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("cents") > F.col("prev"))
        & (F.col("cents") > F.col("next"))
        & (5 * F.col("cents") * F.col("n") > 6 * F.col("total"))
    ).select("event_type", "day", "cents", "prev", "next")


# -- X264 Hampel filter (rolling-median outliers, one pass) -----------------
#
# The robust rolling outlier detector: a day is anomalous if it deviates
# from the ±3-day neighborhood MEDIAN by more than 3·1.4826·MAD. The
# whole two-level median runs in ONE grouped pass: collect the (≤7)
# neighborhood values into a sorted array, take the lower median by
# index, then derive the deviation array with a higher-order transform
# and index its sorted form for the MAD — no second shuffle, and both
# engines mirror the list operations exactly. The neighborhood join is
# keyed (event_type) with a ±3-day band; the outlier test is the
# integer cross-multiplication 10⁴·|x − med| > 44478·mad.

_HAMPEL_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
hood AS (
  SELECT a.event_type, a.day, a.cents,
         list_sort(list(b.cents)) AS arr
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND abs(b.day - a.day) <= 3
  GROUP BY a.event_type, a.day, a.cents),
med AS (
  SELECT *, arr[(len(arr) + 1) // 2] AS med FROM hood),
mad AS (
  SELECT event_type, day, cents, med,
         list_sort(list_transform(arr, x -> abs(x - med)))
           [(len(arr) + 1) // 2] AS mad
  FROM med)
SELECT event_type, day, cents, med, mad
FROM mad
WHERE 10000 * abs(cents - med) > 44478 * mad
"""


@query("q_ts_hampel", _HAMPEL_ORACLE)
def q_ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    b = daily.select(
        F.col("event_type").alias("b_et"),
        F.col("day").alias("b_day"),
        F.col("cents").alias("b_cents"),
    )
    hood = (
        daily.join(
            b,
            (F.col("b_et") == F.col("event_type"))
            & (F.abs(F.col("b_day") - F.col("day")) <= 3),
        )
        .groupBy("event_type", "day", "cents")
        .agg(F.array_sort(F.collect_list("b_cents")).alias("arr"))
    )
    med = F.element_at("arr", F.expr("CAST((size(arr) + 1) DIV 2 AS INT)"))
    stage = hood.withColumn("med", med).withColumn(
        "mad",
        F.element_at(
            F.array_sort(
                F.expr("transform(arr, x -> abs(x - med))")
            ),
            F.expr("CAST((size(arr) + 1) DIV 2 AS INT)"),
        ),
    )
    return stage.filter(
        10000 * F.abs(F.col("cents") - F.col("med")) > 44478 * F.col("mad")
    ).select("event_type", "day", "cents", "med", "mad")


# -- X277 resetting cumulative sum (gap-triggered restart) ------------------
#
# The running total that restarts after an inactivity gap — the classic
# two-window trick with NO iterative logic: flag rows whose gap from
# the previous event exceeds the threshold, cumulative-sum the flags
# into segment ids, then cumulative-sum the measure WITHIN (key,
# segment). Both windows are keyed; segments emerge in one pass.

_CUMSUM_RESET_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL),
flagged AS (
  SELECT *,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 3600000000
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_seg
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
seg AS (
  SELECT *, SUM(new_seg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM flagged),
run AS (
  SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id, event_id,
         SUM(cents) OVER (PARTITION BY user_id, seg_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM seg)
SELECT user_id, seg_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(running) AS BIGINT) AS segment_total,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM run GROUP BY user_id, seg_id
"""


@query("q_ts_cumsum_reset", _CUMSUM_RESET_ORACLE)
def q_ts_cumsum_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_ts = F.lag("ts").over(w)
    new_seg = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(prev_ts)
            > 3600 * 1000 * 1000
        ),
        1,
    ).otherwise(0)
    seg = ev.withColumn("new_seg", new_seg).withColumn(
        "seg_id", F.sum("new_seg").over(wcum).cast("bigint")
    )
    wrun = Window.partitionBy("user_id", "seg_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = seg.withColumn("running", F.sum("cents").over(wrun))
    return run.groupBy("user_id", "seg_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("running").cast("bigint").alias("segment_total"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )


# -- X286 dynamic time warping distance ------------------------------------
#
# DTW of each user's daily-activity series against a fixed 4-point query
# pattern — the time-series motif primitive Spark has no operator for, so
# it takes the documented custom-operator path: ``applyInPandas`` per
# key, Arrow-batched, integer |x - p| cell costs so every engine lands on
# the same BIGINT. The oracle replays the identical DP in a recursive
# CTE that walks the series row by row carrying the 4-wide DP frontier as
# columns (lateral column aliases give the in-row sequential min chain).
# Per-key series are bounded (≤ 31 days); keys fan out across the
# cluster, so the plan is one shuffle by user + an embarrassingly
# parallel bounded kernel — the right shape at any corpus scale.

_DTW_PATTERN = (1, 3, 5, 3)
_DTW_INF = 1 << 40

_DTW_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
series AS (
  SELECT user_id, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
              AS BIGINT) AS i
  FROM daily),
lens AS (SELECT user_id, MAX(i) AS n FROM series GROUP BY user_id),
dp AS (
  SELECT user_id, CAST(0 AS BIGINT) AS i,
         CAST({_DTW_INF} AS BIGINT) AS q1, CAST({_DTW_INF} AS BIGINT) AS q2,
         CAST({_DTW_INF} AS BIGINT) AS q3, CAST({_DTW_INF} AS BIGINT) AS q4
  FROM lens
  UNION ALL
  SELECT s.user_id, dp.i + 1,
         ABS(s.x - {_DTW_PATTERN[0]})
           + LEAST(dp.q1, CASE WHEN dp.i = 0 THEN 0
                               ELSE CAST({_DTW_INF} AS BIGINT) END) AS c1,
         ABS(s.x - {_DTW_PATTERN[1]}) + LEAST(dp.q2, c1, dp.q1) AS c2,
         ABS(s.x - {_DTW_PATTERN[2]}) + LEAST(dp.q3, c2, dp.q2) AS c3,
         ABS(s.x - {_DTW_PATTERN[3]}) + LEAST(dp.q4, c3, dp.q3) AS c4
  FROM dp JOIN series s ON s.user_id = dp.user_id AND s.i = dp.i + 1)
SELECT d.user_id, l.n AS n_points, d.q4 AS dtw
FROM dp d JOIN lens l ON l.user_id = d.user_id AND d.i = l.n
"""


@query("q_ts_dtw", _DTW_ORACLE)
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))

    pattern = _DTW_PATTERN
    inf = _DTW_INF

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf.sort_values("day")["x"].tolist()
        m = len(pattern)
        prev = [inf] * m  # D(0, 1..m); D(0,0)=0 enters via the i==1 case
        for i, x in enumerate(xs, start=1):
            cur = [0] * m
            left0 = 0 if i == 1 else inf
            cur[0] = abs(x - pattern[0]) + min(prev[0], left0)
            for j in range(1, m):
                cur[j] = abs(x - pattern[j]) + min(
                    prev[j], cur[j - 1], prev[j - 1]
                )
            prev = cur
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_points": [len(xs)],
                "dtw": [int(prev[-1])],
            }
        )

    return daily.groupBy("user_id").applyInPandas(
        dtw, "user_id long, n_points long, dtw long"
    )


# -- X290 Mann-Kendall trend test ------------------------------------------
#
# The nonparametric monotone-trend statistic per event type: S = sum over
# day pairs i<j of sign(x_j - x_i) on the daily revenue-cents series,
# plus the tie-corrected variance numerator kept EXACTLY integer by
# reporting 18*Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5) (the /18 and
# the z-score's sqrt would leave integer space). The pair join is per
# key over the bounded daily aggregate (<= 31 rows/key) — quadratic in
# days-per-key, never in raw rows, so the shape holds at any event
# volume.

_MK_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY a.event_type),
lens AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1),
ties AS (
  SELECT event_type,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, x) g
  WHERE t > 1 GROUP BY event_type)
SELECT l.event_type, l.n AS n_days, p.s AS s_stat,
       CAST(l.n * (l.n - 1) * (2 * l.n + 5)
            - COALESCE(t.tie_term, 0) AS BIGINT) AS var18
FROM lens l
JOIN pairs p ON p.event_type = l.event_type
LEFT JOIN ties t ON t.event_type = l.event_type
ORDER BY l.event_type
"""


@query("q_ts_mann_kendall", _MK_ORACLE)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("x"))
    a = daily.select(
        "event_type", F.col("day").alias("da"), F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("db"),
        F.col("x").alias("xb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("da") < F.col("db")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    lens = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days")
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = F.col("n_days")
    return (
        lens.join(pairs, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (
                n * (n - 1) * (2 * n + 5)
                - F.coalesce("tie_term", F.lit(0))
            )
            .cast("bigint")
            .alias("var18"),
        )
    )


# -- X293 Haar wavelet energy decomposition --------------------------------
#
# Multi-resolution energy profile of each event type's daily revenue:
# the series is laid on a fixed 32-slot spine (zeros for silent days),
# then 5 unrolled Haar levels fold adjacent pairs — a_k = left + right,
# d_k = left - right — each level one keyed groupBy over at most
# 32/2^k rows per key. Detail energies sum d^2 in DECIMAL(38,0) (exact,
# order-free; DuckDB's SUM(BIGINT)->HUGEINT promotion never reaches the
# output) and level 0 reports the final approximation coefficient's
# energy. Everything is integer cents; no floats.

_HAAR_LEVELS = 5  # 2^5 = 32 slots


def _haar_level_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT event_type, CAST(FLOOR(i / 2) AS BIGINT) AS i,
         SUM(a) AS a,
         SUM(CASE WHEN i % 2 = 0 THEN a ELSE -a END) AS d
  FROM {prev} GROUP BY 1, 2)"""


_HAAR_ORACLE = (
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) - DATE '2024-01-01' AS i,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type FROM events),
spine AS (
  SELECT t.event_type, g.i, CAST(COALESCE(d.cents, 0) AS BIGINT) AS a
  FROM types t
  CROSS JOIN (SELECT CAST(x AS BIGINT) AS i
              FROM unnest(generate_series(0, 31)) s(x)) g
  LEFT JOIN daily d ON d.event_type = t.event_type AND d.i = g.i),
l0 AS (SELECT event_type, i, a, CAST(0 AS BIGINT) AS d FROM spine),
"""
    + ",\n".join(
        _haar_level_sql(f"l{i}", f"l{i + 1}")
        for i in range(_HAAR_LEVELS)
    )
    + """,
details AS (
"""
    + "\n  UNION ALL\n".join(
        f"""  SELECT event_type, CAST({i + 1} AS BIGINT) AS level,
         CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS BIGINT) AS energy,
         CAST(COUNT(*) AS BIGINT) AS n_coeffs
  FROM l{i + 1} GROUP BY event_type"""
        for i in range(_HAAR_LEVELS)
    )
    + f"""
  UNION ALL
  SELECT event_type, CAST(0 AS BIGINT) AS level,
         CAST(SUM(CAST(a * a AS DECIMAL(38,0))) AS BIGINT) AS energy,
         CAST(COUNT(*) AS BIGINT) AS n_coeffs
  FROM l{_HAAR_LEVELS} GROUP BY event_type)
SELECT event_type, level, energy, n_coeffs
FROM details ORDER BY event_type, level
"""
)


@query("q_ts_wavelet_haar", _HAAR_ORACLE)
def q_ts_wavelet_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("i"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(
            F.broadcast(
                ev.sparkSession.range(0, 32).select(
                    F.col("id").cast("bigint").alias("i")
                )
            )
        )
        .join(daily, ["event_type", "i"], "left")
        .select(
            "event_type", "i", F.coalesce("cents", F.lit(0)).alias("a")
        )
        # bounded 5x32 spine re-derived by every Haar level (round-9
        # audit: 24 scans) — checkpoint so the facts scan runs once
        .localCheckpoint(eager=True)
    )
    level = spine
    outs = []
    for lv in range(1, _HAAR_LEVELS + 1):
        folded = level.groupBy(
            "event_type", F.floor(F.col("i") / 2).cast("bigint").alias("i")
        ).agg(
            F.sum("a").alias("a"),
            F.sum(
                F.when(F.col("i") % 2 == 0, F.col("a")).otherwise(
                    -F.col("a")
                )
            ).alias("d"),
        )
        outs.append(
            folded.groupBy("event_type").agg(
                F.lit(lv).cast("bigint").alias("level"),
                F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)"))
                .cast("bigint")
                .alias("energy"),
                F.count("*").cast("bigint").alias("n_coeffs"),
            )
        )
        level = folded.select("event_type", "i", "a")
    approx = level.groupBy("event_type").agg(
        F.lit(0).cast("bigint").alias("level"),
        F.sum((F.col("a") * F.col("a")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("energy"),
        F.count("*").cast("bigint").alias("n_coeffs"),
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.unionByName(approx).select(
        "event_type", "level", "energy", "n_coeffs"
    )


# -- X297 EMA crossover signals --------------------------------------------
#
# The fast/slow moving-average crossover detector on each event type's
# daily revenue: a fast truncated EMA (alpha=1/4, the q_ts_ema weight
# family, denominator 4^7) against a slow one (alpha=1/8, denominator
# 8^7), compared WITHOUT ever leaving integer space — fast_num * 8^7 vs
# slow_num * 4^7 (both < 2^60 in cents space) — and a crossover fires
# where the sign of the spread changes vs the previous day. Two LAG
# chains + one LAG of the sign, all in a single keyed window; only rows
# with a full 8-day history participate.

_XOVER_FAST = [3**i * 4 ** (6 - i) for i in range(7)] + [3**7]  # den 4^7
_XOVER_SLOW = [7**i * 8 ** (6 - i) for i in range(7)] + [7**7]  # den 8^7


def _xover_sql() -> str:
    fast = " + ".join(
        f"{c} * {'cents' if i == 0 else f'LAG(cents, {i}) OVER w'}"
        for i, c in enumerate(_XOVER_FAST)
    )
    slow = " + ".join(
        f"{c} * {'cents' if i == 0 else f'LAG(cents, {i}) OVER w'}"
        for i, c in enumerate(_XOVER_SLOW)
    )
    return f"""
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
nums AS (
  SELECT event_type, day,
         {fast} AS fast_num,
         {slow} AS slow_num
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
signs AS (
  SELECT event_type, day,
         CASE WHEN fast_num * {8**7} > slow_num * {4**7} THEN 1
              WHEN fast_num * {8**7} < slow_num * {4**7} THEN -1
              ELSE 0 END AS sign
  FROM nums WHERE fast_num IS NOT NULL AND slow_num IS NOT NULL),
flagged AS (
  SELECT event_type, day, sign,
         CASE WHEN LAG(sign) OVER (PARTITION BY event_type ORDER BY day)
                   IS NOT NULL
               AND LAG(sign) OVER (PARTITION BY event_type ORDER BY day)
                   <> sign
              THEN 1 ELSE 0 END AS crossed
  FROM signs)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(sign AS BIGINT) AS sign, CAST(crossed AS BIGINT) AS crossed
FROM flagged ORDER BY event_type, day
"""


@query("q_ts_ema_crossover", _xover_sql())
def q_ts_ema_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")

    def chain(coefs):
        total = F.lit(coefs[0]) * F.col("cents")
        for i, c in enumerate(coefs[1:], start=1):
            total = total + F.lit(c) * F.lag("cents", i).over(w)
        return total

    nums = daily.select(
        "event_type",
        "day",
        chain(_XOVER_FAST).alias("fast_num"),
        chain(_XOVER_SLOW).alias("slow_num"),
    )
    signs = nums.filter(
        F.col("fast_num").isNotNull() & F.col("slow_num").isNotNull()
    ).select(
        "event_type",
        "day",
        F.when(
            F.col("fast_num") * (8**7) > F.col("slow_num") * (4**7), 1
        )
        .when(F.col("fast_num") * (8**7) < F.col("slow_num") * (4**7), -1)
        .otherwise(0)
        .alias("sign"),
    )
    prev = F.lag("sign").over(w)
    return signs.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.col("sign").cast("bigint").alias("sign"),
        F.when(prev.isNotNull() & (prev != F.col("sign")), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("crossed"),
    )


# -- X303 1-D Kalman filter in fixed point ---------------------------------
#
# Adaptive-gain filtering of the per-type daily revenue series — unlike
# the fixed-α EMA/Holt recurrences, the Kalman gain K = P/(P+R) adapts
# as the error covariance P converges. The whole recursion runs in
# integer micro-units with truncating division so Spark and the DuckDB
# recursive-CTE oracle replay it bit-for-bit:
#   Pp = P + Q
#   x' = x + tdiv(Pp * (z - x), Pp + R)
#   P' = tdiv(Pp * R, Pp + R)
# (tdiv = sign-split truncating division; DuckDB ``//`` truncates on
# integers, Python mirrors with sign·(|a|//b).)  Same execution shape as
# Holt: keyed applyInPandas, Arrow-batched, each key's calendar-bounded
# series in one task, keys parallelized across executors.

_KALMAN_Q = 250_000  # process noise (micro-units)
_KALMAN_R = 1_000_000  # measurement noise (micro-units)

_KALMAN_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
ranked AS (
  SELECT event_type, day, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily),
rec AS (
  WITH RECURSIVE k(event_type, rn, day, cents, x, p) AS (
    SELECT event_type, rn, day, cents, cents,
           CAST({_KALMAN_R} AS BIGINT)
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT r.event_type, r.rn, r.day, r.cents,
           k.x + ((k.p + {_KALMAN_Q}) * (r.cents - k.x))
                 // (k.p + {_KALMAN_Q} + {_KALMAN_R}),
           ((k.p + {_KALMAN_Q}) * {_KALMAN_R})
                 // (k.p + {_KALMAN_Q} + {_KALMAN_R})
    FROM k JOIN ranked r
      ON r.event_type = k.event_type AND r.rn = k.rn + 1)
  SELECT * FROM k)
SELECT event_type, day, cents, x AS x_filtered, p AS p_state,
       cents - x AS innovation
FROM rec
"""


@query("q_ts_kalman", _KALMAN_ORACLE)
def q_ts_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    # same NULL pin as q_ts_holt_linear (r12 NULL audit)
    ev = ev.filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )

    def kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)

        def tdiv(a: int, b: int) -> int:
            return abs(a) // b * (1 if a >= 0 else -1)

        xs: list[int] = []
        ps: list[int] = []
        x = p = 0
        for i, z in enumerate(int(v) for v in pdf["cents"]):
            if i == 0:
                x, p = z, _KALMAN_R
            else:
                pp = p + _KALMAN_Q
                x = x + tdiv(pp * (z - x), pp + _KALMAN_R)
                p = tdiv(pp * _KALMAN_R, pp + _KALMAN_R)
            xs.append(x)
            ps.append(p)
        pdf["x_filtered"] = pd.Series(xs, dtype="int64")
        pdf["p_state"] = pd.Series(ps, dtype="int64")
        pdf["innovation"] = pdf["cents"] - pdf["x_filtered"]
        return pdf

    return daily.groupBy("event_type").applyInPandas(
        kalman,
        "event_type string, day bigint, cents bigint, "
        "x_filtered bigint, p_state bigint, innovation bigint",
    )


# -- X305 event-sequence pattern matching (CEP / MATCH_RECOGNIZE style) ----
#
# Flink-CEP / SQL MATCH_RECOGNIZE territory: per user, symbolize the
# time-ordered event stream (one char per event type) and run regex
# patterns over the sequence — 'v+p' counts view-streak→purchase funnel
# completions, 'v+' extracts the longest browse streak. One keyed
# aggregate builds each user's bounded sequence (array_sort on the
# (ts, event_id) struct makes the order total and deterministic); the
# regex scan is a stateless projection. Leftmost-greedy matching of these
# patterns is identical in Java regex and RE2, so the DuckDB oracle's
# regexp_extract_all agrees exactly.

_CEP_ORACLE = """
WITH sym AS (
  SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS s
  FROM events),
seqs AS (
  SELECT user_id,
         string_agg(s, '' ORDER BY ts, event_id) AS seq,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sym GROUP BY user_id)
SELECT user_id, n_events,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'v+p')) AS BIGINT) AS n_funnels,
       CAST(COALESCE(list_max(list_transform(
              regexp_extract_all(seq, 'v+'), x -> length(x))), 0) AS BIGINT)
         AS max_view_run,
       len(regexp_extract_all(seq, 'v+p')) > 0 AS converted
FROM seqs
"""


@query("q_ts_match_recognize", _CEP_ORACLE)
def q_ts_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sym = ev.select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("s"),
    )
    seqs = sym.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "s"))),
                lambda r: r["s"],
            ),
            "",
        ).alias("seq"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.expr("regexp_count(seq, 'v+p')").cast("bigint").alias("n_funnels"),
        F.coalesce(
            F.array_max(
                F.transform(
                    F.expr("regexp_extract_all(seq, 'v+', 0)"),
                    lambda x: F.length(x),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_view_run"),
        (F.expr("regexp_count(seq, 'v+p')") > 0).alias("converted"),
    )


# -- X320 peak concurrency (sweep line over intervals) ----------------------
# Staffing-level question: treating each event as a 5-minute activity
# interval [ts, ts+300s), how many intervals are simultaneously active at
# the busiest instant, per user? The classic sweep line: explode each
# interval into a +1 start and a -1 end endpoint, order endpoints by
# (time, delta) — ends sort before starts at the same instant, so
# half-open intervals touching at a boundary never count as overlapping —
# take the running sum, and report its maximum. The running MAX is
# invariant to the tiebreak order WITHIN a (time, delta) block (all
# deltas in a block share a sign, so the block's extremum is at its edge
# either way), which is what makes the window deterministic across
# engines without a third sort key. Keyed by user: every window is
# per-user, no global sort.

_MAX_CONCURRENCY_ORACLE = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
  FROM events),
pts AS (
  SELECT user_id, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT user_id, e AS t, -1 AS delta FROM iv),
run AS (
  SELECT user_id,
         SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) AS cum
  FROM pts)
SELECT user_id,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
       CAST(MAX(cum) AS BIGINT) AS max_concurrent
FROM run GROUP BY user_id
"""


@query("q_ts_max_concurrency", _MAX_CONCURRENCY_ORACLE)
def q_ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
    )
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("user_id", F.sum("delta").over(w).alias("cum"))
    return run.groupBy("user_id").agg(
        (F.count("*") / 2).cast("bigint").alias("n_intervals"),
        F.max("cum").cast("bigint").alias("max_concurrent"),
    )


# -- X322 repeat-purchase rate ----------------------------------------------
# Retention economics: of all consecutive order pairs per customer, what
# share arrive within 7 days of the previous order, summarized per market
# segment? One keyed (per-customer) lag window — key cardinality grows
# with the data, so the sort parallelizes — then a segment-level
# aggregation in exact integers (gap days + ppm share).

_REPEAT_ORACLE = """
WITH seq AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         date_diff('day',
                   LAG(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                            ORDER BY o.o_orderdate,
                                                     o.o_orderkey),
                   o.o_orderdate) AS gap_days
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
SELECT segment,
       CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
       CAST(COUNT(CASE WHEN gap_days <= 7 THEN 1 END) AS BIGINT)
         AS n_repeat_7d,
       CAST((1000000 * COUNT(CASE WHEN gap_days <= 7 THEN 1 END))
            // COUNT(gap_days) AS BIGINT) AS repeat_ppm,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM seq GROUP BY segment
"""


@query("q_ts_repeat_purchase", _REPEAT_ORACLE)
def q_ts_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o["o_custkey"] == c["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).cast("bigint").alias("gap_days"),
        )
    )
    return seq.groupBy("segment").agg(
        F.count("gap_days").cast("bigint").alias("n_gaps"),
        F.count(F.when(F.col("gap_days") <= 7, 1)).cast("bigint")
        .alias("n_repeat_7d"),
        F.expr(
            "(1000000 * COUNT(CASE WHEN gap_days <= 7 THEN 1 END))"
            " DIV COUNT(gap_days)"
        ).cast("bigint").alias("repeat_ppm"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
    )


# -- X323 day-of-week x hour activity heatmap -------------------------------
# The operations wall chart: event volume over the ISO weekday x hour
# grid with each cell's share of total traffic in ppm. One groupBy to the
# 168-cell grid; the total rides a window over that bounded aggregate,
# never the base table. Weekday convention pinned to ISO (Monday=1) on
# both engines — Spark's dayofweek() is Sunday=1, so it is remapped
# explicitly rather than trusting engine defaults to agree.

_HEATMAP_ORACLE = """
WITH g AS (
  SELECT CAST(isodow(ts) AS INT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         user_id
  FROM events),
cell AS (
  SELECT dow, hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM g GROUP BY dow, hour)
SELECT dow, hour, n_events, n_users,
       CAST((1000000 * n_events)
            // CAST(SUM(n_events) OVER () AS BIGINT) AS BIGINT) AS share_ppm
FROM cell
"""


@query("q_ts_activity_heatmap", _HEATMAP_ORACLE)
def q_ts_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ISO weekday: Spark dayofweek is 1=Sunday..7=Saturday -> remap
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    g = e.select(
        iso_dow.alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
        "user_id",
    )
    cell = g.groupBy("dow", "hour").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    # window over the bounded 168-row grid, never the base table
    total = F.sum("n_events").over(Window.partitionBy(F.lit(1))).cast("bigint")
    return cell.withColumn("_total", total).select(
        "dow",
        "hour",
        "n_events",
        "n_users",
        F.expr("(1000000 * n_events) DIV _total").cast("bigint")
        .alias("share_ppm"),
    )


# -- X353: stockout episodes from running inventory balance ----------------
#
# Inventory position per part: receipts (odd lines) add, issues (even
# lines) subtract, in shipdate order; an episode is a maximal run of
# negative balance. Episode STARTS are countable without gaps-and-
# islands machinery: a start is a negative point whose previous balance
# was non-negative (lag over the same keyed window). One keyed window
# per part — partkey cardinality scales with the data, so the sort
# never concentrates.

_STOCKOUT_ORACLE = """
WITH li AS (
  SELECT l_partkey AS pk, l_shipdate, l_orderkey, l_linenumber,
         CASE WHEN l_linenumber % 2 = 1
              THEN CAST(ROUND(l_quantity) AS BIGINT)
              ELSE -CAST(ROUND(l_quantity) AS BIGINT) END AS delta
  FROM lineitem WHERE l_partkey <= 500),
bal AS (
  SELECT pk,
         SUM(delta) OVER (PARTITION BY pk ORDER BY l_shipdate, l_orderkey,
                          l_linenumber ROWS UNBOUNDED PRECEDING) AS b,
         COALESCE(SUM(delta) OVER (PARTITION BY pk ORDER BY l_shipdate,
                   l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_b
  FROM li)
SELECT pk AS p_partkey,
       CAST(SUM(CASE WHEN b < 0 AND prev_b >= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stockout_episodes,
       CAST(SUM(CASE WHEN b < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_neg_points,
       CAST(MIN(b) AS BIGINT) AS min_balance,
       CAST(MAX(b) AS BIGINT) AS max_balance
FROM bal GROUP BY pk
"""


@query("q_ts_stockout_episodes", _STOCKOUT_ORACLE)
def q_ts_stockout_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") <= 500)
        .select(
            F.col("l_partkey").alias("pk"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.when(
                F.col("l_linenumber") % 2 == 1,
                F.round("l_quantity").cast("bigint"),
            )
            .otherwise(-F.round("l_quantity").cast("bigint"))
            .alias("delta"),
        )
    )
    w = Window.partitionBy("pk").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    bal = li.select(
        "pk",
        F.sum("delta")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("b"),
        F.coalesce(
            F.sum("delta").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prev_b"),
    )
    return bal.groupBy(F.col("pk").alias("p_partkey")).agg(
        F.sum(
            F.when((F.col("b") < 0) & (F.col("prev_b") >= 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_stockout_episodes"),
        F.sum(F.when(F.col("b") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg_points"),
        F.min("b").cast("bigint").alias("min_balance"),
        F.max("b").cast("bigint").alias("max_balance"),
    )


# -- X365: Holt-Winters additive seasonal smoothing ------------------------
#
# Triple exponential smoothing (level + trend + 7-day season) — the
# full stateful-recurrence stress test: the state is no longer a pair
# of scalars but a rolling 7-vector of seasonals. α = β = γ = ½ keeps
# every update EXACT in integers (sign-split truncating halving, DuckDB
# // semantics), and the DuckDB oracle replays the recurrence with the
# season vector carried as a LIST through a recursive CTE:
#   l_t = trunc((y_t − s_{t−7} + l_{t−1} + b_{t−1}) / 2)
#   b_t = trunc((b_{t−1} + l_t − l_{t−1}) / 2)
#   s_t = trunc((y_t − l_t + s_{t−7}) / 2)
# Keyed applyInPandas as in X244: each key's calendar-bounded series is
# one task; keys parallelize.

_HW_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
ranked AS (
  SELECT event_type, day, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily),
rec AS (
  WITH RECURSIVE h(event_type, rn, day, cents, l, b, s, vec) AS (
    SELECT event_type, rn, day, cents, cents, CAST(0 AS BIGINT),
           CAST(0 AS BIGINT),
           [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0]
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT r.event_type, r.rn, r.day, r.cents,
           (r.cents - h.vec[1] + h.l + h.b) // 2,
           (h.b + ((r.cents - h.vec[1] + h.l + h.b) // 2) - h.l) // 2,
           (r.cents - ((r.cents - h.vec[1] + h.l + h.b) // 2) + h.vec[1])
             // 2,
           list_append(h.vec[2:7],
             (r.cents - ((r.cents - h.vec[1] + h.l + h.b) // 2) + h.vec[1])
               // 2)
    FROM h JOIN ranked r
      ON r.event_type = h.event_type AND r.rn = h.rn + 1)
  SELECT * FROM h)
SELECT event_type, day, cents, l AS level, b AS trend, s AS season,
       l + b + vec[1] AS forecast_next
FROM rec
"""


@query("q_ts_holt_winters", _HW_ORACLE)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    # same NULL pin as q_ts_holt_linear (r12 NULL audit)
    ev = ev.filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        def half(x: int) -> int:
            return abs(x) // 2 * (1 if x >= 0 else -1)

        pdf = pdf.sort_values("day").reset_index(drop=True)
        out_l: list[int] = []
        out_b: list[int] = []
        out_s: list[int] = []
        out_f: list[int] = []
        l = b = 0
        vec = [0] * 7
        for i, y in enumerate(int(v) for v in pdf["cents"]):
            if i == 0:
                l, b, s = y, 0, 0
            else:
                s_old = vec[0]
                l_new = half(y - s_old + l + b)
                b = half(b + l_new - l)
                s = half(y - l_new + s_old)
                l = l_new
                vec = vec[1:] + [s]
            out_l.append(l)
            out_b.append(b)
            out_s.append(s)
            out_f.append(l + b + vec[0])
        pdf["level"] = pd.Series(out_l, dtype="int64")
        pdf["trend"] = pd.Series(out_b, dtype="int64")
        pdf["season"] = pd.Series(out_s, dtype="int64")
        pdf["forecast_next"] = pd.Series(out_f, dtype="int64")
        return pdf

    return daily.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, day bigint, cents bigint, "
        "level bigint, trend bigint, season bigint, forecast_next bigint",
    )


# -- X371 Wald–Wolfowitz runs test per user --------------------------------
#
# Randomness check on each user's event-value sequence: count maximal
# runs of above/below-the-user-mean and compare against the expected
# run count 1 + 2·n₁·n₂/n. Everything is keyed by user_id (high
# cardinality — the windows shard across the cluster): one unbounded
# keyed window for the user's exact (S, N), one ordered keyed window for
# the lag, one keyed aggregate. "Above" is the strict integer comparison
# cents·N > S, so there is no float mean and no tie ambiguity.

_RUNS_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL),
s AS (
  SELECT user_id, ts, event_id, cents,
         SUM(cents) OVER (PARTITION BY user_id) AS s,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e),
f AS (
  SELECT user_id, n,
         CASE WHEN cents * n > s THEN 1 ELSE 0 END AS above,
         LAG(CASE WHEN cents * n > s THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM s)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(above) AS BIGINT) AS n_above,
       CAST(MAX(n) - SUM(above) AS BIGINT) AS n_below,
       CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND above <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS runs,
       CAST(1000000
            + (2 * SUM(above) * (MAX(n) - SUM(above)) * 1000000)
              // MAX(n) AS BIGINT) AS expected_runs_ppm
FROM f GROUP BY user_id
"""


@query("q_ts_runs_test", _RUNS_ORACLE)
def q_ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w_u = Window.partitionBy("user_id")
    s = e.select(
        "user_id", "ts", "event_id", "cents",
        F.sum("cents").over(w_u).alias("s"),
        F.count(F.lit(1)).over(w_u).alias("n"),
    )
    above = F.when(F.col("cents") * F.col("n") > F.col("s"), 1).otherwise(0)
    w_o = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = s.select(
        "user_id", "n",
        above.alias("above"),
        F.lag(above).over(w_o).alias("prev"),
    )
    return f.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("above").cast("bigint").alias("n_above"),
        (F.max("n") - F.sum("above")).cast("bigint").alias("n_below"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
        (
            F.lit(1000000)
            + F.expr(
                "(2 * sum(above) * (max(n) - sum(above)) * 1000000)"
                " div max(n)"
            )
        )
        .cast("bigint")
        .alias("expected_runs_ppm"),
    )


# -- X377 Dickey-Fuller unit-root statistic ---------------------------------
#
# Is each event type's daily-revenue series mean-reverting or a random
# walk? The zero-mean Dickey-Fuller regression dy_t = rho*y_{t-1} + e
# gives t = Sxy*sqrt(T-1)/sqrt(Sxx*Syy - Sxy^2) from three cross-moment
# sums (x = lagged level, y = difference). The series is the keyed
# BOUNDED daily post-aggregate (one fact-scan groupBy; the lag window
# runs over ~30 rows per key), the moment sums are exact DECIMAL(38,0)
# (level*diff products pass 2^63 at 100 TB daily volumes), and rho / t
# are identical double trees on both engines.

_DF_ORACLE = """
WITH d AS (
  SELECT event_type, DAY(ts) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
l AS (
  SELECT event_type, y,
         LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS yl
  FROM d),
p AS (
  SELECT event_type, yl, y - yl AS dy FROM l WHERE yl IS NOT NULL),
t AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(yl AS DECIMAL(38,0)) * yl) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(yl AS DECIMAL(38,0)) * dy) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS DOUBLE) AS syy
  FROM p GROUP BY event_type)
SELECT event_type, n_obs,
       sxy / sxx AS rho,
       sxy * SQRT(CAST(n_obs AS DOUBLE) - 1)
         / SQRT(sxx * syy - sxy * sxy) AS df_t
FROM t
"""


@query("q_ts_dickey_fuller", _DF_ORACLE)
def q_ts_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    d = (
        e.groupBy("event_type", F.dayofmonth("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    p = (
        d.select(
            "event_type", "y", F.lag("y").over(w).alias("yl")
        )
        .filter(F.col("yl").isNotNull())
        .withColumn("dy", F.col("y") - F.col("yl"))
    )
    t = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(F.col("yl").cast("decimal(38,0)") * F.col("yl"))
        .cast("double").alias("sxx"),
        F.sum(F.col("yl").cast("decimal(38,0)") * F.col("dy"))
        .cast("double").alias("sxy"),
        F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy"))
        .cast("double").alias("syy"),
    )
    return t.select(
        "event_type", "n_obs",
        (F.col("sxy") / F.col("sxx")).alias("rho"),
        (
            F.col("sxy") * F.sqrt(F.col("n_obs").cast("double") - 1)
            / F.sqrt(
                F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy")
            )
        ).alias("df_t"),
    )


# -- X418 Forecast accuracy metrics (MAE / MAPE / sMAPE / MASE) -------------
#
# The metric suite every forecasting pipeline reports, computed for
# the seasonal-naive forecast (count at the same hour yesterday) of
# the hourly event series. Absolute errors are exact integers; MAPE
# and sMAPE quantize each term to ppm with integer DIV (the
# documented quantization used repo-wide — float per-term ratios
# would accumulate order-dependently), and MASE is the ratio of two
# exact integer MAEs (seasonal-naive vs one-step-naive denominator),
# so one final division produces the double. Joins are keyed lag
# joins on (type, hour-24h) / (type, hour-1h) — no windows over the
# fact table, bounded series table throughout.

_FCAST_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
j AS (
  SELECT a.event_type, a.hr, a.c,
         f.c AS fc
  FROM h a JOIN h f
    ON f.event_type = a.event_type
   AND f.hr = a.hr - INTERVAL 24 HOURS),
n1 AS (
  SELECT a.event_type, ABS(a.c - p.c) AS e1
  FROM h a JOIN h p
    ON p.event_type = a.event_type
   AND p.hr = a.hr - INTERVAL 1 HOUR),
m1 AS (
  SELECT event_type, CAST(SUM(e1) AS BIGINT) AS sum_e1,
         CAST(COUNT(*) AS BIGINT) AS n1
  FROM n1 GROUP BY event_type),
m AS (
  SELECT j.event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ABS(j.c - j.fc)) AS BIGINT) AS sum_abs_e,
         CAST(SUM(CASE WHEN j.c > 0
                  THEN (ABS(j.c - j.fc) * 1000000) // j.c END)
              AS BIGINT) AS sum_ape_ppm,
         CAST(COUNT(CASE WHEN j.c > 0 THEN 1 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN j.c + j.fc > 0
                  THEN (ABS(j.c - j.fc) * 2000000) // (j.c + j.fc) END)
              AS BIGINT) AS sum_sape_ppm
  FROM j GROUP BY j.event_type)
SELECT m.event_type, m.n,
       CAST(m.sum_abs_e AS DOUBLE) / m.n AS mae,
       CAST(m.sum_ape_ppm AS DOUBLE) / m.n_pos AS mape_ppm,
       CAST(m.sum_sape_ppm AS DOUBLE) / m.n AS smape_ppm,
       (CAST(m.sum_abs_e AS DOUBLE) / m.n)
         / (CAST(m1.sum_e1 AS DOUBLE) / m1.n1) AS mase
FROM m JOIN m1 ON m1.event_type = m.event_type
"""


@query("q_ts_forecast_metrics", _FCAST_ORACLE)
def q_ts_forecast_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = h.alias("a")
    f = h.alias("f")
    j = a.join(
        f,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (
            F.col("f.hr")
            == F.col("a.hr") - F.expr("INTERVAL 24 HOURS")
        ),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.c").alias("c"),
        F.col("f.c").alias("fc"),
    )
    p = h.alias("p")
    n1 = a.join(
        p,
        (F.col("p.event_type") == F.col("a.event_type"))
        & (F.col("p.hr") == F.col("a.hr") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.abs(F.col("a.c") - F.col("p.c")).alias("e1"),
    )
    m1 = n1.groupBy("event_type").agg(
        F.sum("e1").cast("bigint").alias("sum_e1"),
        F.count(F.lit(1)).cast("bigint").alias("n1"),
    )
    ae = F.abs(F.col("c") - F.col("fc"))
    m = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(ae).cast("bigint").alias("sum_abs_e"),
        F.sum(
            F.when(
                F.col("c") > 0, F.expr("(ABS(c - fc) * 1000000) DIV c")
            )
        )
        .cast("bigint")
        .alias("sum_ape_ppm"),
        F.count(F.when(F.col("c") > 0, 1)).cast("bigint").alias("n_pos"),
        F.sum(
            F.when(
                F.col("c") + F.col("fc") > 0,
                F.expr("(ABS(c - fc) * 2000000) DIV (c + fc)"),
            )
        )
        .cast("bigint")
        .alias("sum_sape_ppm"),
    )
    mae = F.col("sum_abs_e").cast("double") / F.col("n")
    return m.join(m1, "event_type").select(
        "event_type",
        "n",
        mae.alias("mae"),
        (F.col("sum_ape_ppm").cast("double") / F.col("n_pos")).alias(
            "mape_ppm"
        ),
        (F.col("sum_sape_ppm").cast("double") / F.col("n")).alias(
            "smape_ppm"
        ),
        (
            mae / (F.col("sum_e1").cast("double") / F.col("n1"))
        ).alias("mase"),
    )


# -- X423 Granger causality (VAR-1, bounded series) -------------------------
#
# Does the view series help predict NEXT hour's purchases beyond
# purchases' own history? Restricted model y_t ~ y_{t-1} vs
# unrestricted y_t ~ y_{t-1} + x_{t-1}; the F statistic on the SSE
# drop is the Granger test. Hourly counts aggregate the fact scan
# once; everything after runs on the BOUNDED hourly table — exact
# BIGINT/DECIMAL cross-moments, the 3x3 normal equations solved by
# Cramer (the X248/X360 pattern), and SSEs/F assembled through
# identical double expression trees in both engines.

def _granger_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = "CAST(m.n AS DOUBLE)"
    sy = "CAST(m.sy AS DOUBLE)"
    sa = "CAST(m.sa AS DOUBLE)"
    sb = "CAST(m.sb AS DOUBLE)"
    syy, saa, sbb = dd("m.syy"), dd("m.saa"), dd("m.sbb")
    sya, syb, sab = dd("m.sya"), dd("m.syb"), dd("m.sab")
    # restricted: y ~ 1 + a  (a = y_{t-1})
    den_r = f"({n} * {saa} - {sa} * {sa})"
    br = f"(({n} * {sya} - {sa} * {sy}) / {den_r})"
    ar = f"(({sy} - {br} * {sa}) / {n})"
    sse_r = f"({syy} - {ar} * {sy} - {br} * {sya})"
    # unrestricted: y ~ 1 + a + b via Cramer on [[n,sa,sb],[sa,saa,sab],[sb,sab,sbb]]
    det = (
        f"({n} * ({saa} * {sbb} - {sab} * {sab})"
        f" - {sa} * ({sa} * {sbb} - {sab} * {sb})"
        f" + {sb} * ({sa} * {sab} - {saa} * {sb}))"
    )
    det_a = (
        f"({sy} * ({saa} * {sbb} - {sab} * {sab})"
        f" - {sa} * ({sya} * {sbb} - {sab} * {syb})"
        f" + {sb} * ({sya} * {sab} - {saa} * {syb}))"
    )
    det_b = (
        f"({n} * ({sya} * {sbb} - {sab} * {syb})"
        f" - {sy} * ({sa} * {sbb} - {sab} * {sb})"
        f" + {sb} * ({sa} * {syb} - {sya} * {sb}))"
    )
    det_c = (
        f"({n} * ({saa} * {syb} - {sya} * {sab})"
        f" - {sa} * ({sa} * {syb} - {sya} * {sb})"
        f" + {sy} * ({sa} * {sab} - {saa} * {sb}))"
    )
    a_u = f"({det_a} / {det})"
    b_u = f"({det_b} / {det})"
    c_u = f"({det_c} / {det})"
    sse_u = (
        f"({syy} - {a_u} * {sy} - {b_u} * {sya} - {c_u} * {syb})"
    )
    f_stat = f"((({sse_r}) - ({sse_u})) / (({sse_u}) / ({n} - 3.0)))"
    return f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS y,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1),
t AS (
  SELECT c.y AS y, p.y AS a, p.x AS b
  FROM h c JOIN h p ON p.hr = c.hr - INTERVAL 1 HOUR),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(a) AS BIGINT) AS sa,
         CAST(SUM(b) AS BIGINT) AS sb,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(CAST(a AS DECIMAL(38,0)) * a) AS DECIMAL(38,0)) AS saa,
         CAST(SUM(CAST(b AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS sbb,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * a) AS DECIMAL(38,0)) AS sya,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS syb,
         CAST(SUM(CAST(a AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS sab
  FROM t)
SELECT m.n, {sse_r} AS sse_restricted, {sse_u} AS sse_unrestricted,
       {f_stat} AS f_granger
FROM m
"""


@query("q_ts_granger", _granger_oracle())
def q_ts_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("x"),
    )
    c = h.alias("c")
    p = h.alias("p")
    t = c.join(
        p, F.col("p.hr") == F.col("c.hr") - F.expr("INTERVAL 1 HOUR")
    ).select(
        F.col("c.y").alias("y"),
        F.col("p.y").alias("a"),
        F.col("p.x").alias("b"),
    )
    dec = lambda u, v, nm: (
        F.sum(F.col(u).cast("decimal(38,0)") * F.col(v))
        .cast("decimal(38,0)")
        .alias(nm)
    )
    m = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        dec("y", "y", "syy"),
        dec("a", "a", "saa"),
        dec("b", "b", "sbb"),
        dec("y", "a", "sya"),
        dec("y", "b", "syb"),
        dec("a", "b", "sab"),
    )
    n = F.col("n").cast("double")
    sy = F.col("sy").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    syy, saa, sbb = (
        dec_to_double("syy"),
        dec_to_double("saa"),
        dec_to_double("sbb"),
    )
    sya, syb, sab = (
        dec_to_double("sya"),
        dec_to_double("syb"),
        dec_to_double("sab"),
    )
    den_r = n * saa - sa * sa
    br = (n * sya - sa * sy) / den_r
    ar = (sy - br * sa) / n
    sse_r = syy - ar * sy - br * sya
    det = (
        n * (saa * sbb - sab * sab)
        - sa * (sa * sbb - sab * sb)
        + sb * (sa * sab - saa * sb)
    )
    det_a = (
        sy * (saa * sbb - sab * sab)
        - sa * (sya * sbb - sab * syb)
        + sb * (sya * sab - saa * syb)
    )
    det_b = (
        n * (sya * sbb - sab * syb)
        - sy * (sa * sbb - sab * sb)
        + sb * (sa * syb - sya * sb)
    )
    det_c = (
        n * (saa * syb - sya * sab)
        - sa * (sa * syb - sya * sb)
        + sy * (sa * sab - saa * sb)
    )
    a_u = det_a / det
    b_u = det_b / det
    c_u = det_c / det
    sse_u = syy - a_u * sy - b_u * sya - c_u * syb
    return m.select(
        "n",
        sse_r.alias("sse_restricted"),
        sse_u.alias("sse_unrestricted"),
        ((sse_r - sse_u) / (sse_u / (n - F.lit(3.0)))).alias("f_granger"),
    )


# -- X435 Trend / seasonal strength -----------------------------------------
#
# The forecastability headline numbers (Hyndman's F_T / F_S): how
# much of the series' variation the trend and the weekly seasonal
# actually explain. Built directly on the X234 decomposition — all
# three components are exact BIGINTs there, so the variances come
# from DECIMAL moment sums per event_type and F_T = max(0,
# 1 - Var(R)/Var(T+R)), F_S = max(0, 1 - Var(R)/Var(S+R)) assemble
# through identical double trees. Bounded per-type day table only.

def _strength_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = "CAST(s.n AS DOUBLE)"

    def var(sum_c, sum_sq):
        mu = f"(CAST(s.{sum_c} AS DOUBLE) / {n})"
        return f"(({dd('s.' + sum_sq)}) / {n} - {mu} * {mu})"

    vr = var("sr", "srr")
    vtr = var("str_", "strr")
    vsr = var("ssr", "ssrr")
    return f"""
WITH decomp AS ({_SEASONAL_ORACLE.strip()}),
x AS (
  SELECT event_type, residual AS r,
         cents - seasonal AS tr,
         cents - trend AS sr
  FROM decomp),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS sr,
         CAST(SUM(CAST(r AS DECIMAL(38,0)) * r) AS DECIMAL(38,0)) AS srr,
         CAST(SUM(tr) AS BIGINT) AS str_,
         CAST(SUM(CAST(tr AS DECIMAL(38,0)) * tr) AS DECIMAL(38,0)) AS strr,
         CAST(SUM(sr) AS BIGINT) AS ssr,
         CAST(SUM(CAST(sr AS DECIMAL(38,0)) * sr) AS DECIMAL(38,0)) AS ssrr
  FROM x GROUP BY event_type)
SELECT s.event_type, s.n,
       GREATEST(0.0, 1.0 - {vr} / {vtr}) AS trend_strength,
       GREATEST(0.0, 1.0 - {vr} / {vsr}) AS seasonal_strength
FROM s
"""


@query("q_ts_seasonal_strength", _strength_oracle())
def q_ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    decomp = q_ts_seasonal_decompose(spark, sf_dir)
    x = decomp.select(
        "event_type",
        F.col("residual").alias("r"),
        (F.col("cents") - F.col("seasonal")).alias("tr"),
        (F.col("cents") - F.col("trend")).alias("sr"),
    )

    def mom(c):
        return [
            F.sum(c).cast("bigint").alias(f"s{c}"),
            F.sum(F.col(c).cast("decimal(38,0)") * F.col(c))
            .cast("decimal(38,0)")
            .alias(f"s{c}{c}"),
        ]

    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *mom("r"),
        *mom("tr"),
        *mom("sr"),
    )
    n = F.col("n").cast("double")

    def var(sum_c, sum_sq):
        mu = F.col(sum_c).cast("double") / n
        return dec_to_double(sum_sq) / n - mu * mu

    vr = var("sr", "srr")
    vtr = var("str", "strtr")
    vsr = var("ssr", "ssrsr")
    return s.select(
        "event_type",
        "n",
        F.greatest(F.lit(0.0), F.lit(1.0) - vr / vtr).alias(
            "trend_strength"
        ),
        F.greatest(F.lit(0.0), F.lit(1.0) - vr / vsr).alias(
            "seasonal_strength"
        ),
    )


# -- X438 Durbin-Watson statistic -------------------------------------------
#
# The serial-correlation check on regression residuals: after fitting
# hourly purchase cents against time, DW = sum (e_t - e_{t-1})^2 /
# sum e_t^2 near 2 means independent errors, near 0 means the trend
# missed autocorrelated structure. The series is the BOUNDED hourly
# aggregate; the OLS scalars come from exact DECIMAL moments of it,
# residuals are stateless per-row doubles (broadcast scalars — the
# X409 lesson), the lag pairs come from an hour-adjacent join, and
# both quadratic sums fold in hour order so the doubles hash-match.

def _dw_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = "CAST(m.n AS DOUBLE)"
    sx, sy = "CAST(m.sx AS DOUBLE)", "CAST(m.sy AS DOUBLE)"
    sxx, sxy = dd("m.sxx"), dd("m.sxy")
    b = f"(({n} * {sxy} - {sx} * {sy}) / ({n} * {sxx} - {sx} * {sx}))"
    a = f"(({sy} - {b} * {sx}) / {n})"
    return f"""
WITH h AS (
  SELECT epoch_us(date_trunc('hour', ts)) / 3600000000 AS t,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(t AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM h),
e AS (
  SELECT h.t,
         CAST(h.y AS DOUBLE) - {a} - {b} * CAST(h.t AS DOUBLE) AS e
  FROM h, m),
pairs AS (
  SELECT c.t, (c.e - p.e) * (c.e - p.e) AS d2
  FROM e c JOIN e p ON p.t = c.t - 1),
s AS (
  SELECT (SELECT list_aggregate(list(d2 ORDER BY t), 'sum') FROM pairs)
           AS num,
         (SELECT list_aggregate(list(e * e ORDER BY t), 'sum') FROM e)
           AS den,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_hours)
SELECT n_hours, num, den, num / den AS dw_stat
FROM s
"""


@query("q_ts_durbin_watson", _dw_oracle())
def q_ts_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    # NULL rewards/timestamps are excluded on both engines (r12 NULL
    # audit: an all-NULL hour makes y NULL, which poisons the Spark
    # residual fold to NULL while DuckDB's list sum skips it)
    h = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy(
            (
                F.unix_micros(F.date_trunc("hour", "ts")) / 3600000000
            )
            .cast("bigint")
            .alias("t")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        # bounded hourly table with multiple consumers (the OLS moment
        # agg + the residual-lag chain) — checkpoint so the facts scan
        # runs once (round-9 audit: 16 scans)
        .localCheckpoint(eager=True)
    )
    m = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = dec_to_double("sxx")
    sxy = dec_to_double("sxy")
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    e = h.crossJoin(F.broadcast(m)).select(
        "t",
        (F.col("y").cast("double") - a - b * F.col("t").cast("double")).alias(
            "e"
        ),
    )
    c = e.alias("c")
    p = e.alias("p")
    pairs = c.join(p, F.col("p.t") == F.col("c.t") - 1).select(
        F.col("c.t").alias("t"),
        (
            (F.col("c.e") - F.col("p.e")) * (F.col("c.e") - F.col("p.e"))
        ).alias("d2"),
    )

    def fold(df, col):
        return df.agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct("t", F.col(col).alias("v")))
                ),
                F.lit(0.0),
                lambda acc, r: acc + r["v"],
            ).alias(col)
        )

    num = fold(pairs, "d2").withColumnRenamed("d2", "num")
    den = fold(e.select("t", (F.col("e") * F.col("e")).alias("e2")), "e2")
    nh = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_hours"))
    return (
        nh.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            "n_hours",
            "num",
            F.col("e2").alias("den"),
            (F.col("num") / F.col("e2")).alias("dw_stat"),
        )
    )


# -- X443 Sharpe and Sortino ratios -----------------------------------------
#
# The risk-adjusted-return pair over each event type's daily revenue
# series: returns r_t = (c_t - c_{t-1}) / c_{t-1} quantize to SIGNED
# integer ppm via the sign-split division (ABS then DIV then restore
# sign — Spark's DIV truncates toward zero while DuckDB's // floors,
# so negative one-step division is NOT portable; the X233 Theil-Sen
# pattern). Sharpe divides the mean return by the full population
# stddev, Sortino by the downside (negative-return) deviation — all
# from exact BIGINT/DECIMAL moments of the ppm integers over the
# bounded daily table, sqrt correctly rounded, identical trees.

_SHARPE_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
           AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
r AS (
  SELECT a.event_type,
         CASE WHEN a.c >= p.c THEN 1 ELSE -1 END
           * (ABS(a.c - p.c) * 1000000 // p.c) AS r_ppm
  FROM daily a JOIN daily p
    ON p.event_type = a.event_type AND p.day = a.day - 1
  WHERE p.c > 0),
m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r_ppm) AS BIGINT) AS s,
         CAST(SUM(CAST(r_ppm AS DECIMAL(38,0)) * r_ppm)
              AS DECIMAL(38,0)) AS q,
         CAST(SUM(CASE WHEN r_ppm < 0
                  THEN CAST(r_ppm AS DECIMAL(38,0)) * r_ppm
                  ELSE 0 END) AS DECIMAL(38,0)) AS qd
  FROM r GROUP BY event_type)
SELECT event_type, n,
       CAST(s AS DOUBLE) / n AS mean_r_ppm,
       sqrt((CAST(((q) - (q) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q) % 1073741824 AS DOUBLE)) / n
            - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
         AS std_r_ppm,
       (CAST(s AS DOUBLE) / n)
         / sqrt((CAST(((q) - (q) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q) % 1073741824 AS DOUBLE)) / n
                - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
         AS sharpe,
       (CAST(s AS DOUBLE) / n)
         / sqrt((CAST(((qd) - (qd) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((qd) % 1073741824 AS DOUBLE)) / n)
         AS sortino
FROM m
"""


@query("q_ts_sharpe", _SHARPE_ORACLE)
def q_ts_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    a = daily.alias("a")
    p = daily.alias("p")
    r = (
        a.join(
            p,
            (F.col("p.event_type") == F.col("a.event_type"))
            & (F.col("p.day") == F.col("a.day") - 1),
        )
        .filter(F.col("p.c") > 0)
        .select(
            F.col("a.event_type").alias("event_type"),
            (
                F.when(F.col("a.c") >= F.col("p.c"), 1).otherwise(-1)
                * F.expr("(ABS(a.c - p.c) * 1000000) DIV p.c")
            ).alias("r_ppm"),
        )
    )
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r_ppm").cast("bigint").alias("s"),
        F.sum(F.col("r_ppm").cast("decimal(38,0)") * F.col("r_ppm"))
        .cast("decimal(38,0)")
        .alias("q"),
        F.sum(
            F.when(
                F.col("r_ppm") < 0,
                F.col("r_ppm").cast("decimal(38,0)") * F.col("r_ppm"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("qd"),
    )
    n = F.col("n")
    mean = F.col("s").cast("double") / n
    std = F.sqrt(dec_to_double("q") / n - mean * mean)
    dstd = F.sqrt(dec_to_double("qd") / n)
    return m.select(
        "event_type",
        "n",
        mean.alias("mean_r_ppm"),
        std.alias("std_r_ppm"),
        (mean / std).alias("sharpe"),
        (mean / dstd).alias("sortino"),
    )


# -- X452 autocorrelation function (bounded daily series) --------------------
#
# ACF at lags 1..7 over the daily revenue series. The facts collapse to a
# BOUNDED ≤31-row day table (integer cents) in one keyed pass; the lagged
# products then live entirely on that bounded table (unpartitioned window
# over ≤31 rows — the house-allowed shape). Exactness: with S = Σr and
# n days, rho_k = Σ_t (n·r_t − S)(n·r_{t+k} − S) / Σ_t (n·r_t − S)² —
# every factor an exact DECIMAL(38,0) integer (n·r ~ 3e9, products ~1e19,
# sums ~1e21 — inside 38 digits with room to 100 TB cents), and the final
# ratio is one sign-split decimal→double per side.

_ACF_LAGS = 7

_ACF_ORACLE = f"""
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY day),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS sr
  FROM d),
c AS (
  SELECT d.day, CAST(s.n * d.r - s.sr AS DECIMAL(38,0)) AS dev, s.n
  FROM d, s),
den AS (
  SELECT CAST(SUM(dev * dev) AS DECIMAL(38,0)) AS d0 FROM c),
lags AS (
  SELECT l.l AS lag,
         CAST(SUM(a.dev * b.dev) AS DECIMAL(38,0)) AS num,
         MIN(a.n) AS n
  FROM unnest(generate_series(1, {_ACF_LAGS})) l(l)
  JOIN c a ON TRUE
  JOIN c b ON b.day = a.day + l.l
  GROUP BY l.l)
SELECT lags.lag, lags.n,
       CASE WHEN lags.num < 0 THEN -1.0 ELSE 1.0 END
         * {{abs_num}} / {{abs_den}} AS rho
FROM lags, den
ORDER BY lags.lag
"""


def _acf_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    return _ACF_ORACLE.format(
        abs_num=sql_dec_to_double("ABS(lags.num)"),
        abs_den=sql_dec_to_double("den.d0"),
    )


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The daily series excludes NULL ts BY CONTRACT on both engines
    # (r12 ts-NULL audit): a NULL day group would ride every ordered
    # traversal downstream (array_sort, Window.orderBy) at opposite
    # ends of the two engines' sort order. All eight callers' oracles
    # carry the matching ts IS NOT NULL.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    return (
        ev.groupBy(F.dayofyear("ts").cast("bigint").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("r")
        )
        # The bounded ≤366-row day table has multiple consumers in every
        # caller (ACF joins it against itself per lag; Pettitt three
        # ways) — materialize once so the fact scan runs once.
        .localCheckpoint(eager=False)
    )


@query("q_ts_acf", _acf_oracle())
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    d = _daily_cents(spark, sf_dir)
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    c = d.crossJoin(F.broadcast(s)).select(
        "day",
        (F.col("n") * F.col("r") - F.col("sr"))
        .cast("decimal(38,0)")
        .alias("dev"),
        "n",
    )
    den = c.agg(
        F.sum(F.col("dev") * F.col("dev"))
        .cast("decimal(38,0)")
        .alias("d0")
    )
    lag_ids = spark.range(1, _ACF_LAGS + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = c.alias("a")
    b = c.select(
        F.col("day").alias("bday"), F.col("dev").alias("bdev")
    ).alias("b")
    lags = (
        F.broadcast(lag_ids)
        .join(a, F.lit(True))
        .join(b, F.col("bday") == F.col("a.day") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("a.dev") * F.col("bdev"))
            .cast("decimal(38,0)")
            .alias("num"),
            F.min("a.n").alias("n"),
        )
    )
    return (
        lags.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n",
            (
                F.when(F.col("num") < 0, -1.0).otherwise(1.0)
                * dec_to_double(F.abs(F.col("num")))
                / dec_to_double(F.col("d0"))
            ).alias("rho"),
        )
        .orderBy("lag")
    )


# -- X453 Ljung-Box portmanteau test ------------------------------------------
#
# "Is the daily series white noise?" — Q = n(n+2) Σ_{k≤h} rho_k²/(n−k)
# over the X452 autocorrelations. The per-lag terms are the same
# exact-rational rho construction; the h=7-term sum goes through the
# exact-decimal double sum (dsum semantics) so the engines agree on the
# accumulation. Everything downstream of the one fact pass is bounded.

def _ljung_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    rho = (
        "CASE WHEN lags.num < 0 THEN -1.0 ELSE 1.0 END * "
        + sql_dec_to_double("ABS(lags.num)")
        + " / "
        + sql_dec_to_double("den.d0")
    )
    return f"""
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY day),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS sr
      FROM d),
c AS (SELECT d.day, CAST(s.n * d.r - s.sr AS DECIMAL(38,0)) AS dev, s.n
      FROM d, s),
den AS (SELECT CAST(SUM(dev * dev) AS DECIMAL(38,0)) AS d0 FROM c),
lags AS (
  SELECT l.l AS lag,
         CAST(SUM(a.dev * b.dev) AS DECIMAL(38,0)) AS num,
         MIN(a.n) AS n
  FROM unnest(generate_series(1, {_ACF_LAGS})) l(l)
  JOIN c a ON TRUE
  JOIN c b ON b.day = a.day + l.l
  GROUP BY l.l),
terms AS (
  SELECT lags.n,
         ({rho}) * ({rho}) / (lags.n - lags.lag) AS term
  FROM lags, den)
SELECT MIN(n) AS n, CAST({_ACF_LAGS} AS BIGINT) AS h,
       CAST(MIN(n) AS DOUBLE) * (MIN(n) + 2)
         * CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE) AS q_stat
FROM terms
"""


@query("q_ts_ljung_box", _ljung_oracle())
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    d = _daily_cents(spark, sf_dir)
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    c = d.crossJoin(F.broadcast(s)).select(
        "day",
        (F.col("n") * F.col("r") - F.col("sr"))
        .cast("decimal(38,0)")
        .alias("dev"),
        "n",
    )
    den = c.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("decimal(38,0)").alias("d0")
    )
    lag_ids = spark.range(1, _ACF_LAGS + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = c.alias("a")
    b = c.select(
        F.col("day").alias("bday"), F.col("dev").alias("bdev")
    ).alias("b")
    lags = (
        F.broadcast(lag_ids)
        .join(a, F.lit(True))
        .join(b, F.col("bday") == F.col("a.day") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("a.dev") * F.col("bdev"))
            .cast("decimal(38,0)")
            .alias("num"),
            F.min("a.n").alias("n"),
        )
    )
    rho = (
        F.when(F.col("num") < 0, -1.0).otherwise(1.0)
        * dec_to_double(F.abs(F.col("num")))
        / dec_to_double(F.col("d0"))
    )
    terms = lags.crossJoin(F.broadcast(den)).select(
        "n", (rho * rho / (F.col("n") - F.col("lag"))).alias("term")
    )
    return terms.agg(
        F.min("n").alias("n"),
        F.lit(_ACF_LAGS).cast("bigint").alias("h"),
        (
            F.min("n").cast("double")
            * (F.min("n") + 2)
            * exact_sum("term")
        ).alias("q_stat"),
    )


# -- X457 Markov transition matrix (sequence modeling) ------------------------
#
# First-order event-type transition estimates over per-user sessions:
# the building block for next-action models and synthetic-sequence QA.
# The lag lives INSIDE the user partition (keyed window — the natural
# distributed shape; no global ordering anywhere), ties on ts pinned by
# event_id. Row-normalized probabilities are exact integer ppm.

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events WHERE ts IS NOT NULL),
t AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type),
r AS (
  SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS row_total
  FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, t.n_trans, r.row_total,
       CAST(t.n_trans * 1000000 // r.row_total AS BIGINT) AS p_ppm
FROM t JOIN r ON r.prev_type = t.prev_type
"""


@query("q_ts_markov_transitions", _MARKOV_ORACLE)
def q_ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is the time axis — NULL ts excluded on both engines
    # (r12 ts-NULL audit)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))
    )
    r = t.groupBy(F.col("prev_type").alias("rp")).agg(
        F.sum("n_trans").cast("bigint").alias("row_total")
    )
    return t.join(F.broadcast(r), t["prev_type"] == F.col("rp")).select(
        "prev_type",
        "next_type",
        "n_trans",
        "row_total",
        F.expr("CAST(n_trans * 1000000 DIV row_total AS BIGINT)").alias(
            "p_ppm"
        ),
    )


# -- X458 EWMA over the bounded daily series ----------------------------------
#
# Exponentially-weighted moving average — the recursive fold every
# monitoring stack runs. The recursion is inherently ordered, so it runs
# as a SEQUENTIAL double fold over the bounded ≤31-element daily array
# (array_sort + slice/aggregate in Spark; list_sort + list_reduce in
# DuckDB — both left folds seeded with the first element, so the doubles
# are bit-identical). The fact scan itself stays one keyed aggregate;
# only the bounded series is folded.

_EWMA_ORACLE = """
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY day),
arr AS (
  SELECT list(CAST(r AS DOUBLE) ORDER BY day) AS xs,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(MAX(day) AS BIGINT) AS last_day
  FROM d)
SELECT n_days, last_day,
       list_reduce(xs, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma_03,
       list_reduce(xs, (acc, x) -> 0.1 * x + 0.9 * acc) AS ewma_01
FROM arr
"""


@query("q_ts_ewma_daily", _EWMA_ORACLE)
def q_ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents(spark, sf_dir)
    arr = d.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("day"), F.col("r").cast("double").alias("rv"))
            )
        ).alias("pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("day").cast("bigint").alias("last_day"),
    ).select(
        "n_days",
        "last_day",
        F.transform("pairs", lambda p: p["rv"]).alias("xs"),
    )

    def _ewma(alpha: float):
        return F.aggregate(
            F.slice(F.col("xs"), 2, 100000),
            F.element_at(F.col("xs"), 1),
            lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
        )

    return arr.select(
        "n_days",
        "last_day",
        _ewma(0.3).alias("ewma_03"),
        _ewma(0.1).alias("ewma_01"),
    )


# -- X462 Pettitt change-point test -------------------------------------------
#
# The rank-based single change-point detector (a Mann-Whitney U sweep):
# U_t = Σ_{i≤t} Σ_{j>t} sign(r_j − r_i) over the bounded daily-cents
# series, K = max_t |U_t|, t* = argmax (earliest day on ties). The facts
# collapse to the ≤31-row day table in one keyed pass; the sign matrix
# and the per-split sums live entirely on that bounded table — exact
# BIGINTs, no distribution assumptions, no row pairs at fact scale.

_PETTITT_ORACLE = """
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY day),
s AS (
  SELECT a.day AS t,
         CAST(SUM(CASE WHEN b.r > a2.r THEN 1
                       WHEN b.r < a2.r THEN -1 ELSE 0 END) AS BIGINT) AS u_t
  FROM d a
  JOIN d a2 ON a2.day <= a.day
  JOIN d b ON b.day > a.day
  GROUP BY a.day),
k AS (SELECT MAX(ABS(u_t)) AS k_stat FROM s)
SELECT CAST((SELECT MIN(t) FROM s, k WHERE ABS(s.u_t) = k.k_stat) AS BIGINT)
         AS t_star,
       CAST(k.k_stat AS BIGINT) AS k_stat,
       CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_days
FROM k
"""


@query("q_ts_pettitt", _PETTITT_ORACLE)
def q_ts_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents(spark, sf_dir)
    a = d.select(F.col("day").alias("t"))
    a2 = d.select(F.col("day").alias("iday"), F.col("r").alias("ir"))
    b = d.select(F.col("day").alias("jday"), F.col("r").alias("jr"))
    s = (
        a.join(F.broadcast(a2), F.col("iday") <= F.col("t"))
        .join(F.broadcast(b), F.col("jday") > F.col("t"))
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.col("jr") > F.col("ir"), 1)
                .when(F.col("jr") < F.col("ir"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("u_t")
        )
    )
    k = s.agg(F.max(F.abs("u_t")).alias("k_stat"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    t_star = (
        s.crossJoin(F.broadcast(k))
        .filter(F.abs("u_t") == F.col("k_stat"))
        .agg(F.min("t").cast("bigint").alias("t_star"))
    )
    return (
        t_star.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(n))
        .select(
            "t_star",
            F.col("k_stat").cast("bigint").alias("k_stat"),
            "n_days",
        )
    )


# -- X474 Grubbs outlier statistic (bounded daily series) ---------------------
#
# "Is the most extreme day an outlier?" — G = max|r_t − r̄| / s over the
# bounded daily-cents series. Shipped as exact rationals so no float
# moment ever crosses an engine boundary: with dev_t = n·r_t − S (exact
# integers), G² = n · max(dev²) / Σ dev² and the output is
# g2_ppm = 1e6·n·max_dev² DIV ss plus the argmax day (smallest day on
# ties) — the caller compares against their t-based critical value.

_GRUBBS_ORACLE = """
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY day),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS sr
      FROM d),
c AS (SELECT d.day, CAST(s.n * d.r - s.sr AS DECIMAL(38,0)) AS dev, s.n
      FROM d, s),
agg AS (
  SELECT MIN(n) AS n,
         CAST(SUM(dev * dev) AS DECIMAL(38,0)) AS ss,
         CAST(MAX(dev * dev) AS DECIMAL(38,0)) AS max_dev2
  FROM c)
SELECT agg.n,
       CAST((SELECT MIN(day) FROM c, agg WHERE c.dev * c.dev = agg.max_dev2)
            AS BIGINT) AS day_star,
       -- HUGEINT lane: DuckDB's // on DECIMAL operands degrades to a
       -- DOUBLE floor (off-by-one above 2^53 — caught by the sf0.001
       -- cross-SF gate); int128 division is exact and the quotient
       -- (≤ n·1e6) casts back to BIGINT safely.
       CAST(CAST(agg.max_dev2 AS HUGEINT) * agg.n * 1000000
            // CAST(agg.ss AS HUGEINT) AS BIGINT) AS g2_ppm
FROM agg
"""


@query("q_ts_grubbs", _GRUBBS_ORACLE)
def q_ts_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents(spark, sf_dir)
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    c = d.crossJoin(F.broadcast(s)).select(
        "day",
        (F.col("n") * F.col("r") - F.col("sr"))
        .cast("decimal(38,0)")
        .alias("dev"),
        "n",
    ).localCheckpoint(eager=False)
    agg = c.agg(
        F.min("n").alias("n"),
        F.sum(F.col("dev") * F.col("dev")).cast("decimal(38,0)").alias("ss"),
        F.max(F.col("dev") * F.col("dev"))
        .cast("decimal(38,0)")
        .alias("max_dev2"),
    )
    day_star = (
        c.crossJoin(F.broadcast(agg.select("max_dev2")))
        .filter(F.col("dev") * F.col("dev") == F.col("max_dev2"))
        .agg(F.min("day").cast("bigint").alias("day_star"))
    )
    return agg.crossJoin(F.broadcast(day_star)).select(
        "n",
        "day_star",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * max_dev2 * 1000000 DIV ss"
            " AS BIGINT)"
        ).alias("g2_ppm"),
    )


# =============================================================================
# Round-9 forecast-eval + technical-analysis wave (X500-X502). All three
# run on the bounded (<=366-row) daily-cents series: exact integer
# diffs/lags from one keyed fact pass, per-day doubles only on the
# bounded table, cross-day sums as day-ordered left folds (the X458
# lane). The per-day EMA SERIES (not just the final value) comes from a
# bounded prefix-fold: for each day d, fold the first d elements —
# O(n^2) lambda ops on n<=366, identical in both engines
# (slice+aggregate / list-slice+list_reduce).
# =============================================================================


# -- X501 MACD (12/26/9 EMA crossover) ----------------------------------------
#
# The canonical momentum indicator, completing the TA family (OHLC,
# Bollinger, VWAP, Sharpe, drawdown): EMA12 - EMA26 of the daily closes
# plus the 9-day signal line and histogram. Each day's EMA is a
# seeded-first left fold over that day's PREFIX of the day-sorted
# series (bit-identical in both engines); the signal line folds the
# MACD series the same way. Emits the last 30 days.

_MACD_ORACLE = """
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
arr AS (
  SELECT list(day ORDER BY day) AS days,
         list(CAST(r AS DOUBLE) ORDER BY day) AS xs,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM d),
ema AS (
  SELECT days, xs, n,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> list_reduce(xs[1:i],
                  (a, x) -> CAST('0.15384615384615385' AS DOUBLE) * x
                            + CAST('0.8461538461538461' AS DOUBLE) * a))
           AS e12,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> list_reduce(xs[1:i],
                  (a, x) -> CAST('0.07407407407407407' AS DOUBLE) * x
                            + CAST('0.9259259259259259' AS DOUBLE) * a))
           AS e26
  FROM arr),
macd AS (
  SELECT days, xs, n,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
                        i -> e12[i] - e26[i]) AS m
  FROM ema),
sig AS (
  SELECT days, xs, n, m,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> list_reduce(m[1:i],
                  (a, x) -> CAST('0.2' AS DOUBLE) * x
                            + CAST('0.8' AS DOUBLE) * a)) AS s
  FROM macd),
rows_out AS (
  SELECT UNNEST(list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> struct_pack(day := days[i], close_cents := xs[i],
                            macd := m[i], signal := s[i]))) AS u,
         n
  FROM sig)
SELECT u.day AS day, CAST(u.close_cents AS DOUBLE) / 100.0 AS close,
       u.macd AS macd, u.signal AS signal,
       u.macd - u.signal AS histogram
FROM rows_out
ORDER BY u.day DESC LIMIT 30
"""


def _prefix_ema(xs, n, alpha: float):
    """Per-index EMA series: seeded-first left fold over each prefix."""
    return F.transform(
        F.sequence(F.lit(1), n.cast("int")),
        lambda i: F.aggregate(
            F.slice(xs, 2, i - 1),
            F.element_at(xs, 1),
            lambda a, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * a,
        ),
    )


@query("q_ts_macd", _MACD_ORACLE)
def q_ts_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents(spark, sf_dir)
    arr = d.agg(
        F.array_sort(
            F.collect_list(
                F.struct("day", F.col("r").cast("double").alias("rv"))
            )
        ).alias("pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(
        F.transform("pairs", lambda p: p["day"]).alias("days"),
        F.transform("pairs", lambda p: p["rv"]).alias("xs"),
        "n",
    )
    # 2/(12+1), 2/(26+1), 2/(9+1) — repr-exact shared literals
    ema = arr.select(
        "days",
        "xs",
        "n",
        _prefix_ema(F.col("xs"), F.col("n"), 2.0 / 13.0).alias("e12"),
        _prefix_ema(F.col("xs"), F.col("n"), 2.0 / 27.0).alias("e26"),
    )
    macd = ema.select(
        "days",
        "xs",
        "n",
        F.zip_with("e12", "e26", lambda a, b: a - b).alias("m"),
    )
    sig = macd.select(
        "days",
        "xs",
        "n",
        "m",
        _prefix_ema(F.col("m"), F.col("n"), 0.2).alias("s"),
    )
    out = sig.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n").cast("int")),
                lambda i: F.struct(
                    F.element_at("days", i).alias("day"),
                    F.element_at("xs", i).alias("close_cents"),
                    F.element_at("m", i).alias("macd"),
                    F.element_at("s", i).alias("signal"),
                ),
            )
        ).alias("u")
    )
    return (
        out.select(
            F.col("u.day").alias("day"),
            (F.col("u.close_cents") / F.lit(100.0)).alias("close"),
            F.col("u.macd").alias("macd"),
            F.col("u.signal").alias("signal"),
            (F.col("u.macd") - F.col("u.signal")).alias("histogram"),
        )
        .orderBy(F.desc("day"))
        .limit(30)
    )


# -- X502 RSI (Wilder 14-day) --------------------------------------------------
#
# Relative Strength Index with Wilder's smoothing (EMA, alpha = 1/14)
# over day-over-day gains and losses — exact integer diffs from the
# daily-cents table, two prefix folds for the smoothed averages, and
# the zero-loss edge pinned to RSI = 100 in BOTH engines. Emits the
# last 30 days.

_RSI_ORACLE = """
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
diffs AS (
  SELECT day, r - LAG(r, 1) OVER (ORDER BY day) AS df
  FROM d),
gl AS (
  SELECT day,
         CAST(GREATEST(df, 0) AS DOUBLE) AS g,
         CAST(GREATEST(-df, 0) AS DOUBLE) AS l
  FROM diffs WHERE df IS NOT NULL),
arr AS (
  SELECT list(day ORDER BY day) AS days,
         list(g ORDER BY day) AS gs,
         list(l ORDER BY day) AS ls,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM gl),
sm AS (
  SELECT days, n,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> list_reduce(gs[1:i],
                  (a, x) -> CAST('0.07142857142857142' AS DOUBLE) * x
                            + CAST('0.9285714285714286' AS DOUBLE) * a))
           AS ag,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> list_reduce(ls[1:i],
                  (a, x) -> CAST('0.07142857142857142' AS DOUBLE) * x
                            + CAST('0.9285714285714286' AS DOUBLE) * a))
           AS al
  FROM arr),
rows_out AS (
  SELECT UNNEST(list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> struct_pack(day := days[i], ag := ag[i], al := al[i]))) AS u
  FROM sm)
SELECT u.day AS day, u.ag AS avg_gain, u.al AS avg_loss,
       CASE WHEN u.al = CAST(0.0 AS DOUBLE) THEN CAST(100.0 AS DOUBLE)
            ELSE CAST(100.0 AS DOUBLE)
                 - CAST(100.0 AS DOUBLE)
                   / (CAST(1.0 AS DOUBLE) + u.ag / u.al) END AS rsi
FROM rows_out
ORDER BY u.day DESC LIMIT 30
"""


@query("q_ts_rsi", _RSI_ORACLE)
def q_ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents(spark, sf_dir)
    w = Window.orderBy("day")
    diffs = d.select(
        "day", (F.col("r") - F.lag("r", 1).over(w)).alias("df")
    ).filter(F.col("df").isNotNull())
    gl = diffs.select(
        "day",
        F.greatest(F.col("df"), F.lit(0)).cast("double").alias("g"),
        F.greatest(-F.col("df"), F.lit(0)).cast("double").alias("l"),
    )
    arr = gl.agg(
        F.array_sort(
            F.collect_list(F.struct("day", "g", "l"))
        ).alias("ps"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(
        F.transform("ps", lambda p: p["day"]).alias("days"),
        F.transform("ps", lambda p: p["g"]).alias("gs"),
        F.transform("ps", lambda p: p["l"]).alias("ls"),
        "n",
    )
    sm = arr.select(
        "days",
        "n",
        _prefix_ema(F.col("gs"), F.col("n"), 1.0 / 14.0).alias("ag"),
        _prefix_ema(F.col("ls"), F.col("n"), 1.0 / 14.0).alias("al"),
    )
    out = sm.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n").cast("int")),
                lambda i: F.struct(
                    F.element_at("days", i).alias("day"),
                    F.element_at("ag", i).alias("ag"),
                    F.element_at("al", i).alias("al"),
                ),
            )
        ).alias("u")
    )
    rsi = F.when(F.col("u.al") == F.lit(0.0), F.lit(100.0)).otherwise(
        F.lit(100.0)
        - F.lit(100.0) / (F.lit(1.0) + F.col("u.ag") / F.col("u.al"))
    )
    return (
        out.select(
            F.col("u.day").alias("day"),
            F.col("u.ag").alias("avg_gain"),
            F.col("u.al").alias("avg_loss"),
            rsi.alias("rsi"),
        )
        .orderBy(F.desc("day"))
        .limit(30)
    )


# -- X503 Hurst exponent (rescaled-range analysis) ------------------------------
#
# The long-memory diagnostic: H from the R/S law E[R/S](w) ~ c * w^H,
# fit by OLS of ln(avg R/S) against ln(w) over window sizes
# w in {4, 6, 8, 12} on the daily-cents series (the events fixture
# spans ~30 days at every SF, so scales are sized to yield >=2 complete
# chunks each). All chunk statistics
# stay EXACT integers until the final per-chunk assembly: scaled
# cumulative deviations cum_t = w*prefix_t - t*chunk_sum are BIGINTs
# (so R_scaled = max-min is exact), and R/S = R_scaled /
# sqrt(w*sum(y^2) - sum(y)^2) — the w cancels, and the radicand is the
# exact non-negative decimal moment. Per-w averages fold in chunk
# order; the two ln families (ln w, ln avg_rs) ride one staged kernel;
# the 4-point OLS folds in w order. Convention: R uses max_t - min_t
# over t = 1..w (no 0 anchor); chunks with S = 0 are excluded in BOTH
# engines.

_HURST_ORACLE = """
WITH d AS (
  SELECT CAST(EXTRACT(DOY FROM ts) AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
idx AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, r,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM d),
cells AS (
  SELECT w.w, (i - 1) // w.w AS chunk, (i - 1) % w.w AS pos, r
  FROM idx CROSS JOIN (SELECT UNNEST([4, 6, 8, 12]) AS w) w
  WHERE (i - 1) // w.w < n // w.w),
pre AS (
  SELECT w, chunk, pos, r,
         CAST(SUM(r) OVER (PARTITION BY w, chunk ORDER BY pos) AS BIGINT)
           AS pref,
         CAST(SUM(r) OVER (PARTITION BY w, chunk) AS BIGINT) AS cs,
         CAST(SUM(CAST(r AS DECIMAL(28,0)) * r)
              OVER (PARTITION BY w, chunk) AS DECIMAL(38,0)) AS css
  FROM cells),
cum AS (
  SELECT w, chunk, cs, css,
         CAST(w AS BIGINT) * pref - (pos + 1) * cs AS c
  FROM pre),
chunks AS (
  SELECT w, chunk,
         CAST(MAX(c) - MIN(c) AS BIGINT) AS r_scaled,
         MAX(CAST(w AS DECIMAL(38,0)) * css
             - CAST(cs AS DECIMAL(38,0)) * cs) AS dd
  FROM cum GROUP BY 1, 2),
rs AS (
  SELECT w, chunk,
         CAST(r_scaled AS DOUBLE) / SQRT({dtd_dd}) AS rsv
  FROM chunks WHERE dd > 0),
avg_rs AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         list_reduce(list(rsv ORDER BY chunk), (a, b) -> a + b)
           / CAST(COUNT(*) AS DOUBLE) AS arv
  FROM rs GROUP BY 1),
stack AS (
  SELECT 'w' AS which, w, CAST(w AS DOUBLE) AS v FROM avg_rs
  UNION ALL SELECT 'r', w, arv FROM avg_rs),
lns AS ({LN_LAYER}),
piv AS (
  SELECT w,
         MAX(CASE WHEN which = 'w' THEN lnv END) AS x,
         MAX(CASE WHEN which = 'r' THEN lnv END) AS y
  FROM lns GROUP BY 1),
folds AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce(list(x ORDER BY w), (a, b) -> a + b) AS sx,
         list_reduce(list(y ORDER BY w), (a, b) -> a + b) AS sy,
         list_reduce(list(x * y ORDER BY w), (a, b) -> a + b) AS sxy,
         list_reduce(list(x * x ORDER BY w), (a, b) -> a + b) AS sxx
  FROM piv)
SELECT k AS n_scales,
       (CAST(k AS DOUBLE) * sxy - sx * sy)
         / (CAST(k AS DOUBLE) * sxx - sx * sx) AS hurst
FROM folds
"""


def _hurst_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import (
        sql_dec_to_double,
        sql_ln_layer,
    )

    return _HURST_ORACLE.replace("{dtd_dd}", sql_dec_to_double("dd")).replace(
        "{LN_LAYER}", sql_ln_layer("stack", "which, w")
    )


@query("q_ts_hurst", _hurst_oracle())
def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import (
        dec_to_double,
        fold_sum,
        pln_finish,
        pln_k,
        pln_red,
    )

    d = _daily_cents(spark, sf_dir)
    wfull = Window.orderBy("day")
    idx = d.select(
        F.row_number().over(wfull).cast("bigint").alias("i"),
        "r",
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    ws = spark.range(1).select(
        F.explode(F.array(*[F.lit(w) for w in (4, 6, 8, 12)])).alias("w")
    )
    cells = (
        idx.crossJoin(F.broadcast(ws))
        .select(
            "w",
            ((F.col("i") - 1) / F.col("w")).cast("bigint").alias("chunk"),
            ((F.col("i") - 1) % F.col("w")).alias("pos"),
            "r",
            "n",
        )
        .filter(F.col("chunk") < (F.col("n") / F.col("w")).cast("bigint"))
    )
    wc = Window.partitionBy("w", "chunk")
    pre = cells.select(
        "w",
        "chunk",
        "pos",
        F.sum("r").over(wc.orderBy("pos")).cast("bigint").alias("pref"),
        F.sum("r").over(wc).cast("bigint").alias("cs"),
        F.sum(F.col("r").cast("decimal(28,0)") * F.col("r"))
        .over(wc)
        .cast("decimal(38,0)")
        .alias("css"),
    )
    cum = pre.select(
        "w",
        "chunk",
        "cs",
        "css",
        (
            F.col("w").cast("bigint") * F.col("pref")
            - (F.col("pos") + 1) * F.col("cs")
        ).alias("c"),
    )
    chunks = cum.groupBy("w", "chunk").agg(
        (F.max("c") - F.min("c")).cast("bigint").alias("r_scaled"),
        F.max(
            F.col("w").cast("decimal(38,0)") * F.col("css")
            - F.col("cs").cast("decimal(38,0)") * F.col("cs")
        ).alias("dd"),
    )
    rs = chunks.filter(F.col("dd") > 0).select(
        "w",
        "chunk",
        (
            F.col("r_scaled").cast("double")
            / F.sqrt(dec_to_double(F.col("dd").cast("decimal(38,0)")))
        ).alias("rsv"),
    )
    avg_rs = (
        rs.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.array_sort(
                F.collect_list(F.struct("chunk", F.col("rsv").alias("t")))
            ).alias("ps"),
        )
        .select(
            "w",
            (
                fold_sum(F.transform("ps", lambda p: p["t"]))
                / F.col("n_chunks").cast("double")
            ).alias("arv"),
        )
        # <=4-row table feeds two stack branches: checkpoint so the
        # chunk machinery runs once
        .localCheckpoint(eager=True)
    )
    stack = avg_rs.select(
        F.lit("w").alias("which"), "w", F.col("w").cast("double").alias("v")
    ).unionAll(avg_rs.select(F.lit("r"), "w", F.col("arv")))
    lns = (
        stack.withColumn("red", pln_red("v"))
        .withColumn("kk", pln_k("v"))
        .select(
            "which",
            "w",
            pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.groupBy("w").agg(
        F.max(F.when(F.col("which") == "w", F.col("lnv"))).alias("x"),
        F.max(F.when(F.col("which") == "r", F.col("lnv"))).alias("y"),
    )
    folds = piv.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    "w",
                    F.col("x").alias("t1"),
                    F.col("y").alias("t2"),
                    (F.col("x") * F.col("y")).alias("t3"),
                    (F.col("x") * F.col("x")).alias("t4"),
                )
            )
        ).alias("ps"),
    ).select(
        "k",
        fold_sum(F.transform("ps", lambda p: p["t1"])).alias("sx"),
        fold_sum(F.transform("ps", lambda p: p["t2"])).alias("sy"),
        fold_sum(F.transform("ps", lambda p: p["t3"])).alias("sxy"),
        fold_sum(F.transform("ps", lambda p: p["t4"])).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    return folds.select(
        F.col("k").alias("n_scales"),
        (
            (kd * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (kd * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("hurst"),
    )
