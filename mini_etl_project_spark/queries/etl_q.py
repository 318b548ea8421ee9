"""AutoETL operators as oracle-checked queries (reference R7–R18 exercised
over the star-schema tables at scale, not just the 10-row golden fixture).

Each query stringifies/dirties real columns deterministically (so both
sides see identical messy inputs), applies the engine's cleaning/imputation
/outlier/dedup expressions, and the oracle replicates the semantics in
DuckDB SQL — including the 16-format date chain via ``try_strptime``'s
ordered format-list support.

The full pipeline (profile → clean → impute → clamp → dedup) also runs
end-to-end as ``q_etl_pipeline`` (rows-only: its data-dependent plan is
driver logic, not a single SQL statement; unit + golden tests pin its
semantics instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.cleaning import clean_numeric
from mini_etl_project_spark.functions.dates import parse_date_multi
from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import dsum, sql_dsum
from mini_etl_project_spark.session import load_table

# -- R9 numeric cleaning at scale ------------------------------------------
# Messy strings built from integer columns (int→string formatting is
# portable; float→string is not): "$<okey>.50", "<okey>,25" (decimal
# comma), sentinels on a deterministic subset.

_MESSY_NUM = """
CASE WHEN l_linenumber = 1 THEN '$' || CAST(l_orderkey AS VARCHAR) || '.50'
     WHEN l_linenumber = 2 THEN CAST(l_orderkey AS VARCHAR) || ',25'
     WHEN l_linenumber = 3 THEN 'N/A'
     WHEN l_linenumber = 4 THEN ' ' || CAST(l_partkey AS VARCHAR) || ' '
     WHEN l_linenumber = 5 THEN 'garbage'
     ELSE CAST(l_suppkey AS VARCHAR) || '.' || CAST(l_linenumber AS VARCHAR)
END
"""

_CLEAN_NUM_ORACLE = f"""
WITH messy AS (SELECT l_orderkey, l_linenumber, {_MESSY_NUM} AS raw FROM lineitem),
cleaned AS (
  SELECT l_orderkey, l_linenumber,
         TRY_CAST(NULLIF(REPLACE(REGEXP_REPLACE(raw, '[^0-9.,+-]', '', 'g'),
                                 ',', '.'), '') AS DOUBLE) AS val
  FROM messy)
SELECT COUNT(*) AS n_rows,
       COUNT(val) AS n_valid,
       {sql_dsum('val', 'sum_val')}
FROM cleaned
"""


@query("q_etl_clean_numeric", _CLEAN_NUM_ORACLE)
def q_etl_clean_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    okey = F.col("l_orderkey").cast("string")
    messy = (
        F.when(F.col("l_linenumber") == 1, F.concat(F.lit("$"), okey, F.lit(".50")))
        .when(F.col("l_linenumber") == 2, F.concat(okey, F.lit(",25")))
        .when(F.col("l_linenumber") == 3, F.lit("N/A"))
        .when(
            F.col("l_linenumber") == 4,
            F.concat(F.lit(" "), F.col("l_partkey").cast("string"), F.lit(" ")),
        )
        .when(F.col("l_linenumber") == 5, F.lit("garbage"))
        .otherwise(
            F.concat(
                F.col("l_suppkey").cast("string"),
                F.lit("."),
                F.col("l_linenumber").cast("string"),
            )
        )
    )
    val = clean_numeric("messy", compat=True)
    return l.select(messy.alias("messy")).select(val.alias("val")).agg(
        F.count("*").alias("n_rows"),
        F.count("val").alias("n_valid"),
        dsum("val", "sum_val"),
    )


# -- R8/R11 date parsing at scale ------------------------------------------
# Dates rendered into 4 competing formats (incl. day-first ambiguity) plus
# garbage; the oracle uses try_strptime with the same ordered format list.

_MESSY_DATE = """
CASE WHEN l_linenumber = 1 THEN strftime(l_shipdate, '%Y-%m-%d')
     WHEN l_linenumber = 2 THEN strftime(l_shipdate, '%d/%m/%Y')
     WHEN l_linenumber = 3 THEN strftime(l_shipdate, '%Y%m%d')
     WHEN l_linenumber = 4 THEN strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')
     WHEN l_linenumber = 5 THEN 'not-a-date'
     ELSE strftime(l_shipdate, '%d.%m.%Y')
END
"""

_CLEAN_DATE_ORACLE = f"""
WITH messy AS (SELECT l_orderkey, l_linenumber, {_MESSY_DATE} AS raw FROM lineitem),
parsed AS (
  SELECT CAST(try_strptime(TRIM(raw),
        ['%Y-%m-%d', '%Y/%m/%d', '%d-%m-%Y', '%d/%m/%Y',
         '%m-%d-%Y', '%m/%d/%Y', '%Y.%m.%d', '%d.%m.%Y',
         '%m.%d.%Y', '%Y%m%d', '%d%m%Y', '%m%d%Y',
         '%Y-%m-%d %H:%M:%S', '%Y/%m/%d %H:%M:%S',
         '%d-%m-%Y %H:%M:%S', '%d/%m/%Y %H:%M:%S']) AS DATE) AS d
  FROM messy)
SELECT COUNT(*) AS n_rows, COUNT(d) AS n_parsed,
       MIN(d) AS min_date, MAX(d) AS max_date
FROM parsed
"""


@query("q_etl_clean_date", _CLEAN_DATE_ORACLE)
def q_etl_clean_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate")
    messy = (
        F.when(F.col("l_linenumber") == 1, F.date_format(sd, "yyyy-MM-dd"))
        .when(F.col("l_linenumber") == 2, F.date_format(sd, "dd/MM/yyyy"))
        .when(F.col("l_linenumber") == 3, F.date_format(sd, "yyyyMMdd"))
        .when(F.col("l_linenumber") == 4, F.date_format(sd, "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("l_linenumber") == 5, F.lit("not-a-date"))
        .otherwise(F.date_format(sd, "dd.MM.yyyy"))
    )
    d = parse_date_multi("messy")
    return l.select(messy.alias("messy")).select(d.alias("d")).agg(
        F.count("*").alias("n_rows"),
        F.count("d").alias("n_parsed"),
        F.min("d").alias("min_date"),
        F.max("d").alias("max_date"),
    )


# -- R14 median imputation at scale ----------------------------------------

_IMPUTE_ORACLE = f"""
WITH dirty AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer),
med AS (SELECT MEDIAN(bal) AS m FROM dirty),
filled AS (SELECT c_mktsegment, COALESCE(bal, (SELECT m FROM med)) AS bal
           FROM dirty)
SELECT c_mktsegment, COUNT(*) AS n, {sql_dsum('bal', 'sum_bal')},
       MIN(bal) AS min_bal, MAX(bal) AS max_bal
FROM filled GROUP BY c_mktsegment
"""


@query("q_etl_impute_median", _IMPUTE_ORACLE)
def q_etl_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    dirty = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("bal"),
    )
    med = dirty.agg(F.median("bal").alias("m"))
    filled = dirty.crossJoin(F.broadcast(med)).select(
        "c_mktsegment", F.coalesce("bal", "m").alias("bal")
    )
    return filled.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        dsum("bal", "sum_bal"),
        F.min("bal").alias("min_bal"),
        F.max("bal").alias("max_bal"),
    )


# -- R16 outlier clamp at scale (z > 3 → clamp into [q05, q95]) ------------

_OUTLIER_ORACLE = f"""
WITH stats AS (
  SELECT AVG(o_totalprice) AS mu,
         STDDEV_SAMP(o_totalprice) AS sigma,
         QUANTILE_CONT(o_totalprice, 0.05) AS q05,
         QUANTILE_CONT(o_totalprice, 0.95) AS q95
  FROM orders),
clamped AS (
  SELECT CASE WHEN ABS((o_totalprice - mu) / sigma) > 1.5
              THEN LEAST(GREATEST(o_totalprice, q05), q95)
              ELSE o_totalprice END AS price
  FROM orders, stats)
SELECT COUNT(*) AS n_rows, {sql_dsum('price', 'sum_clamped')},
       MIN(price) AS min_price, MAX(price) AS max_price
FROM clamped
"""


@query("q_etl_outlier_clamp", _OUTLIER_ORACLE)
def q_etl_outlier_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sigma"),
        F.expr("percentile(o_totalprice, 0.05)").alias("q05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("q95"),
    )
    # z-threshold 1.5 (not the pipeline's 3.0) so real clamping happens on
    # this data — the operator semantics are what's under test.
    price = F.when(
        F.abs((F.col("o_totalprice") - F.col("mu")) / F.col("sigma")) > 1.5,
        F.least(F.greatest(F.col("o_totalprice"), F.col("q05")), F.col("q95")),
    ).otherwise(F.col("o_totalprice"))
    return (
        o.crossJoin(F.broadcast(stats))
        .select(price.alias("price"))
        .agg(
            F.count("*").alias("n_rows"),
            dsum("price", "sum_clamped"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
    )


# -- R17/X1 keyed dedup with deterministic keep-first ----------------------

_DEDUP_ORACLE = f"""
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey, l_suppkey,
                                        l_extendedprice) AS rn
  FROM lineitem)
SELECT COUNT(*) AS n_orders,
       {sql_dsum('l_extendedprice', 'sum_first_price')},
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_first_qty
FROM ranked WHERE rn = 1
"""


@query("q_etl_dedup_keyfirst", _DEDUP_ORACLE)
def q_etl_dedup_keyfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data — a
    # deterministic keep-first needs a total order within the key.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    return (
        l.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .agg(
            F.count("*").alias("n_orders"),
            dsum("l_extendedprice", "sum_first_price"),
            F.sum("l_quantity").cast("double").alias("sum_first_qty"),
        )
    )


# -- R18 whole-table summary stats -----------------------------------------
# stddev via the sum-of-squares identity over exact decimal sums: both
# engines then perform the identical double arithmetic.

_SUMMARY_ORACLE = """
WITH s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s_qty,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS ss_qty,
         MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
         COUNT(*) - COUNT(l_quantity) AS na_qty
  FROM lineitem)
SELECT n AS total_rows, na_qty,
       s_qty / n AS mean_qty,
       SQRT((ss_qty - s_qty * s_qty / n) / (n - 1)) AS std_qty,
       min_qty, max_qty, min_ship, max_ship
FROM s
"""


@query("q_etl_summary", _SUMMARY_ORACLE)
def q_etl_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    s = l.agg(
        F.count("*").alias("n"),
        dsum(q, "s_qty"),
        dsum(q * q, "ss_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        (F.count("*") - F.count(q)).alias("na_qty"),
    )
    n = F.col("n")
    return s.select(
        n.alias("total_rows"),
        "na_qty",
        (F.col("s_qty") / n).alias("mean_qty"),
        F.sqrt((F.col("ss_qty") - F.col("s_qty") * F.col("s_qty") / n) / (n - 1)).alias(
            "std_qty"
        ),
        "min_qty",
        "max_qty",
        "min_ship",
        "max_ship",
    )


# -- R19 fully oracle-checked: the ENTIRE pipeline vs one SQL statement ----
# For this input the data-dependent plan resolves deterministically
# (okey→numeric, price→numeric — plain numeric strings with an N/A
# minority so RAW detection stays >70 % — ship→date, flag→
# categorical with no rare values), so profile→clean→impute→clamp→dedup
# is expressible as a single DuckDB statement. Messy strings derive from
# INTEGER columns only (float→varchar formatting is engine-specific).

_DATE_LIST = """['%Y-%m-%d', '%Y/%m/%d', '%d-%m-%Y', '%d/%m/%Y',
 '%m-%d-%Y', '%m/%d/%Y', '%Y.%m.%d', '%d.%m.%Y',
 '%m.%d.%Y', '%Y%m%d', '%d%m%Y', '%m%d%Y',
 '%Y-%m-%d %H:%M:%S', '%Y/%m/%d %H:%M:%S',
 '%d-%m-%Y %H:%M:%S', '%d/%m/%Y %H:%M:%S']"""

_PIPE_ORACLE = f"""
WITH messy AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS okey,
         CASE WHEN l_linenumber = 3 THEN 'N/A'
              ELSE CAST(l_partkey AS VARCHAR) || '.'
                   || CAST(l_linenumber * 25 AS VARCHAR) END AS price,
         strftime(l_shipdate, '%d/%m/%Y') AS ship,
         l_returnflag AS flag
  FROM lineitem),
cleaned AS (
  SELECT TRY_CAST(NULLIF(REPLACE(REGEXP_REPLACE(okey, '[^0-9.,+-]', '', 'g'),
                                 ',', '.'), '') AS DOUBLE) AS okey,
         TRY_CAST(NULLIF(REPLACE(REGEXP_REPLACE(price, '[^0-9.,+-]', '', 'g'),
                                 ',', '.'), '') AS DOUBLE) AS price,
         CAST(try_strptime(TRIM(ship), {_DATE_LIST}) AS DATE) AS ship,
         flag  -- initcap of single uppercase letters is identity
  FROM messy),
med AS (SELECT MEDIAN(price) AS m FROM cleaned),
imputed AS (
  SELECT okey, COALESCE(price, (SELECT m FROM med)) AS price, ship, flag
  FROM cleaned),
stats AS (
  SELECT AVG(okey) AS mu_o, STDDEV_SAMP(okey) AS sd_o,
         QUANTILE_CONT(okey, 0.05) AS q5_o, QUANTILE_CONT(okey, 0.95) AS q95_o,
         AVG(price) AS mu_p, STDDEV_SAMP(price) AS sd_p,
         QUANTILE_CONT(price, 0.05) AS q5_p, QUANTILE_CONT(price, 0.95) AS q95_p
  FROM imputed),
clamped AS (
  SELECT CASE WHEN sd_o > 0 AND ABS((okey - mu_o) / sd_o) > 3
              THEN LEAST(GREATEST(okey, q5_o), q95_o) ELSE okey END AS okey,
         CASE WHEN sd_p > 0 AND ABS((price - mu_p) / sd_p) > 3
              THEN LEAST(GREATEST(price, q5_p), q95_p) ELSE price END AS price,
         ship, flag
  FROM imputed, stats)
SELECT DISTINCT okey, price, ship, flag FROM clamped
"""


@query("q_etl_pipeline_full", _PIPE_ORACLE)
def q_etl_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    raw = l.select(
        F.col("l_orderkey").cast("string").alias("okey"),
        F.when(F.col("l_linenumber") == 3, "N/A")
        .otherwise(
            F.concat(
                F.col("l_partkey").cast("string"),
                F.lit("."),
                (F.col("l_linenumber") * 25).cast("string"),
            )
        )
        .alias("price"),
        F.date_format("l_shipdate", "dd/MM/yyyy").alias("ship"),
        F.col("l_returnflag").alias("flag"),
    )
    pipe = AutoETLPipeline(compat=True, eager_summary=False)
    return pipe.transform(raw)


# -- R19 on a second table shape: events (timestamps + JSON props + a
# mostly-null column). Proves at driver level the paths the lineitem
# fixture can't reach: R13 drop (junk: 90 % null post-clean numeric),
# R12 rare-value merge (a synthesized sub-1 % category → 'Other'), date
# MODE fill (bogus minority in a datetime column → top-1 date, tie →
# smallest — pandas mode()[0] parity), and the unknown/text passthrough
# (props JSON strings). DuckDB has no initcap; single-word categories
# make upper(head)||lower(tail) equivalent.

_PIPE_EVENTS_ORACLE = f"""
WITH messy AS (
  SELECT CAST(event_id AS VARCHAR) AS eid,
         CASE WHEN event_id % 7 = 0 THEN 'N/A'
              ELSE CAST(user_id AS VARCHAR) END AS val,
         CASE WHEN event_id % 11 = 0 THEN 'bogus'
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS seen_date,
         -- NULL categories take the reference's astype(str) sentinel
         -- ('nan', title-cased to 'Nan' by the text cleaner) — the r12
         -- NULL audit showed the old equi-join on etype silently
         -- dropping NULL-category rows the pipeline keeps
         CASE WHEN event_id % 211 = 0 THEN 'rarecat'
              ELSE COALESCE(event_type, 'nan') END AS etype,
         props
  FROM events),
cleaned AS (
  SELECT TRY_CAST(NULLIF(REPLACE(REGEXP_REPLACE(eid, '[^0-9.,+-]', '', 'g'),
                                 ',', '.'), '') AS DOUBLE) AS eid,
         TRY_CAST(NULLIF(REPLACE(REGEXP_REPLACE(val, '[^0-9.,+-]', '', 'g'),
                                 ',', '.'), '') AS DOUBLE) AS val,
         CAST(try_strptime(TRIM(seen_date), {_DATE_LIST}) AS DATE)
           AS seen_date,
         upper(substr(etype, 1, 1)) || lower(substr(etype, 2)) AS etype,
         props
  FROM messy),
tot AS (SELECT COUNT(*) AS n FROM cleaned),
freq AS (SELECT etype, COUNT(*) AS c FROM cleaned GROUP BY etype),
merged AS (
  SELECT eid, val, seen_date,
         CASE WHEN f.c < GREATEST(2, 0.01 * (SELECT n FROM tot))
              THEN 'Other' ELSE cleaned.etype END AS etype,
         props
  FROM cleaned JOIN freq f ON cleaned.etype = f.etype),
med AS (SELECT MEDIAN(val) AS m FROM merged),
dmode AS (
  SELECT seen_date FROM merged WHERE seen_date IS NOT NULL
  GROUP BY seen_date ORDER BY COUNT(*) DESC, seen_date ASC LIMIT 1),
pmode AS (
  -- R15 mode impute reaches props too once the fixture carries NULLs
  -- there (r12 NULL audit): most frequent value, ties to smallest
  SELECT props FROM merged WHERE props IS NOT NULL
  GROUP BY props ORDER BY COUNT(*) DESC, props ASC LIMIT 1),
imputed AS (
  SELECT eid, COALESCE(val, (SELECT m FROM med)) AS val,
         COALESCE(seen_date, (SELECT seen_date FROM dmode)) AS seen_date,
         etype, COALESCE(props, (SELECT props FROM pmode)) AS props
  FROM merged),
stats AS (
  SELECT AVG(eid) AS mu_e, STDDEV_SAMP(eid) AS sd_e,
         QUANTILE_CONT(eid, 0.05) AS q5_e, QUANTILE_CONT(eid, 0.95) AS q95_e,
         AVG(val) AS mu_v, STDDEV_SAMP(val) AS sd_v,
         QUANTILE_CONT(val, 0.05) AS q5_v, QUANTILE_CONT(val, 0.95) AS q95_v
  FROM imputed),
clamped AS (
  SELECT CASE WHEN sd_e > 0 AND ABS((eid - mu_e) / sd_e) > 3
              THEN LEAST(GREATEST(eid, q5_e), q95_e) ELSE eid END AS eid,
         CASE WHEN sd_v > 0 AND ABS((val - mu_v) / sd_v) > 3
              THEN LEAST(GREATEST(val, q5_v), q95_v) ELSE val END AS val,
         seen_date, etype, props
  FROM imputed, stats)
SELECT DISTINCT eid, val, seen_date, etype, props FROM clamped
"""


@query("q_etl_pipeline_events", _PIPE_EVENTS_ORACLE)
def q_etl_pipeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    raw = e.select(
        F.col("event_id").cast("string").alias("eid"),
        F.when(F.col("event_id") % 7 == 0, "N/A")
        .otherwise(F.col("user_id").cast("string"))
        .alias("val"),
        F.when(F.col("event_id") % 11 == 0, "bogus")
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("seen_date"),
        F.when(F.col("event_id") % 211 == 0, "rarecat")
        .otherwise(F.col("event_type"))
        .alias("etype"),
        F.col("props"),
        # 90 % null, numeric remainder → typed NUMERIC, then dropped by
        # the missing-threshold rule (R13). A categorical-typed column
        # could never exercise the drop: the reference's astype(str)
        # turns its nulls into the surviving 'Nan' category.
        F.when(F.col("event_id") % 10 == 0, F.col("event_id").cast("string"))
        .alias("junk"),
    )
    pipe = AutoETLPipeline(compat=True, eager_summary=False)
    return pipe.transform(raw)


# -- R19/R24: the full data-dependent pipeline (rows-only) -----------------


@query("q_etl_pipeline")
def q_etl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full AutoETL over a stringified, dirtied slice of lineitem.

    The profile→plan machinery chooses types and cleaning at runtime; its
    semantics are pinned by the golden-parity and unit tests
    (tests/test_pipeline_golden.py, tests/test_cleaners.py); per-SF row
    counts, sorted-row sha256 and the ``price`` fill are pinned by
    tests/test_round2.py::test_pipeline_sf_rowcounts.

    ``exact_stats=False`` is the 100 TB posture: approx medians/percentiles
    are partial-aggregable, so every stats job is a straight map-side-
    combine aggregation with no exact-percentile sort state.
    """
    l = load_table(spark, sf_dir, "lineitem")
    raw = l.select(
        F.col("l_orderkey").cast("string").alias("okey"),
        F.when(F.col("l_linenumber") == 3, "N/A")
        .otherwise(F.concat(F.lit("$"), F.col("l_extendedprice").cast("string")))
        .alias("price"),
        F.date_format("l_shipdate", "dd/MM/yyyy").alias("ship"),
        F.col("l_returnflag").alias("flag"),
    )
    pipe = AutoETLPipeline(
        compat=True,
        eager_summary=False,
        exact_stats=False,
        # r12 optimization (guide §1.2 step 1 — don't compute what you
        # throw away): R7 type detection needs parse RATIOS vs a 0.7
        # threshold, not a full scan; the deterministic 1/20 content-hash
        # sample decides the same types (ratios here are ~0.0/~1.0, far
        # from the threshold). Every DATA decision (fill values, clamp
        # scalars, rare merge, n_rows) still comes from full-scan jobs —
        # the output frame is bit-identical to the full-row profile
        # (verified cell-for-cell at all 3 SFs, OPTIMIZATION_r12.md;
        # pinned by test_round2.py's sampled-vs-full-profile test).
        profile_sample_mod=20,
    )
    return pipe.transform(raw)


# -- R16+ robust outlier detection (MAD) ------------------------------------
# The reference clamps at z>3 (mean/stddev — both corrupted by the very
# outliers being hunted). The robust upgrade: flag |x − median| >
# 3·1.4826·MAD, where MAD = median(|x − median|). Exact interpolating
# percentiles on both sides (the R14 convention), all arithmetic in
# doubles, so group medians, MADs, and flag counts are oracle-exact.
# Cost: two grouped exact-percentile aggregations + one broadcast-sized
# join of per-group scalars — no window over raw rows.

_MAD_ORACLE = """
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderpriority),
dev AS (
  SELECT o.o_orderpriority, o.o_totalprice, m.med,
         ABS(o.o_totalprice - m.med) AS adev
  FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority),
mad AS (
  SELECT o_orderpriority, ANY_VALUE(med) AS med,
         quantile_cont(adev, 0.5) AS mad, COUNT(*) AS n_rows
  FROM dev GROUP BY o_orderpriority)
SELECT d.o_orderpriority, ANY_VALUE(m.n_rows) AS n_rows,
       ANY_VALUE(m.med) AS med, ANY_VALUE(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.o_orderpriority = m.o_orderpriority
GROUP BY d.o_orderpriority
"""


@query("q_etl_outlier_mad", _MAD_ORACLE)
def q_etl_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.first("med").alias("g_med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.count("*").alias("n_rows"),
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.first("g_med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# -- Grouped winsorization ---------------------------------------------------
#
# The gentler sibling of the R16 clamp: ALL values outside the group's
# exact [p05, p95] interpolating percentiles are pulled to the fence
# (not just z>3 outliers). Fences come from one grouped exact-percentile
# aggregate (broadcast-sized), the clamp is a scan-parallel projection,
# and the per-group clamp counts ride the same final aggregate — no
# second pass. Interpolating percentiles are bit-equal in both engines
# (the R14 convention), so fences and clamped sums hash-match.

_WINSORIZE_ORACLE = """
WITH fences AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY o_orderpriority)
SELECT o.o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o.o_totalprice < f.lo
                       OR o.o_totalprice > f.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       ANY_VALUE(f.lo) AS lo, ANY_VALUE(f.hi) AS hi,
       CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, f.lo), f.hi)
                     AS DECIMAL(38,6))) AS DOUBLE) AS winsorized_sum
FROM orders o JOIN fences f ON o.o_orderpriority = f.o_orderpriority
GROUP BY o.o_orderpriority
"""


@query("q_etl_winsorize", _WINSORIZE_ORACLE)
def q_etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fences = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    j = o.join(F.broadcast(fences), "o_orderpriority")
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    out = F.when(
        (F.col("o_totalprice") < F.col("lo"))
        | (F.col("o_totalprice") > F.col("hi")),
        1,
    ).otherwise(0)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.sum(out).cast("bigint").alias("n_clamped"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
        dsum(clamped, "winsorized_sum"),
    )


# -- Audit / lineage columns -------------------------------------------------
#
# The ingestion-metadata projection every warehouse table carries: a
# deterministic row fingerprint (md5 over a canonical null-tagged
# column concatenation), the source tag, and a batch id — all pure
# expressions. The fingerprint doubles as the exact-dedup key and the
# CDC join key downstream; nondeterministic inputs (ingest wall-clock,
# input_file_name) deliberately stay OUT of the fingerprint.

_AUDIT_ORACLE = """
SELECT o_orderkey,
       md5('orders' || '|' || CAST(o_orderkey AS VARCHAR)
           || '|' || COALESCE(o_orderstatus, '<null>')
           || '|' || CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))
         AS row_fp,
       'orders' AS src_table,
       CAST(o_orderkey % 16 AS BIGINT) AS ingest_shard
FROM orders WHERE o_orderkey % 11 = 0
"""


@query("q_etl_audit_columns", _AUDIT_ORACLE)
def q_etl_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 11 == 0
    )
    fp = F.md5(
        F.concat_ws(
            "|",
            F.lit("orders"),
            F.col("o_orderkey").cast("string"),
            F.coalesce(F.col("o_orderstatus"), F.lit("<null>")),
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        )
    )
    return o.select(
        "o_orderkey",
        fp.alias("row_fp"),
        F.lit("orders").alias("src_table"),
        (F.col("o_orderkey") % 16).cast("bigint").alias("ingest_shard"),
    )


# -- k-anonymity audit -------------------------------------------------------
#
# Privacy QA for training-data exports: group by the quasi-identifier
# tuple and report equivalence classes smaller than k (the rows a
# re-identification attack can isolate). One keyed aggregate + bounded
# histogram — the privacy twin of the dup-cluster stats.

_K_ANON_ORACLE = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         COUNT(*) AS sz
  FROM customer GROUP BY c_nationkey, c_mktsegment, bal_band)
SELECT CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS n_exposed_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(sz) AS BIGINT) AS min_class_size
FROM classes
"""


@query("q_quality_k_anonymity", _K_ANON_ORACLE)
def q_quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").alias("sz"))
    small = F.col("sz") < 5
    return classes.agg(
        F.sum(small.cast("long")).cast("bigint").alias("n_violating_classes"),
        F.sum(F.when(small, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_exposed_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("sz").cast("bigint").alias("min_class_size"),
    )


# -- X208 unit harmonization -----------------------------------------------
#
# Classic ingestion cleanup: quantity strings carrying heterogeneous
# units ("12.5 kg" / "12500 g" / "0.0125 t") normalize to one canonical
# unit.  The dirty column derives deterministically from lineitem (unit
# by key mod 3, magnitude scaled to keep the physical quantity
# identical), so harmonized values must agree EXACTLY with the original
# integer gram count — a provable round-trip, not a heuristic.  Pure
# expressions: regexp extraction, CASE multipliers, integer arithmetic.

_UNIT_ORACLE = """
WITH dirty AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) * 1000 AS true_grams,
         CASE l_orderkey % 3
           WHEN 0 THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || ' kg'
           WHEN 1 THEN CAST(CAST(l_quantity AS BIGINT) * 1000 AS VARCHAR)
                       || ' g'
           ELSE CAST(CAST(l_quantity AS BIGINT) * 1000000 AS VARCHAR)
                || ' mg'
         END AS qty_str
  FROM lineitem),
parsed AS (
  SELECT l_orderkey, l_linenumber, true_grams, qty_str,
         CAST(regexp_extract(qty_str, '^([0-9]+)', 1) AS BIGINT) AS mag,
         regexp_extract(qty_str, '(kg|mg|g)$', 1) AS unit
  FROM dirty)
SELECT l_orderkey, l_linenumber, qty_str,
       CASE unit WHEN 'kg' THEN mag * 1000
                 WHEN 'g' THEN mag
                 ELSE mag // 1000 END AS grams,
       CAST(CASE unit WHEN 'kg' THEN mag * 1000
                      WHEN 'g' THEN mag
                      ELSE mag // 1000 END = true_grams AS INT)
         AS roundtrip_ok
FROM parsed
"""


@query("q_etl_unit_harmonize", _UNIT_ORACLE)
def q_etl_unit_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    qint = F.col("l_quantity").cast("bigint")
    dirty = l.select(
        "l_orderkey",
        "l_linenumber",
        (qint * 1000).alias("true_grams"),
        F.when(
            F.col("l_orderkey") % 3 == 0,
            F.concat(qint.cast("string"), F.lit(" kg")),
        )
        .when(
            F.col("l_orderkey") % 3 == 1,
            F.concat((qint * 1000).cast("string"), F.lit(" g")),
        )
        .otherwise(F.concat((qint * 1000000).cast("string"), F.lit(" mg")))
        .alias("qty_str"),
    )
    parsed = dirty.select(
        "*",
        F.regexp_extract("qty_str", r"^([0-9]+)", 1).cast("bigint").alias(
            "mag"
        ),
        F.regexp_extract("qty_str", r"(kg|mg|g)$", 1).alias("unit"),
    )
    grams = (
        F.when(F.col("unit") == "kg", F.col("mag") * 1000)
        .when(F.col("unit") == "g", F.col("mag"))
        .otherwise(F.expr("mag DIV 1000"))
    )
    return parsed.select(
        "l_orderkey",
        "l_linenumber",
        "qty_str",
        grams.alias("grams"),
        (grams == F.col("true_grams")).cast("int").alias("roundtrip_ok"),
    )


# -- X243 schema drift detection over semi-structured payloads --------------
#
# Production ETL watches upstream JSON payloads for drift: keys appearing,
# disappearing, or changing type between snapshots. The corpus carries a
# single stable key, so drift is PLANTED deterministically (the
# q_fn_json_keys convention): in the "new" half (odd event_id), every
# 3rd event re-types k to a quoted string and every 5th gains a key "v".
# Detection itself is the real operator: explode observed keys per half,
# profile presence + numeric-parse rate per key (try_cast — no schema
# assumed), and classify ADDED / REMOVED / TYPE_CHANGED / STABLE. Two
# keyed aggregations over one scan; the key inventory is bounded, the
# classification join is a broadcast.

_DRIFT_ORACLE = """
WITH halves AS (
  SELECT event_id % 2 AS half,
         CASE
           WHEN event_id % 2 = 1 AND event_id % 3 = 0
             THEN '{"k": "' || json_extract_string(props, '$.k') || '"}'
           WHEN event_id % 2 = 1 AND event_id % 5 = 0
             THEN '{"k": ' || json_extract_string(props, '$.k')
                  || ', "v": "x"}'
           ELSE props
         END AS p
  FROM events),
keyed AS (
  SELECT half, UNNEST(json_keys(p)) AS key, p FROM halves),
prof AS (
  SELECT half, key,
         CAST(COUNT(*) AS BIGINT) AS n_present,
         CAST(COUNT(TRY_CAST(json_extract_string(p, '$."' || key || '"')
                             AS DOUBLE)) AS BIGINT) AS n_numeric
  FROM keyed GROUP BY half, key),
pivoted AS (
  SELECT key,
         MAX(CASE WHEN half = 0 THEN n_present END) AS old_present,
         MAX(CASE WHEN half = 0 THEN n_numeric END) AS old_numeric,
         MAX(CASE WHEN half = 1 THEN n_present END) AS new_present,
         MAX(CASE WHEN half = 1 THEN n_numeric END) AS new_numeric
  FROM prof GROUP BY key)
SELECT key,
       COALESCE(old_present, 0) AS old_present,
       COALESCE(new_present, 0) AS new_present,
       CASE
         WHEN old_present IS NULL THEN 'added'
         WHEN new_present IS NULL THEN 'removed'
         WHEN (old_numeric = old_present) <> (new_numeric = new_present)
           THEN 'type_changed'
         ELSE 'stable'
       END AS status
FROM pivoted
"""


@query("q_etl_schema_drift", _DRIFT_ORACLE)
def q_etl_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k_val = F.get_json_object("props", "$.k")
    p = (
        F.when(
            (F.col("event_id") % 2 == 1) & (F.col("event_id") % 3 == 0),
            F.concat(F.lit('{"k": "'), k_val, F.lit('"}')),
        )
        .when(
            (F.col("event_id") % 2 == 1) & (F.col("event_id") % 5 == 0),
            F.concat(F.lit('{"k": '), k_val, F.lit(', "v": "x"}')),
        )
        .otherwise(F.col("props"))
    )
    halves = ev.select((F.col("event_id") % 2).alias("half"), p.alias("p"))
    keyed = halves.select(
        "half", F.explode(F.json_object_keys("p")).alias("key"), "p"
    )
    prof = keyed.groupBy("half", "key").agg(
        F.count("*").cast("bigint").alias("n_present"),
        F.count(
            F.expr(
                "try_cast(get_json_object(p, concat('$.\"', key, '\"'))"
                " AS DOUBLE)"
            )
        ).cast("bigint").alias("n_numeric"),
    )
    pivoted = prof.groupBy("key").agg(
        F.max(F.when(F.col("half") == 0, F.col("n_present"))).alias(
            "old_present"
        ),
        F.max(F.when(F.col("half") == 0, F.col("n_numeric"))).alias(
            "old_numeric"
        ),
        F.max(F.when(F.col("half") == 1, F.col("n_present"))).alias(
            "new_present"
        ),
        F.max(F.when(F.col("half") == 1, F.col("n_numeric"))).alias(
            "new_numeric"
        ),
    )
    status = (
        F.when(F.col("old_present").isNull(), "added")
        .when(F.col("new_present").isNull(), "removed")
        .when(
            (F.col("old_numeric") == F.col("old_present"))
            != (F.col("new_numeric") == F.col("new_present")),
            "type_changed",
        )
        .otherwise("stable")
    )
    return pivoted.select(
        "key",
        F.coalesce("old_present", F.lit(0)).alias("old_present"),
        F.coalesce("new_present", F.lit(0)).alias("new_present"),
        status.alias("status"),
    )


# -- X270 nested-JSON flattening --------------------------------------------
#
# Semi-structured ingestion: nested objects and arrays flattened into
# typed columns. The nesting is PLANTED deterministically from the flat
# fixture (both engines build the identical payload), then Spark parses
# with an explicit from_json schema — struct field access and array
# indexing stay whole-stage-codegen — while the oracle walks the same
# paths with json_extract. Aggregated per event_type so the comparison
# pins sums of every extracted field.

_JSON_FLATTEN_ORACLE = """
WITH nested AS (
  SELECT event_type,
         '{"a": {"b": ' || json_extract_string(props, '$.k')
           || ', "c": "u' || CAST(user_id % 10 AS VARCHAR)
           || '"}, "d": [' || CAST(event_id % 100 AS VARCHAR) || ', '
           || CAST(event_id % 7 AS VARCHAR) || ']}' AS payload
  FROM events),
flat AS (
  SELECT event_type,
         CAST(json_extract(payload, '$.a.b') AS BIGINT) AS ab,
         json_extract_string(payload, '$.a.c') AS ac,
         CAST(json_extract(payload, '$.d[0]') AS BIGINT) AS d0,
         CAST(json_array_length(payload, '$.d') AS BIGINT) AS dn
  FROM nested)
SELECT event_type,
       CAST(SUM(ab) AS BIGINT) AS ab_sum,
       CAST(COUNT(DISTINCT ac) AS BIGINT) AS ac_distinct,
       CAST(SUM(d0) AS BIGINT) AS d0_sum,
       CAST(SUM(dn) AS BIGINT) AS dn_sum
FROM flat GROUP BY event_type
"""


@query("q_etl_json_flatten", _JSON_FLATTEN_ORACLE)
def q_etl_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"a": {"b": '),
        F.get_json_object("props", "$.k"),
        F.lit(', "c": "u'),
        (F.col("user_id") % 10).cast("string"),
        F.lit('"}, "d": ['),
        (F.col("event_id") % 100).cast("string"),
        F.lit(", "),
        (F.col("event_id") % 7).cast("string"),
        F.lit("]}"),
    )
    schema = "a struct<b: bigint, c: string>, d array<bigint>"
    flat = ev.select(
        "event_type", F.from_json(payload, schema).alias("j")
    ).select(
        "event_type",
        F.col("j.a.b").alias("ab"),
        F.col("j.a.c").alias("ac"),
        F.element_at("j.d", 1).alias("d0"),
        F.size("j.d").cast("bigint").alias("dn"),
    )
    return flat.groupBy("event_type").agg(
        F.sum("ab").cast("bigint").alias("ab_sum"),
        F.countDistinct("ac").cast("bigint").alias("ac_distinct"),
        F.sum("d0").cast("bigint").alias("d0_sum"),
        F.sum("dn").cast("bigint").alias("dn_sum"),
    )


# -- X274 golden-record survivorship (MDM merge) ----------------------------
#
# Master-data dedup's second half: after clustering duplicates, pick ONE
# surviving value per attribute under explicit rules. Duplicate clusters
# are planted deterministically (each customer key < 500 gains two
# degraded copies: one with a truncated name + stale balance, one with a
# NULL segment), then per cluster the survivors are chosen by rule:
#   name    → longest, tie → lexicographically first   (completeness)
#   balance → value from the most recent version        (recency)
#   segment → first non-null by version                 (first-known)
# Each rule is one deterministic keyed aggregate (max_by-style structs);
# no window over raw rows. The oracle replays the identical planting
# and rules.

_SURVIVOR_ORACLE = """
WITH copies AS (
  SELECT c_custkey AS k, 0 AS ver, c_name AS name,
         c_acctbal AS bal, c_mktsegment AS seg
  FROM customer WHERE c_custkey < 500
  UNION ALL
  SELECT c_custkey, 1, substr(c_name, 1, 10),
         c_acctbal - 100.0, c_mktsegment
  FROM customer WHERE c_custkey < 500
  UNION ALL
  SELECT c_custkey, 2, c_name || ' jr', c_acctbal + 50.0, NULL
  FROM customer WHERE c_custkey < 500),
name_pick AS (
  SELECT k, MIN(name) AS s_name FROM copies c1
  WHERE LEN(name) = (SELECT MAX(LEN(name)) FROM copies c2 WHERE c2.k = c1.k)
  GROUP BY k),
bal_pick AS (
  SELECT k, MAX_BY(bal, ver) AS s_bal FROM copies GROUP BY k),
seg_pick AS (
  SELECT k, MIN_BY(seg, CASE WHEN seg IS NOT NULL THEN ver END) AS s_seg
  FROM copies WHERE seg IS NOT NULL GROUP BY k),
golden AS (
  SELECT n.k, n.s_name, b.s_bal, s.s_seg
  FROM name_pick n JOIN bal_pick b ON b.k = n.k
  LEFT JOIN seg_pick s ON s.k = n.k)
SELECT s_seg, CAST(COUNT(*) AS BIGINT) AS n_golden,
       CAST(SUM(LEN(s_name)) AS BIGINT) AS name_len_sum,
       {dsum}
FROM golden GROUP BY s_seg
""".format(dsum=sql_dsum("s_bal", "bal_sum"))


@query("q_etl_survivorship", _SURVIVOR_ORACLE)
def q_etl_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 500
    )
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(0).alias("ver"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(1).alias("ver"),
        F.substring("c_name", 1, 10).alias("name"),
        (F.col("c_acctbal") - 100.0).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    v2 = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(2).alias("ver"),
        F.concat(F.col("c_name"), F.lit(" jr")).alias("name"),
        (F.col("c_acctbal") + 50.0).alias("bal"),
        F.lit(None).cast("string").alias("seg"),
    )
    copies = base.unionByName(v1).unionByName(v2)
    # completeness rule: longest name, lexicographic tie-break — one
    # aggregate via min over (−len, name) ordering encoded as a struct
    name_pick = copies.groupBy("k").agg(
        F.min(
            F.struct((-F.length("name")).alias("neg"), F.col("name"))
        )["name"].alias("s_name")
    )
    bal_pick = copies.groupBy("k").agg(
        F.max_by("bal", "ver").alias("s_bal")
    )
    seg_pick = (
        copies.filter(F.col("seg").isNotNull())
        .groupBy("k")
        .agg(F.min_by("seg", "ver").alias("s_seg"))
    )
    golden = name_pick.join(bal_pick, "k").join(seg_pick, "k", "left")
    return golden.groupBy("s_seg").agg(
        F.count("*").cast("bigint").alias("n_golden"),
        F.sum(F.length("s_name")).cast("bigint").alias("name_len_sum"),
        dsum("s_bal", "bal_sum"),
    )


# -- X298 multi-source reconciliation audit --------------------------------
#
# The warehouse closing-the-books check: the same economic fact from two
# independent feeds — the order header's total vs the sum of its line
# items — full-outer-joined on the business key and classified into
# match / tolerated (within 1%) / mismatch / missing-on-either-side,
# with planted feed gaps (every 50th header, every 77th line-item order)
# so both missing classes are provably non-empty. One keyed aggregate
# per side + one shuffle join on the key; cents are exact BIGINTs and
# the 1% tolerance is integer cross-multiplied.

_RECONCILE_ORACLE = """
WITH side_a AS (
  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS a
  FROM orders WHERE o_orderkey % 50 <> 0),
side_b AS (
  SELECT l_orderkey AS k,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS b
  FROM lineitem WHERE l_orderkey % 77 <> 0 GROUP BY l_orderkey),
joined AS (
  SELECT COALESCE(a.k, b.k) AS k, a.a, b.b,
         CASE WHEN a.k IS NULL THEN 'missing_a'
              WHEN b.k IS NULL THEN 'missing_b'
              WHEN a.a = b.b THEN 'match'
              WHEN ABS(a.a - b.b) * 100 <= a.a THEN 'tolerated'
              ELSE 'mismatch' END AS class
  FROM side_a a FULL OUTER JOIN side_b b ON a.k = b.k)
SELECT class,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(ABS(COALESCE(a, 0) - COALESCE(b, 0))) AS BIGINT)
         AS total_abs_diff_cents
FROM joined GROUP BY class ORDER BY class
"""


@query("q_etl_reconcile", _RECONCILE_ORACLE)
def q_etl_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    side_a = o.filter(F.col("o_orderkey") % 50 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("a"),
    )
    side_b = (
        li.filter(F.col("l_orderkey") % 77 != 0)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("b")
        )
    )
    a, b = side_a.alias("a"), side_b.alias("b")
    joined = a.join(b, F.col("a.k") == F.col("b.k"), "full").select(
        F.col("a.a").alias("a"),
        F.col("b.b").alias("b"),
        F.when(F.col("a.k").isNull(), "missing_a")
        .when(F.col("b.k").isNull(), "missing_b")
        .when(F.col("a.a") == F.col("b.b"), "match")
        .when(
            F.abs(F.col("a.a") - F.col("b.b")) * 100 <= F.col("a.a"),
            "tolerated",
        )
        .otherwise("mismatch")
        .alias("class"),
    )
    return joined.groupBy("class").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.abs(
                F.coalesce("a", F.lit(0)) - F.coalesce("b", F.lit(0))
            )
        )
        .cast("bigint")
        .alias("total_abs_diff_cents"),
    )


# -- X300 late-arriving dimension members ----------------------------------
#
# The Kimball late-arriving-dimension pattern: facts stream in referencing
# dimension keys the warehouse has not loaded yet.  The engine must (a)
# keep the facts, attributing them to an INFERRED placeholder member, and
# (b) re-attribute them once the late dimension feed lands.  Simulated
# deterministically: the dim snapshot is `part` minus every 10th key; the
# late feed is exactly those keys.  Both phases come out of ONE fact scan
# and ONE broadcast join — facts pre-aggregate per partkey (map-side
# combine), join the full dim carrying an `is_late` flag, and a 2-element
# explode derives the snapshot-phase attribution (late → INFERRED) and the
# backfilled attribution from the same joined row.  At 100 TB the dim side
# broadcasts and the only shuffle is the keyed fact pre-aggregate.

_LATE_DIM_ORACLE = """
WITH facts AS (
  SELECT l_partkey AS k, COUNT(*) AS nf,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM lineitem GROUP BY l_partkey),
dim AS (
  SELECT p_partkey AS k, p_brand, (p_partkey % 10 = 0) AS is_late
  FROM part),
j AS (
  SELECT f.k, f.nf, f.rev, d.p_brand, d.is_late
  FROM facts f JOIN dim d ON f.k = d.k),
phases AS (
  SELECT 'snapshot' AS phase,
         CASE WHEN is_late THEN 'INFERRED' ELSE p_brand END AS brand,
         nf, rev
  FROM j
  UNION ALL
  SELECT 'backfill' AS phase, p_brand AS brand, nf, rev FROM j)
SELECT phase, brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(nf) AS BIGINT) AS n_facts,
       CAST(SUM(rev) AS BIGINT) AS rev_cents
FROM phases GROUP BY phase, brand ORDER BY phase, brand
"""


@query("q_etl_late_arriving_dim", _LATE_DIM_ORACLE)
def q_etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    facts = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("nf"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    )
    dim = part.select(
        F.col("p_partkey").alias("k"),
        "p_brand",
        (F.col("p_partkey") % 10 == 0).alias("is_late"),
    )
    j = facts.join(broadcast(dim), "k")
    phased = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("snapshot").alias("phase"),
                    F.when(F.col("is_late"), "INFERRED")
                    .otherwise(F.col("p_brand"))
                    .alias("brand"),
                ),
                F.struct(
                    F.lit("backfill").alias("phase"),
                    F.col("p_brand").alias("brand"),
                ),
            )
        ).alias("ph"),
        "nf",
        "rev",
    )
    return (
        phased.groupBy(
            F.col("ph.phase").alias("phase"), F.col("ph.brand").alias("brand")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("nf").cast("bigint").alias("n_facts"),
            F.sum("rev").cast("bigint").alias("rev_cents"),
        )
        .orderBy("phase", "brand")
    )


# -- X412 Randomized response with debiasing --------------------------------
#
# Local-DP-style private counting: each row reports its sensitive bit
# (did the line get returned?) FLIPPED with probability p = 1/4, and
# the analyst debiases the reported count — est = (reported - p*n) /
# (1 - 2p), which at p=1/4 is the exact integer 2*reported - n/2,
# carried here as est_x2 = 4*reported - n to avoid the halving. The
# "coin" is the repo's deterministic md5-uniform (u % 4 == 0 flips),
# so both engines agree on every reported bit and the audit can show
# true vs estimated error per group — the plumbing a privacy-budgeted
# pipeline needs, minus the nondeterminism that would break replay.
# One conditional-aggregate pass per priority group; all integers.

_RR_ORACLE = """
WITH x AS (
  SELECT o.o_orderpriority AS grp,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS bit,
         CASE WHEN
           CAST(('0x' || substr(md5('rr:' || CAST(l.l_orderkey AS VARCHAR)
               || ':' || CAST(l.l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)
             % 4 = 0
           THEN 1 ELSE 0 END AS flip
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(bit) AS BIGINT) AS true_count,
       CAST(SUM(CASE WHEN flip = 1 THEN 1 - bit ELSE bit END) AS BIGINT)
         AS reported_count,
       CAST(4 * SUM(CASE WHEN flip = 1 THEN 1 - bit ELSE bit END)
            - COUNT(*) AS BIGINT) AS est_x2,
       CAST(ABS(4 * SUM(CASE WHEN flip = 1 THEN 1 - bit ELSE bit END)
                - COUNT(*) - 2 * SUM(bit)) AS BIGINT) AS abs_err_x2
FROM x GROUP BY grp
"""


@query("q_quality_rr_private_counts", _RR_ORACLE)
def q_quality_rr_private_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mini_etl_project_spark.queries.sampling_q import hash60

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    key = F.concat(
        F.lit("rr:"),
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    x = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("grp"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bit"),
        F.when(hash60(key) % 4 == 0, 1).otherwise(0).alias("flip"),
    )
    reported = F.sum(
        F.when(F.col("flip") == 1, 1 - F.col("bit")).otherwise(
            F.col("bit")
        )
    )
    return x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bit").cast("bigint").alias("true_count"),
        reported.cast("bigint").alias("reported_count"),
        (4 * reported - F.count(F.lit(1))).cast("bigint").alias("est_x2"),
        F.abs(4 * reported - F.count(F.lit(1)) - 2 * F.sum("bit"))
        .cast("bigint")
        .alias("abs_err_x2"),
    )


# -- X414 IPF raking (iterative proportional fitting) -----------------------
#
# The survey-weighting classic, and the ETL answer to "make this
# sample's margins match the population": cell weights over
# (priority x returnflag) start at the sample's counts (odd order
# keys) and are alternately scaled so row then column totals match
# the reference margins (even order keys). Two full IPF rounds
# (4 half-steps) run UNROLLED on the bounded 15-cell table; every
# per-margin sum folds the <=5 cell doubles in key order (the X391
# ordered-fold pattern), and each half-step multiplies by the SAME
# parenthesized ratio in both engines, so the raked weights
# hash-match bit-for-bit. The fact-scale work is exactly two keyed
# counting aggregates; the iteration itself never touches a fact row
# — the 100 TB posture of every raking pipeline.

_IPF_ROUNDS = 2


def _ipf_oracle() -> str:
    parts = ["""
WITH samp AS (
  SELECT o.o_orderpriority AS p, l.l_returnflag AS f,
         CAST(COUNT(*) AS DOUBLE) AS w,
         CAST(COUNT(*) AS BIGINT) AS n_sample
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 2 = 1 GROUP BY 1, 2),
refrows AS (
  SELECT o.o_orderpriority AS p, CAST(COUNT(*) AS DOUBLE) AS target_r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 2 = 0 GROUP BY 1),
refcols AS (
  SELECT l.l_returnflag AS f, CAST(COUNT(*) AS DOUBLE) AS target_c
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 2 = 0 GROUP BY 1),
w0 AS (SELECT p, f, n_sample, w FROM samp)"""]
    prev = "w0"
    for r in range(_IPF_ROUNDS):
        parts.append(f""",
rs{r} AS (
  SELECT p, list_aggregate(list(w ORDER BY f), 'sum') AS s
  FROM {prev} GROUP BY p),
wr{r} AS (
  SELECT c.p, c.f, c.n_sample,
         c.w * (refrows.target_r / rs{r}.s) AS w
  FROM {prev} c
  JOIN rs{r} ON rs{r}.p = c.p
  JOIN refrows ON refrows.p = c.p),
cs{r} AS (
  SELECT f, list_aggregate(list(w ORDER BY p), 'sum') AS s
  FROM wr{r} GROUP BY f),
wc{r} AS (
  SELECT c.p, c.f, c.n_sample,
         c.w * (refcols.target_c / cs{r}.s) AS w
  FROM wr{r} c
  JOIN cs{r} ON cs{r}.f = c.f
  JOIN refcols ON refcols.f = c.f)""")
        prev = f"wc{r}"
    parts.append(f"""
SELECT p, f, n_sample, w AS w_raked FROM {prev}""")
    return "".join(parts)


@query("q_etl_ipf_raking", _ipf_oracle())
def q_etl_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("p"),
        F.col("l_returnflag").alias("f"),
        (F.col("o_orderkey") % 2).alias("par"),
    )
    # one scan: grouped parity cells (<=30 rows), checkpointed — the
    # IPF iterations below replay their whole lineage every round, which
    # re-derived the fact join into 124 parquet scans (round-9 audit)
    cells = (
        j.groupBy("p", "f", "par")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    samp = (
        cells.filter(F.col("par") == 1)
        .groupBy("p", "f")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            "p",
            "f",
            F.col("cnt").cast("bigint").alias("n_sample"),
            F.col("cnt").cast("double").alias("w"),
        )
    )
    refrows = (
        cells.filter(F.col("par") == 0)
        .groupBy("p")
        .agg(F.sum("cnt").cast("double").alias("target_r"))
    )
    refcols = (
        cells.filter(F.col("par") == 0)
        .groupBy("f")
        .agg(F.sum("cnt").cast("double").alias("target_c"))
    )

    def fold_sum(df, key, other):
        return df.groupBy(key).agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct(F.col(other), F.col("w").alias("v")))
                ),
                F.lit(0.0),
                lambda a, r: a + r["v"],
            ).alias("s")
        )

    cur = samp
    for _ in range(_IPF_ROUNDS):
        rs = fold_sum(cur, "p", "f")
        cur = (
            cur.join(rs, "p")
            .join(refrows, "p")
            .select(
                "p",
                "f",
                "n_sample",
                (F.col("w") * (F.col("target_r") / F.col("s"))).alias("w"),
            )
        )
        cs = fold_sum(cur, "f", "p")
        cur = (
            cur.join(cs, "f")
            .join(refcols, "f")
            .select(
                "p",
                "f",
                "n_sample",
                (F.col("w") * (F.col("target_c") / F.col("s"))).alias("w"),
            )
        )
    return cur.select("p", "f", "n_sample", F.col("w").alias("w_raked"))


# -- X444 Data-quality scorecard --------------------------------------------
#
# The executive roll-up over the audit family: one weighted score from
# the five standard DQ dimensions — completeness (non-null key/date
# fields), uniqueness (distinct order keys), validity (domain rules on
# quantity/discount/price), consistency (lineitem→orders referential
# closure), timeliness (ship within 45 days of order). Every dimension
# is an exact integer ppm from one pass over its table (the validity
# and timeliness checks share the lineitem⋈orders scan), and the
# composite applies literal 30/20/20/20/10 weights in integer
# arithmetic — DIV by the weight sum at the very end.

_DQ_ORACLE = """
WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(o_orderkey) + COUNT(o_orderdate)
              + COUNT(o_custkey) AS BIGINT) AS nonnull3,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS dk
  FROM orders),
l AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN l.l_quantity BETWEEN 1 AND 50
                         AND l.l_discount BETWEEN 0 AND 0.1
                         AND l.l_extendedprice > 0 THEN 1 END)
              AS BIGINT) AS valid,
         CAST(COUNT(ord.o_orderkey) AS BIGINT) AS matched,
         CAST(COUNT(CASE WHEN DATEDIFF('day',
                 CAST(ord.o_orderdate AS DATE),
                 CAST(l.l_shipdate AS DATE)) <= 45 THEN 1 END)
              AS BIGINT) AS timely
  FROM lineitem l LEFT JOIN orders ord
    ON ord.o_orderkey = l.l_orderkey),
dims AS (
  SELECT CAST(o.nonnull3 * 1000000 // (o.n * 3) AS BIGINT)
           AS completeness_ppm,
         CAST(o.dk * 1000000 // o.n AS BIGINT) AS uniqueness_ppm,
         CAST(l.valid * 1000000 // l.n AS BIGINT) AS validity_ppm,
         CAST(l.matched * 1000000 // l.n AS BIGINT) AS consistency_ppm,
         CAST(l.timely * 1000000 // l.n AS BIGINT) AS timeliness_ppm
  FROM o, l)
SELECT *,
       CAST((completeness_ppm * 30 + uniqueness_ppm * 20
             + validity_ppm * 20 + consistency_ppm * 20
             + timeliness_ppm * 10) // 100 AS BIGINT) AS dq_score_ppm
FROM dims
"""


@query("q_quality_dq_scorecard", _DQ_ORACLE)
def q_quality_dq_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.count("o_orderkey")
            + F.count("o_orderdate")
            + F.count("o_custkey")
        )
        .cast("bigint")
        .alias("nonnull3"),
        F.countDistinct("o_orderkey").cast("bigint").alias("dk"),
    )
    j = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == o.o_orderkey,
        "left",
    )
    ld = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("ln"),
        F.count(
            F.when(
                F.col("l_quantity").between(1, 50)
                & F.col("l_discount").between(0, 0.1)
                & (F.col("l_extendedprice") > 0),
                1,
            )
        )
        .cast("bigint")
        .alias("valid"),
        F.count("o_orderkey").cast("bigint").alias("matched"),
        F.count(
            F.when(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                <= 45,
                1,
            )
        )
        .cast("bigint")
        .alias("timely"),
    )
    dims = od.crossJoin(F.broadcast(ld)).select(
        F.expr("CAST(nonnull3 * 1000000 DIV (n * 3) AS BIGINT)").alias(
            "completeness_ppm"
        ),
        F.expr("CAST(dk * 1000000 DIV n AS BIGINT)").alias(
            "uniqueness_ppm"
        ),
        F.expr("CAST(valid * 1000000 DIV ln AS BIGINT)").alias(
            "validity_ppm"
        ),
        F.expr("CAST(matched * 1000000 DIV ln AS BIGINT)").alias(
            "consistency_ppm"
        ),
        F.expr("CAST(timely * 1000000 DIV ln AS BIGINT)").alias(
            "timeliness_ppm"
        ),
    )
    return dims.select(
        "*",
        F.expr(
            "CAST((completeness_ppm * 30 + uniqueness_ppm * 20"
            " + validity_ppm * 20 + consistency_ppm * 20"
            " + timeliness_ppm * 10) DIV 100 AS BIGINT)"
        ).alias("dq_score_ppm"),
    )
