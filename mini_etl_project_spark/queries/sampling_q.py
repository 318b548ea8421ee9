"""Deterministic sampling & split operators (training-data pipeline ops).

Seeded RNG sampling (``df.sample``) is reproducible only for a fixed
partitioning — repartition the input and the sample changes, which is
useless for a 100 TB pipeline that must re-run identically. The portable
primitive is HASH-GATED sampling: a row is in the sample iff a stable
60-bit hash of its key lands under the rate threshold. That is
partitioning-independent, re-runnable, needs no sampling state, and both
engines compute it bit-identically (the md5/conv trick used across this
repo, memory: spark-duckdb-parity-traps).

The same primitive gives stratified sampling (per-stratum thresholds) and
train/validation/test splits (disjoint hash ranges — a row can never leak
across splits, the property that matters for training pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import dsum, sql_dsum
from mini_etl_project_spark.session import load_table


def hash60(col: F.Column) -> F.Column:
    """Stable 60-bit hash of a string column (same value in DuckDB via
    CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _sql_hash60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# -- deterministic Bernoulli sample (5 % of lineitem) ----------------------
# Returns the sampled rows themselves: the oracle must agree on MEMBERSHIP,
# not just on aggregate moments.

_KEY = "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"

_HASH_SAMPLE_ORACLE = f"""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE {_sql_hash60(_KEY)} % 100 < 5
"""


@query("q_sample_hash", _HASH_SAMPLE_ORACLE)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return l.filter(hash60(key) % 100 < 5).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


# -- stratified sample: per-stratum rates over orders ----------------------
# Urgent orders kept at 20 %, the rest at 5 % — the class-rebalancing
# pattern. Checked as per-stratum counts + exact sums.

_STRAT_ORACLE = f"""
WITH sampled AS (
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE {_sql_hash60("CAST(o_orderkey AS VARCHAR)")} % 1000
        < CASE WHEN o_orderpriority = '1-URGENT' THEN 200 ELSE 50 END
)
SELECT o_orderpriority, COUNT(*) AS n_sampled,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM sampled
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_sample_stratified", _STRAT_ORACLE)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    thr = F.when(F.col("o_orderpriority") == "1-URGENT", 200).otherwise(50)
    return (
        o.filter(hash60(F.col("o_orderkey").cast("string")) % 1000 < thr)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_sampled"), dsum("o_totalprice", "sum_price"))
        .orderBy("o_orderpriority")
    )


# -- train/validation/test split (80/10/10, leak-proof) --------------------
# Disjoint hash ranges: membership is a pure function of the key, so no
# row can appear in two splits across re-runs or re-partitionings.

_SPLIT_ORACLE = f"""
WITH tagged AS (
  SELECT CASE WHEN h < 80 THEN 'train'
              WHEN h < 90 THEN 'validation'
              ELSE 'test' END AS split,
         o_totalprice
  FROM (SELECT {_sql_hash60("CAST(o_orderkey AS VARCHAR)")} % 100 AS h,
               o_totalprice
        FROM orders)
)
SELECT split, COUNT(*) AS n_rows, {sql_dsum('o_totalprice', 'sum_price')}
FROM tagged
GROUP BY split
ORDER BY split
"""


@query("q_split_train_test", _SPLIT_ORACLE)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = hash60(F.col("o_orderkey").cast("string")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "validation").otherwise("test")
    )
    return (
        o.withColumn("split", split)
        .groupBy("split")
        .agg(F.count("*").alias("n_rows"), dsum("o_totalprice", "sum_price"))
        .orderBy("split")
    )


# -- histogram: fixed-width buckets over a measure -------------------------
# FLOOR on both sides (DuckDB CAST-to-INT rounds, Spark truncates); the
# last bucket clamps the tail.

_HIST_ORACLE = f"""
SELECT CAST(LEAST(FLOOR(l_extendedprice / 10000.0), 9.0) AS BIGINT) AS bucket,
       COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem
GROUP BY bucket
ORDER BY bucket
"""


@query("q_agg_histogram", _HIST_ORACLE)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor(F.col("l_extendedprice") / 10000.0), F.lit(9).cast("bigint"))
    return (
        l.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_rows"), dsum("l_extendedprice", "sum_price"))
        .orderBy("bucket")
    )


# -- exact grouped percentiles ---------------------------------------------
# Spark percentile()/median() and DuckDB quantile_cont/median share the
# same linear-interpolation arithmetic — verified bit-exact on doubles
# (memory: spark-duckdb-parity-traps).

_PCTL_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       median(l_extendedprice) AS med_price,
       quantile_cont(l_extendedprice, 0.25) AS p25_price,
       quantile_cont(l_extendedprice, 0.75) AS p75_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_agg_percentile", _PCTL_ORACLE)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.median("l_extendedprice").alias("med_price"),
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25_price"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("p75_price"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
        )
        .orderBy("l_returnflag")
    )


# -- equi-depth histogram ----------------------------------------------------
# The scale-correct construction: ONE exact-percentile aggregate yields the
# 7 interior cutpoints (a 1-row broadcast), then bucket assignment is a
# pure scan-parallel projection (1 + count of cutpoints below the value).
# The naive alternative — ntile() over an unpartitioned window — drags
# every raw row through a single partition and is exactly the anti-pattern
# test_round3.py::test_unpartitioned_windows_sit_on_aggregates guards
# against. Exact interpolating percentiles both sides → bit-equal
# boundaries → identical bucket assignment.

_EQUIDEPTH_FRACS = [i / 8 for i in range(1, 8)]

_EQUIDEPTH_ORACLE = f"""
WITH cuts AS (
  SELECT quantile_cont(o_totalprice,
                       {_EQUIDEPTH_FRACS}) AS c
  FROM orders)
SELECT 1 + (o_totalprice > c[1])::INT + (o_totalprice > c[2])::INT
         + (o_totalprice > c[3])::INT + (o_totalprice > c[4])::INT
         + (o_totalprice > c[5])::INT + (o_totalprice > c[6])::INT
         + (o_totalprice > c[7])::INT AS bucket,
       COUNT(*) AS n_rows,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders, cuts
GROUP BY 1
"""


@query("q_agg_histogram_equidepth", _EQUIDEPTH_ORACLE)
def q_agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fracs = ", ".join(str(f) for f in _EQUIDEPTH_FRACS)
    cuts = o.agg(
        F.expr(f"percentile(o_totalprice, array({fracs}))").alias("c")
    )
    bucket = F.lit(1)
    for i in range(1, 8):
        bucket = bucket + (
            F.col("o_totalprice") > F.element_at("c", i)
        ).cast("int")
    return (
        o.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# -- portable approximate-distinct (KMV sketch), oracle-exact ---------------
# Q12 upgrade: Spark's native HLL/approx_percentile sketches are
# implementation-defined, so their queries can only be rows-only. The KMV
# (k-minimum-values) estimator is sketch-math over a PORTABLE hash — the
# kth-smallest 60-bit hash of the distinct values — so the estimate itself
# is bit-reproducible in any engine: est = (k-1) * 2^60 / h_k (exact-count
# fallback below k). Estimation error ~ 1/sqrt(k-2) ≈ 13 % at k=64,
# asserted in tests/test_round4.py.
#
# Scale shape: the build is TWO-LEVEL — k smallest hashes per
# (group, physical-partition) via a keyed window over many partitions,
# then k smallest per group over the bounded survivors (≤ k·P rows per
# group). Min-k of a union of per-partition min-k sets equals min-k of
# the whole set (any globally-top-k hash is top-k within its own
# partition), so the two-level build is lossless — the same merge
# contract X63's oracle proves. No fact-scale sort ever runs with
# ≤|group| window partitions.

_KMV_K = 64

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT l_returnflag,
         {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem),
ranked AS (
  SELECT l_returnflag, h,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM h),
n AS (SELECT l_returnflag, COUNT(*) AS nd FROM h GROUP BY l_returnflag),
kth AS (SELECT l_returnflag, h AS hk FROM ranked WHERE rn = {_KMV_K})
SELECT n.l_returnflag,
       CAST(n.nd AS BIGINT) AS exact_distinct,
       CASE WHEN n.nd < {_KMV_K} THEN CAST(n.nd AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE)
                 * CAST(1152921504606846976 AS DOUBLE) / kth.hk
       END AS est_distinct
FROM n LEFT JOIN kth ON n.l_returnflag = kth.l_returnflag
"""


@query("q_agg_kmv_distinct", _KMV_ORACLE)
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    h = l.select(
        "l_returnflag",
        hash60(F.col("l_partkey").cast("string")).alias("h"),
    ).distinct()
    # Level 1: k smallest per (group, physical partition) — keyed window
    # over group×P partitions, never a per-group total sort.
    with_pid = h.withColumn("__pid", F.spark_partition_id())
    w1 = Window.partitionBy("l_returnflag", "__pid").orderBy("h")
    survivors = (
        with_pid.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _KMV_K)
        .drop("__pid", "rn1")
    )
    # Level 2: k smallest per group over the bounded survivors (≤ k·P
    # rows per group) — provably the same k smallest as the flat sort.
    w2 = Window.partitionBy("l_returnflag").orderBy("h")
    ranked = survivors.withColumn("rn", F.row_number().over(w2))
    kth = ranked.filter(F.col("rn") == _KMV_K).select(
        "l_returnflag", F.col("h").alias("hk")
    )
    n = h.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("nd"))
    est = F.when(
        F.col("nd") < _KMV_K, F.col("nd").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(float(1 << 60))
        / F.col("hk")
    )
    return n.join(kth, "l_returnflag", "left").select(
        "l_returnflag",
        F.col("nd").cast("bigint").alias("exact_distinct"),
        est.alias("est_distinct"),
    )


# -- approximate quantiles via deterministic hash sample, oracle-exact ------
# Same portability idea for quantiles: exact interpolating percentiles
# over a 10 % hash-gated sample. The sample is partitioning-independent
# (membership is a pure hash predicate), so both engines see the SAME
# sample and the "approximate" quantile is bit-reproducible — unlike
# t-digest/GK sketches, whose merge order leaks into the result. At
# 100 TB the exact percentile runs over 10 % of the data; tighten or
# loosen the rate per column cardinality.

_QSAMPLE_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_sample,
       QUANTILE_CONT(l_extendedprice, 0.5) AS p50,
       QUANTILE_CONT(l_extendedprice, 0.9) AS p90
FROM lineitem
WHERE {_sql_hash60(_KEY)} % 100 < 10
GROUP BY l_returnflag
"""


@query("q_agg_quantile_hash_sample", _QSAMPLE_ORACLE)
def q_agg_quantile_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return (
        l.filter(hash60(key) % 100 < 10)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
    )


# -- portable count-min sketch, oracle-exact --------------------------------
# The mergeable frequency sketch: d hash rows × w buckets of EXACT counter
# aggregates; the estimate for a value is the min of its d counters —
# always ≥ the true count, with collisions inflating, never deflating.
# Like KMV above, the hashes are the repo's portable md5-derived family,
# so the sketch CONTENTS (and therefore every estimate) are
# bit-reproducible in any engine — counters are plain groupBy counts.
# w is deliberately tiny (8) so collisions occur live and the min-of-rows
# logic is exercised, not vacuous. One explode(d) + one groupBy; counter
# table is d×w rows — broadcast-sized at any corpus scale.

_CMS_D_SEEDS = (11, 12, 13)
_CMS_W = 8


def _sql_cms_bucket(expr: str, seed: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{seed}:' || {expr}), 1, 15)) AS BIGINT)"
        f" % {_CMS_W}"
    )


_CMS_ORACLE = f"""
WITH hashed AS (
  SELECT event_type,
         {_sql_cms_bucket('event_type', 11)} AS b11,
         {_sql_cms_bucket('event_type', 12)} AS b12,
         {_sql_cms_bucket('event_type', 13)} AS b13
  FROM events),
counters AS (
  SELECT seed, bucket, COUNT(*) AS c
  FROM (
    SELECT 11 AS seed, b11 AS bucket FROM hashed
    UNION ALL SELECT 12, b12 FROM hashed
    UNION ALL SELECT 13, b13 FROM hashed)
  GROUP BY seed, bucket),
cand AS (
  SELECT event_type, MIN(b11) AS b11, MIN(b12) AS b12, MIN(b13) AS b13,
         COUNT(*) AS exact_n
  FROM hashed GROUP BY event_type),
probes AS (
  SELECT event_type, exact_n, 11 AS seed, b11 AS bucket FROM cand
  UNION ALL SELECT event_type, exact_n, 12, b12 FROM cand
  UNION ALL SELECT event_type, exact_n, 13, b13 FROM cand)
SELECT p.event_type, CAST(MIN(p.exact_n) AS BIGINT) AS exact_n,
       CAST(MIN(c.c) AS BIGINT) AS cms_estimate
FROM probes p JOIN counters c USING (seed, bucket)
GROUP BY p.event_type
"""


@query("q_agg_countmin", _CMS_ORACLE)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.textops import hash64

    e = load_table(spark, sf_dir, "events")
    rows = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                (hash64("event_type", s) % _CMS_W).alias("bucket"),
            )
            for s in _CMS_D_SEEDS
        ]
    )
    counters = (
        e.select(F.explode(rows).alias("sb"))
        .groupBy(F.col("sb.seed").alias("seed"), F.col("sb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = cand.select("event_type", "exact_n", F.explode(rows).alias("sb"))
    return (
        probes.select(
            "event_type",
            "exact_n",
            F.col("sb.seed").alias("seed"),
            F.col("sb.bucket").alias("bucket"),
        )
        .join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy("event_type")
        .agg(
            F.min("exact_n").cast("bigint").alias("exact_n"),
            F.min("c").cast("bigint").alias("cms_estimate"),
        )
    )


# -- Second-moment statistics: covariance / correlation / regression -------
#
# One pass, map-side-combinable: the six raw moments (n, Sx, Sy, Sxx, Syy,
# Sxy) aggregate as plain sums, so the shuffle carries six numbers per
# group — the textbook distributed-corr plan. Inputs are scaled to exact
# int64 units first (quantity is integer-valued; discount has ≤3 decimals
# → milli-units), so every sum is exact integer arithmetic and the final
# int64→double conversions are single-rounded identically in both engines
# (decimal→double would double-round in DuckDB past 2^53, memory:
# spark-duckdb-parity-traps). Bounds: |qty|≤1e2, |disc_m|≤1e3 keep all six
# sums under int64 to ~1e13 rows per group.

_MOMENTS_ORACLE = """
WITH scaled AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_discount * 1000) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM scaled GROUP BY l_returnflag)
SELECT l_returnflag, n,
       CAST(sx AS DOUBLE) / n AS mean_qty,
       CAST(sy AS DOUBLE) / n / 1000.0 AS mean_disc,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / (n - 1) / 1000.0 AS covar_samp,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
         AS corr,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
         / 1000.0 AS slope
FROM m
"""


@query("q_agg_moments_corr", _MOMENTS_ORACLE)
def q_agg_moments_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("y"),
    )
    m = scaled.groupBy("l_returnflag").agg(
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
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        (sy / n / F.lit(1000.0)).alias("mean_disc"),
        (cxy / (n - 1) / F.lit(1000.0)).alias("covar_samp"),
        (cxy / F.sqrt(cxx * cyy)).alias("corr"),
        (cxy / cxx / F.lit(1000.0)).alias("slope"),
    )


# -- Salted aggregation (X22: skew-safe two-phase aggregate) ---------------
#
# The oracle is the PLAIN one-phase GROUP BY: salting must be invisible in
# the result. Counts are exact; sums go through decimal partials, so the
# two-phase combine is order-independent (see operators/skew.py).

_SALTED_ORACLE = """
SELECT event_type,
       COUNT(value) AS value_count,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum
FROM events GROUP BY event_type
"""


@query("q_agg_salted", _SALTED_ORACLE)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.skew import salted_aggregate

    e = load_table(spark, sf_dir, "events")
    return salted_aggregate(
        e, keys=["event_type"], n_salts=16, counts=["value"], sums=["value"]
    )


# -- KMV sketch MERGE (the property that makes sketches matter at scale) ---
#
# Two-level aggregation: a per-source KMV sketch (k smallest distinct
# hashes), then a cross-source merge (k smallest of the sketch union).
# Min-k of a union of per-partition min-k sets equals min-k of the whole
# set, so the merged estimate is provably identical to the flat one — and
# the oracle computes the FLAT global sketch, making the merge's
# losslessness the thing under test. This is exactly how a 1000-executor
# cluster summarizes per-partition state with bounded shuffle.

_KMV_MERGE_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT {_sql_hash60("text")} AS h FROM documents
  WHERE text IS NOT NULL),
ranked AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h),
stats AS (
  SELECT COUNT(*) AS nd,
         MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
  FROM ranked)
SELECT {_KMV_K} AS k, nd AS exact_distinct,
       CASE WHEN nd < {_KMV_K} THEN CAST(nd AS DOUBLE)
            ELSE {float(_KMV_K - 1)} * {float(1 << 60)} / hk END
         AS est_distinct
FROM stats
"""


@query("q_agg_kmv_merge", _KMV_MERGE_ORACLE)
def q_agg_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # a NULL text has no hash: left in, Spark ranks the NULL hash FIRST
    # (claiming a sketch slot and breaking the count(h)==k guard) while
    # DuckDB ranks it LAST — excluded explicitly on both engines (r12
    # NULL audit).
    h = (
        d.filter(F.col("text").isNotNull())
        .select("source", hash60(F.col("text")).alias("h"))
        .distinct()
    )
    # Stage 1: per-source sketches, built two-level — k smallest per
    # (source, physical partition) first (keyed window over source×P
    # partitions), then k smallest per source over the bounded survivors.
    # `source` has a handful of values, so a directly source-keyed window
    # would concentrate the whole distinct set into that many partitions
    # at 100×; the pid level keeps every sort partition-local. Min-k of
    # per-partition min-k unions is exactly the global min-k (losslessness
    # is what this query's flat-sketch oracle proves).
    with_pid = h.withColumn("__pid", F.spark_partition_id())
    w1 = Window.partitionBy("source", "__pid").orderBy("h")
    level1 = (
        with_pid.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _KMV_K)
        .drop("__pid", "rn1")
    )
    per_src = Window.partitionBy("source").orderBy("h")
    sketches = level1.withColumn("rn", F.row_number().over(per_src)).filter(
        F.col("rn") <= _KMV_K
    )
    # Stage 2: merge = k smallest distinct hashes across all sketches.
    # orderBy+limit is a distributed TakeOrdered (no global sort), and the
    # follow-up global agg always emits exactly one row: hk is NULL when
    # there are fewer than k distinct hashes, matching the oracle's
    # MAX(CASE WHEN rn = k ...) contract (the est falls back to nd there).
    merged = sketches.select("h").distinct().orderBy("h").limit(_KMV_K)
    kth = merged.agg(
        F.when(F.count("h") == _KMV_K, F.max("h")).alias("hk")
    )
    # Exact global distinct (for the comparison column only).
    nd = h.select("h").distinct().agg(F.count(F.lit(1)).alias("nd"))
    est = F.when(F.col("nd") < _KMV_K, F.col("nd").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(float(1 << 60)) / F.col("hk")
    )
    return nd.crossJoin(F.broadcast(kth)).select(
        F.lit(_KMV_K).alias("k"),
        F.col("nd").cast("bigint").alias("exact_distinct"),
        est.alias("est_distinct"),
    )


# -- Deterministic grouped mode --------------------------------------------
#
# MODE() with a PINNED tie-break (smallest value) — engines' native mode
# picks an arbitrary winner on ties, which can never pass a hash gate.
# Two aggregates: value counts, then lexicographic min over
# (−count, value). Same pattern the AutoETL mode imputer uses (R15).

_MODE_ORACLE = """
WITH counts AS (
  SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS q,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag, q)
SELECT l_returnflag,
       MIN(CASE WHEN rnk = 1 THEN q END) AS mode_qty,
       MAX(n) AS mode_count
FROM (
  SELECT *, RANK() OVER (PARTITION BY l_returnflag ORDER BY n DESC) AS rnk
  FROM counts)
GROUP BY l_returnflag
"""


@query("q_agg_mode", _MODE_ORACLE)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.round("l_quantity").cast("bigint").alias("q")
    ).agg(F.count("*").alias("n"))
    best = counts.groupBy("l_returnflag").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("q").alias("q"))).alias(
            "b"
        ),
        F.max("n").alias("mode_count"),
    )
    return best.select(
        "l_returnflag", F.col("b.q").alias("mode_qty"), "mode_count"
    )


# -- KMV set-intersection estimate (theta-sketch style) --------------------
#
# Distinct-intersection cardinality WITHOUT joining the raw sets: keep
# each side's k smallest distinct hashes, cut both at
# theta = min(kth_A, kth_B), and scale the surviving common hashes by
# 2^60/theta. Sketches are k rows per side — the intersection of two
# billion-key sets becomes a join of two 64-row tables. Deterministic
# hashes make even the ESTIMATE oracle-exact; the exact intersection is
# emitted alongside for error inspection.

_KMV_INTERSECT_ORACLE = f"""
WITH a AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem WHERE l_suppkey % 2 = 0),
b AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem WHERE l_suppkey % 3 = 0),
ka AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn FROM a)
       WHERE rn <= {_KMV_K}),
kb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn FROM b)
       WHERE rn <= {_KMV_K}),
thetas AS (
  SELECT LEAST(
    CASE WHEN (SELECT COUNT(*) FROM a) >= {_KMV_K}
         THEN (SELECT MAX(h) FROM ka) ELSE {1 << 60} END,
    CASE WHEN (SELECT COUNT(*) FROM b) >= {_KMV_K}
         THEN (SELECT MAX(h) FROM kb) ELSE {1 << 60} END) AS theta),
common AS (
  SELECT COUNT(*) AS c FROM ka JOIN kb ON ka.h = kb.h, thetas
  WHERE ka.h < thetas.theta)
SELECT (SELECT COUNT(*) FROM a) AS n_a,
       (SELECT COUNT(*) FROM b) AS n_b,
       (SELECT COUNT(*) FROM a JOIN b ON a.h = b.h) AS exact_intersect,
       common.c AS sketch_common,
       CAST(common.c AS DOUBLE) * {float(1 << 60)} / thetas.theta
         AS est_intersect
FROM common, thetas
"""


@query("q_agg_kmv_intersect", _KMV_INTERSECT_ORACLE)
def q_agg_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def side(mod: int) -> DataFrame:
        return (
            li.filter(F.col("l_suppkey") % mod == 0)
            .select(hash60(F.col("l_partkey").cast("string")).alias("h"))
            .distinct()
        )

    a, b = side(2), side(3)

    def sketch(df: DataFrame) -> DataFrame:
        # orderBy+limit compiles to TakeOrderedAndProject — a distributed
        # per-partition top-k then a k-sized merge, never a global sort.
        # (Min-k is order-insensitive, so this is value-identical to the
        # oracle's ROW_NUMBER formulation.)
        return df.orderBy("h").limit(_KMV_K)

    ka, kb = sketch(a), sketch(b)

    def theta_of(df: DataFrame, sk: DataFrame) -> DataFrame:
        n = df.agg(F.count(F.lit(1)).alias("n"))
        mx = sk.agg(F.max("h").alias("mx"))
        return n.crossJoin(mx).select(
            F.when(F.col("n") >= _KMV_K, F.col("mx"))
            .otherwise(F.lit(1 << 60))
            .alias("th")
        )

    theta = (
        theta_of(a, ka)
        .crossJoin(theta_of(b, kb).withColumnRenamed("th", "th2"))
        .select(F.least("th", "th2").alias("theta"))
    )
    # Global agg (no groupBy) always yields exactly one row, so the final
    # result keeps the oracle's one-row contract even when no common hash
    # survives the theta cut (c = 0).
    common = (
        ka.select("h")
        .join(kb.select("h"), "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = (
        a.agg(F.count(F.lit(1)).alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("n_b")))
        .crossJoin(
            a.join(b, "h").agg(F.count(F.lit(1)).alias("exact_intersect"))
        )
    )
    return counts.crossJoin(F.broadcast(theta)).crossJoin(
        F.broadcast(common)
    ).select(
        "n_a",
        "n_b",
        "exact_intersect",
        F.col("c").alias("sketch_common"),
        (
            F.col("c").cast("double") * F.lit(float(1 << 60)) / F.col("theta")
        ).alias("est_intersect"),
    )


# -- Boolean / conditional aggregates --------------------------------------

_BOOL_AGG_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (value > 50) AS n_high,
       BOOL_AND(value > 0) AS all_positive,
       BOOL_OR(value > 99) AS any_extreme
FROM events GROUP BY event_type
"""


@query("q_agg_boolean", _BOOL_AGG_ORACLE)
def q_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("value") > 50).alias("n_high"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 99).alias("any_extreme"),
    )


# -- Discrete percentile (percentile_disc) ---------------------------------
#
# The actual-element percentile: value at row ceil(p*n) of the sorted
# group — no interpolation, so the result is always a real observation.
# Both engines use the identical row_number formulation (engines' native
# quantile_disc implementations disagree on selection conventions).

_PCTL_DISC_ORACLE = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem)
SELECT l_returnflag,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                THEN l_extendedprice END) AS p50_disc,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                THEN l_extendedprice END) AS p90_disc,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                THEN l_extendedprice END) AS p99_disc
FROM ranked GROUP BY l_returnflag
"""


@query("q_agg_percentile_disc", _PCTL_DISC_ORACLE)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale shape: l_returnflag has 3 values, so a row_number window keyed
    # on it would sort the whole fact table in 3 partitions at 100×. The
    # grouped global_rank range-partitions on (flag, price, tiebreak)
    # instead — every group spread over many partitions, rank = broadcast
    # per-(group,pid) offset + keyed local row_number. Same exact result.
    from mini_etl_project_spark.operators.rank import global_rank

    li = load_table(spark, sf_dir, "lineitem")
    ranked = global_rank(
        li.select(
            "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
        ),
        order=[
            F.col("l_extendedprice"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        rank_col="rn",
        n_col="n",
        group=["l_returnflag"],
    )

    def pick(p: float, alias: str):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                F.col("l_extendedprice"),
            )
        ).alias(alias)

    return ranked.groupBy("l_returnflag").agg(
        pick(0.5, "p50_disc"), pick(0.9, "p90_disc"), pick(0.99, "p99_disc")
    )


# -- Weighted average (exact integer numerator/denominator) ----------------

_WAVG_ORACLE = """
WITH scaled AS (
  SELECT l_returnflag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(ROUND(l_quantity) AS BIGINT) AS w
  FROM lineitem)
SELECT l_returnflag,
       CAST(SUM(w) AS BIGINT) AS total_w,
       CAST(SUM(price_c * w) AS DOUBLE) / SUM(w) / 100.0 AS weighted_avg_price
FROM scaled GROUP BY l_returnflag
"""


@query("q_agg_weighted_avg", _WAVG_ORACLE)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.round("l_quantity").cast("bigint").alias("w"),
    )
    return scaled.groupBy("l_returnflag").agg(
        F.sum("w").cast("bigint").alias("total_w"),
        (
            F.sum(F.col("price_c") * F.col("w")).cast("double")
            / F.sum("w")
            / F.lit(100.0)
        ).alias("weighted_avg_price"),
    )


# -- Skewness / kurtosis from raw integer moments --------------------------
#
# Third and fourth standardized moments in the same one-pass map-
# combinable shape as q_agg_moments_corr: five exact int64 sums per
# group, then one mirrored double expression. (Engines' native skewness/
# kurtosis aggregates differ in bias correction AND accumulate in floats;
# the raw-moment form is exact and convention-pinned: population moments,
# kurtosis excess-free. pow() is avoided — libm pow isn't correctly
# rounded and differs across runtimes; var*sqrt(var) and var*var are.)

_SKEW_ORACLE = """
WITH s AS (
  SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS x
  FROM lineitem),
m AS (
  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS s1,
         SUM(x*x) AS s2, SUM(x*x*x) AS s3, SUM(x*x*x*x) AS s4
  FROM s GROUP BY l_returnflag)
SELECT l_returnflag, n,
       CAST(s1 AS DOUBLE) / n AS mean,
       (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         AS variance_pop,
       (CAST(s3 AS DOUBLE) / n
         - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
         + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) * sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         AS skewness,
       (CAST(s4 AS DOUBLE) / n
         - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
         + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
         - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) * (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         AS kurtosis
FROM m
"""


@query("q_agg_skew_kurtosis", _SKEW_ORACLE)
def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(
        "l_returnflag", F.round("l_quantity").cast("bigint").alias("x")
    )
    x = F.col("x")
    m = s.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    m4 = F.col("s4").cast("double") / n
    var = m2 - m1 * m1
    return m.select(
        "l_returnflag",
        "n",
        m1.alias("mean"),
        var.alias("variance_pop"),
        ((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / (var * F.sqrt(var))).alias(
            "skewness"
        ),
        (
            (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
            / (var * var)
        ).alias("kurtosis"),
    )


# -- Portable HyperLogLog (64 registers, integer-exact harmonic sum) -------
#
# A from-scratch HLL whose ESTIMATE is oracle-exact: bucket = top 6 bits
# of the portable 60-bit hash, rho = leading-zero rank of the remaining
# 54 bits (via the binary-string length — both engines print bigints
# without leading zeros), register = max rho per bucket. The harmonic
# denominator sum(2^-M_j) is scaled by 2^55 so it accumulates as an exact
# int64 (64 buckets x 2^55 = 2^61), leaving ONE double division in the
# estimate. Empty buckets ride a 64-row spine (right join + M=0).
# Register build is one keyed groupBy over distinct hashes — at 100 TB
# the sketch is still 64 rows.

_HLL_P = 6
_HLL_M = 1 << _HLL_P  # 64
_HLL_WBITS = 60 - _HLL_P  # 54
_HLL_ALPHA = 0.709  # standard alpha_m for m = 64

_HLL_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem),
reg AS (
  SELECT h // {1 << _HLL_WBITS} AS bucket,
         MAX(CASE WHEN h % {1 << _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h % {1 << _HLL_WBITS}))
             END) AS m
  FROM h GROUP BY bucket),
spine AS (
  SELECT g AS bucket FROM generate_series(0, {_HLL_M - 1}) t(g)),
regs AS (
  SELECT s.bucket, COALESCE(reg.m, 0) AS m
  FROM spine s LEFT JOIN reg ON s.bucket = reg.bucket),
den AS (
  SELECT CAST(SUM(CAST(2 AS BIGINT) ** ({_HLL_WBITS + 1} - m)) AS BIGINT)
           AS s2,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_empty
  FROM regs)
SELECT {_HLL_M} AS m,
       (SELECT COUNT(*) FROM h) AS exact_distinct,
       n_empty,
       {_HLL_ALPHA} * {_HLL_M * _HLL_M} * {float(1 << (_HLL_WBITS + 1))}
         / CAST(s2 AS DOUBLE) AS raw_est
FROM den
"""


@query("q_agg_hll_portable", _HLL_ORACLE)
def q_agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select(hash60(F.col("l_partkey").cast("string")).alias("h"))
        .distinct()
    )
    w = F.col("h") % (1 << _HLL_WBITS)
    rho = F.when(w == 0, _HLL_WBITS + 1).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    reg = h.groupBy(
        (F.col("h") / (1 << _HLL_WBITS)).cast("bigint").alias("bucket")
    ).agg(F.max(rho).alias("m"))
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    regs = spine.join(F.broadcast(reg), "bucket", "left").select(
        "bucket", F.coalesce("m", F.lit(0)).alias("m")
    )
    den = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - m)")
        )
        .cast("bigint")
        .alias("s2"),
        F.sum((F.col("m") == 0).cast("long")).cast("bigint").alias("n_empty"),
    )
    exact = h.agg(F.count(F.lit(1)).alias("exact_distinct"))
    return den.crossJoin(F.broadcast(exact)).select(
        F.lit(_HLL_M).alias("m"),
        "exact_distinct",
        "n_empty",
        (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_WBITS + 1)))
            / F.col("s2").cast("double")
        ).alias("raw_est"),
    )


# -- KMV sketch UNION estimate (theta-sketch style) -------------------------
#
# Distinct |A ∪ B| from two 64-row sketches: cut the union of sketch
# hashes at theta = min(theta_A, theta_B) and scale by 2^60/theta. The
# companion of q_agg_kmv_intersect — together they give sketch-space
# set algebra (|A ∩ B|, |A ∪ B|, Jaccard) with bounded state. Sketches
# build via distributed TakeOrdered (orderBy+limit), never a global
# window.

_KMV_UNION_ORACLE = f"""
WITH a AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem WHERE l_suppkey % 2 = 0),
b AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem WHERE l_suppkey % 3 = 0),
ka AS (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
thetas AS (
  SELECT LEAST(
    CASE WHEN (SELECT COUNT(*) FROM a) >= {_KMV_K}
         THEN (SELECT MAX(h) FROM ka) ELSE {1 << 60} END,
    CASE WHEN (SELECT COUNT(*) FROM b) >= {_KMV_K}
         THEN (SELECT MAX(h) FROM kb) ELSE {1 << 60} END) AS theta),
uni AS (
  SELECT COUNT(*) AS c FROM (
    SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)),
    thetas
  WHERE h < theta)
SELECT (SELECT COUNT(*) FROM (SELECT h FROM a UNION SELECT h FROM b))
         AS exact_union,
       uni.c AS sketch_c,
       CAST(uni.c AS DOUBLE) * {float(1 << 60)} / thetas.theta AS est_union
FROM uni, thetas
"""


@query("q_agg_kmv_union", _KMV_UNION_ORACLE)
def q_agg_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def side(mod: int) -> DataFrame:
        return (
            li.filter(F.col("l_suppkey") % mod == 0)
            .select(hash60(F.col("l_partkey").cast("string")).alias("h"))
            .distinct()
        )

    a, b = side(2), side(3)
    ka, kb = a.orderBy("h").limit(_KMV_K), b.orderBy("h").limit(_KMV_K)

    def theta_of(df: DataFrame, sk: DataFrame) -> DataFrame:
        n = df.agg(F.count(F.lit(1)).alias("n"))
        mx = sk.agg(F.max("h").alias("mx"))
        return n.crossJoin(mx).select(
            F.when(F.col("n") >= _KMV_K, F.col("mx"))
            .otherwise(F.lit(1 << 60))
            .alias("th")
        )

    theta = (
        theta_of(a, ka)
        .crossJoin(theta_of(b, kb).withColumnRenamed("th", "th2"))
        .select(F.least("th", "th2").alias("theta"))
    )
    uni = (
        ka.unionByName(kb)
        .distinct()
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("sketch_c"))
    )
    exact = a.unionByName(b).distinct().agg(
        F.count(F.lit(1)).alias("exact_union")
    )
    return (
        exact.crossJoin(F.broadcast(uni))
        .crossJoin(F.broadcast(theta))
        .select(
            "exact_union",
            "sketch_c",
            (
                F.col("sketch_c").cast("double")
                * F.lit(float(1 << 60))
                / F.col("theta")
            ).alias("est_union"),
        )
    )


# -- Deterministic arg-min/arg-max aggregates -------------------------------
#
# min_by/max_by with PINNED tie-breaks (native arg aggregates pick an
# arbitrary winner on ties and can never pass a hash gate): the winner is
# the lexicographic min/max of a (measure, tie-key) struct — one grouped
# aggregate, order-independent. Emits, per event type: the top/bottom
# event by value and the first/last event by time.

_ARGMINMAX_ORACLE = """
WITH obs AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS s
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
mx AS (
  SELECT o.event_type, MAX(cents) AS max_cents
  FROM obs o GROUP BY o.event_type),
mxid AS (
  SELECT o.event_type, MIN(o.event_id) AS max_event_id
  FROM obs o JOIN mx ON o.event_type = mx.event_type
                    AND o.cents = mx.max_cents
  GROUP BY o.event_type),
mn AS (
  SELECT o.event_type, MIN(cents) AS min_cents
  FROM obs o GROUP BY o.event_type),
mnid AS (
  SELECT o.event_type, MIN(o.event_id) AS min_event_id
  FROM obs o JOIN mn ON o.event_type = mn.event_type
                    AND o.cents = mn.min_cents
  GROUP BY o.event_type),
ft AS (
  SELECT event_type, MIN(s) AS first_s, MAX(s) AS last_s
  FROM obs GROUP BY event_type),
fid AS (
  SELECT o.event_type, MIN(o.event_id) AS first_event_id
  FROM obs o JOIN ft ON o.event_type = ft.event_type AND o.s = ft.first_s
  GROUP BY o.event_type),
lid AS (
  SELECT o.event_type, MIN(o.event_id) AS last_event_id
  FROM obs o JOIN ft ON o.event_type = ft.event_type AND o.s = ft.last_s
  GROUP BY o.event_type)
SELECT mx.event_type, mx.max_cents, mxid.max_event_id,
       mn.min_cents, mnid.min_event_id,
       fid.first_event_id, lid.last_event_id
FROM mx
JOIN mxid ON mx.event_type = mxid.event_type
JOIN mn ON mx.event_type = mn.event_type
JOIN mnid ON mx.event_type = mnid.event_type
JOIN fid ON mx.event_type = fid.event_type
JOIN lid ON mx.event_type = lid.event_type
"""


@query("q_agg_argminmax", _ARGMINMAX_ORACLE)
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # NULL keys/measures carry no extremum signal and diverge between
    # engines (a Spark NULL group has no oracle equi-join partner;
    # min(struct) sorts NULL cents first while MIN() skips them) — the
    # r12 NULL audit pins the exclusion explicitly on both sides.
    obs = e.filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("s"),
    )
    # struct extrema: ties on the measure resolve by the SECOND field;
    # negating the tie key flips min<->max so the winner is always the
    # smallest event_id, matching the oracle's MIN() pin.
    return obs.groupBy("event_type").agg(
        F.max("cents").alias("max_cents"),
        (-F.max(F.struct(F.col("cents"), (-F.col("event_id")).alias("neg")))[
            "neg"
        ]).alias("max_event_id"),
        F.min("cents").alias("min_cents"),
        F.min(F.struct(F.col("cents"), F.col("event_id")))["event_id"].alias(
            "min_event_id"
        ),
        F.min(F.struct(F.col("s"), F.col("event_id")))["event_id"].alias(
            "first_event_id"
        ),
        (-F.max(F.struct(F.col("s"), (-F.col("event_id")).alias("neg")))[
            "neg"
        ]).alias("last_event_id"),
    )


# -- Exact phi-heavy hitters -------------------------------------------------
#
# Keys whose frequency exceeds 1.02x the mean — the exact two-aggregate
# form (per-key counts, then a broadcast global total) that a space-
# saving/CMS sketch approximates. Map-side combine + one 1-row broadcast;
# no sort, no window.

_HEAVY_ORACLE = """
WITH c AS (
  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
t AS (SELECT SUM(n) AS tot, COUNT(*) AS k FROM c)
SELECT c.l_suppkey, c.n,
       CAST(c.n AS DOUBLE) * t.k / t.tot AS lift
FROM c, t
WHERE c.n * t.k > t.tot * 1.02
"""


@query("q_agg_heavy_hitters", _HEAVY_ORACLE)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_suppkey").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("tot"), F.count(F.lit(1)).alias("k"))
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("n") * F.col("k") > F.col("tot") * 1.02)
        .select(
            "l_suppkey",
            "n",
            (F.col("n").cast("double") * F.col("k") / F.col("tot")).alias(
                "lift"
            ),
        )
    )


# -- Chi-square independence (per-cell contributions) -----------------------
#
# Independence test of event_type x 6-hour time bucket. The chi-square
# TOTAL is a float sum over cells whose accumulation order differs across
# engines — so the query emits the bounded PER-CELL contributions
# instead, each an exact-integer formula with one division:
# (obs*n - row*col)^2 / (n*row*col), scaled x n for integer exactness.
# The caller (or oracle reader) sums the bounded cell set driver-side.

_CHI2_ORACLE = """
WITH obs AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) // 6 AS INT) AS bucket,
         COUNT(*) AS o
  FROM events GROUP BY event_type, bucket),
rows_ AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type),
cols_ AS (SELECT bucket, SUM(o) AS c FROM obs GROUP BY bucket),
tot AS (SELECT SUM(o) AS n FROM obs)
SELECT o.event_type, o.bucket, o.o AS observed,
       CAST(r.r * c.c AS DOUBLE) / t.n AS expected,
       CAST((o.o * t.n - r.r * c.c) * (o.o * t.n - r.r * c.c) AS DOUBLE)
         / CAST(t.n AS DOUBLE) / CAST(r.r * c.c AS DOUBLE) AS chi2_term
FROM obs o
JOIN rows_ r ON o.event_type = r.event_type
JOIN cols_ c ON o.bucket = c.bucket
CROSS JOIN tot t
"""


@query("q_agg_chi_square", _CHI2_ORACLE)
def q_agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type",
        (F.hour("ts") / 6).cast("int").alias("bucket"),
    ).agg(F.count("*").alias("o"))
    rows_ = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_ = obs.groupBy("bucket").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "bucket")
        .crossJoin(F.broadcast(tot))
    )
    dev = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    return j.select(
        "event_type",
        "bucket",
        F.col("o").alias("observed"),
        ((F.col("r") * F.col("c")).cast("double") / F.col("n")).alias(
            "expected"
        ),
        (
            (dev * dev).cast("double")
            / F.col("n").cast("double")
            / (F.col("r") * F.col("c")).cast("double")
        ).alias("chi2_term"),
    )


# -- HLL register MERGE (two-level, the mergeability property) --------------
#
# Per-source HLL register sets (keyed groupBy) merged by taking the MAX
# register per bucket across sources. max-of-maxes == flat max, so the
# merged estimate is provably identical to the single-pass sketch — and
# the oracle computes the FLAT registers, making mergeability itself the
# thing under test. This is how 1000 executors each summarize their
# shard with 64 rows of state and one tiny shuffle.

_HLL_MERGE_ORACLE = f"""
WITH h AS (
  SELECT source, {_sql_hash60("text")} AS h
  FROM (SELECT DISTINCT source, text FROM documents)),
reg AS (
  SELECT h // {1 << _HLL_WBITS} AS bucket,
         MAX(CASE WHEN h % {1 << _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h % {1 << _HLL_WBITS}))
             END) AS m
  FROM h GROUP BY bucket),
spine AS (SELECT g AS bucket FROM generate_series(0, {_HLL_M - 1}) t(g)),
regs AS (
  SELECT s.bucket, COALESCE(reg.m, 0) AS m
  FROM spine s LEFT JOIN reg ON s.bucket = reg.bucket),
den AS (
  SELECT CAST(SUM(CAST(2 AS BIGINT) ** ({_HLL_WBITS + 1} - m)) AS BIGINT)
           AS s2
  FROM regs)
SELECT {_HLL_M} AS m,
       (SELECT COUNT(DISTINCT text) FROM documents) AS exact_distinct,
       {_HLL_ALPHA} * {_HLL_M * _HLL_M} * {float(1 << (_HLL_WBITS + 1))}
         / CAST(s2 AS DOUBLE) AS raw_est
FROM den
"""


@query("q_agg_hll_merge", _HLL_MERGE_ORACLE)
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = d.select("source", hash60(F.col("text")).alias("h")).distinct()
    w = F.col("h") % (1 << _HLL_WBITS)
    rho = F.when(w == 0, _HLL_WBITS + 1).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    # Level 1: per-source registers (the per-executor state at scale).
    per_src = h.groupBy(
        "source",
        (F.col("h") / (1 << _HLL_WBITS)).cast("bigint").alias("bucket"),
    ).agg(F.max(rho).alias("m"))
    # Level 2: merge = max register per bucket across sources.
    merged = per_src.groupBy("bucket").agg(F.max("m").alias("m"))
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    regs = spine.join(F.broadcast(merged), "bucket", "left").select(
        F.coalesce("m", F.lit(0)).alias("m")
    )
    den = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - m)")
        )
        .cast("bigint")
        .alias("s2")
    )
    exact = d.agg(F.count_distinct("text").alias("exact_distinct"))
    return den.crossJoin(F.broadcast(exact)).select(
        F.lit(_HLL_M).alias("m"),
        "exact_distinct",
        (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_WBITS + 1)))
            / F.col("s2").cast("double")
        ).alias("raw_est"),
    )


# -- Bitmap-based exact distinct (Spark 4 bitmap aggregates) ----------------
#
# bitmap_construct_agg builds a 4 KB bitmap per (key, bucket) with one
# bit per value position; bitmap_or_agg merges buckets mergeably and
# bitmap_count reads the cardinality — Spark 4's native exact-distinct-
# at-scale machinery (bounded state per group, no Expand). The oracle is
# plain COUNT(DISTINCT): the whole bitmap path must agree with it
# exactly.

_BITMAP_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts
FROM lineitem GROUP BY l_returnflag
"""


@query("q_agg_bitmap_distinct", _BITMAP_ORACLE)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number(F.col("l_partkey")).alias("bkt"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("l_partkey"))
        ).alias("bm")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("nd_parts")
    )


# -- Native Datasketches HLL (Spark 4 hll_sketch_agg family) ----------------
#
# The engine-native complement of the portable HLL (q_agg_hll_portable):
# hll_sketch_agg builds per-source sketches, hll_union merges them, and
# hll_sketch_estimate reads the union's cardinality. Estimates are
# implementation-defined (Datasketches internals), so the raw estimate
# can't hash-match DuckDB — instead (the X39/X103 derived-fact pattern,
# same as q_agg_approx) the sketch runs in-plan but the query EMITS the
# exact distinct count plus an integer bound-flag: lgK=12 gives
# rsd = 1.04/sqrt(4096) ≈ 1.6 %, so "within 3×rsd (5 %) of exact" is a
# claim the oracle asserts as a literal 1. HLL registers are max-merged,
# so the flag is stable under any partitioning / merge order. The raw
# estimate surface lives on in
# tests/test_round4b.py::test_native_hll_estimate_within_tolerance.

_HLL_NATIVE_ORACLE = """
SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       1 AS est_within_3rsd
FROM documents
"""


@query("q_agg_hll_native", _HLL_NATIVE_ORACLE)
def q_agg_hll_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.hll_sketch_agg("text", 12).alias("sk"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    merged = per_src.agg(
        F.hll_union_agg("sk").alias("u"),
        F.sum("n_docs").alias("n_docs"),
    )
    exact = load_table(spark, sf_dir, "documents").agg(
        F.countDistinct("text").alias("exact_distinct")
    )
    return merged.crossJoin(F.broadcast(exact)).select(
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (
            F.abs(
                F.hll_sketch_estimate("u") - F.col("exact_distinct")
            )
            <= 0.05 * F.col("exact_distinct")
        )
        .cast("int")
        .alias("est_within_3rsd"),
    )


# -- X156 leakage-safe split (dup-cluster-aware train/test) ----------------
#
# The contamination-control variant of the hash split above: membership is
# a pure function of the duplicate-CLUSTER key (md5 of normalized text),
# not the row key, so exact copies of the same document can never land on
# both sides of the train/eval boundary — the standard decontamination
# requirement for pretraining corpora.  Planted copies (doc_id + 20000,
# same convention as corpus_q) guarantee multi-member clusters exist, and
# the n_leaky_clusters output column proves the invariant (always 0).
#
# Scale posture: one stateless projection computes the cluster key and
# split tag per row (the split needs NO join against a cluster table —
# the key itself is the cluster identity), one groupBy per split for the
# counts, and the leak audit is a second small aggregate cross-joined in
# as a broadcast 1-row literal.

_LEAK_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS id, text FROM documents WHERE doc_id % 7 = 0),
keyed AS (
  SELECT id, LENGTH(text) AS n_chars,
         md5(lower(trim(text))) AS ckey
  FROM corpus),
tagged AS (
  SELECT id, n_chars, ckey,
         CASE WHEN h < 80 THEN 'train'
              WHEN h < 90 THEN 'validation'
              ELSE 'test' END AS split
  FROM (SELECT *, {_sql_hash60("ckey")} % 100 AS h FROM keyed)),
leak AS (
  SELECT COUNT(*) AS n_leaky_clusters
  FROM (SELECT ckey FROM tagged GROUP BY ckey
        HAVING COUNT(DISTINCT split) > 1))
SELECT split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT ckey) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MAX(n_leaky_clusters) AS BIGINT) AS n_leaky_clusters
FROM tagged CROSS JOIN leak
GROUP BY split
"""


@query("q_split_leakage_safe", _LEAK_ORACLE)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.select(F.col("doc_id").alias("id"), "text").unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 20000).alias("id"), "text"
        )
    )
    keyed = corpus.select(
        "id",
        F.length("text").alias("n_chars"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("ckey"),
    )
    h = hash60(F.col("ckey")) % 100
    tagged = keyed.withColumn(
        "split",
        F.when(h < 80, "train").when(h < 90, "validation").otherwise("test"),
    )
    leak = (
        tagged.groupBy("ckey")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").alias("n_leaky_clusters"))
    )
    return (
        tagged.crossJoin(F.broadcast(leak))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("ckey").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.max("n_leaky_clusters").cast("bigint").alias("n_leaky_clusters"),
        )
    )


# -- X164 mergeable histogram quantile estimation --------------------------
#
# The classic "approximate percentiles from pre-aggregated partials"
# pattern: a fixed-width integer histogram (width 5000.00 → ≤ ~25
# buckets over lineitem prices) is the only state — it merges by simple
# addition across partitions/partials, unlike exact sort-based
# percentiles — and p50/p90/p99 are estimated by linear interpolation
# inside the covering bucket.  All arithmetic is integer (cents, DIV),
# so the estimate is bit-identical across engines; the window cumsum
# runs over the BOUNDED bucket set, never the raw rows.

_HQ_WIDTH = 500_000  # 5000.00 in cents

_HIST_QUANTILE_ORACLE = f"""
WITH cents AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
hist AS (
  SELECT c // {_HQ_WIDTH} AS bucket, COUNT(*) AS cnt
  FROM cents GROUP BY 1),
cum AS (
  SELECT bucket, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (ORDER BY bucket) - cnt AS BIGINT) AS cum_before,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM hist),
targets AS (
  SELECT p, (n_all - 1) * p // 100 + 1 AS rank
  FROM (SELECT UNNEST([50, 90, 99]) AS p),
       (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM hist)),
covering AS (
  SELECT t.p, t.rank, c.bucket, c.cnt, c.cum_before,
         ROW_NUMBER() OVER (PARTITION BY t.p ORDER BY c.bucket) AS rn
  FROM targets t JOIN cum c ON c.cum >= t.rank)
SELECT p, CAST(rank AS BIGINT) AS rank, bucket,
       CAST(bucket * {_HQ_WIDTH}
            + (rank - cum_before - 1) * {_HQ_WIDTH} // cnt AS BIGINT)
         AS est_cents
FROM covering WHERE rn = 1
"""


@query("q_agg_hist_quantile", _HIST_QUANTILE_ORACLE)
def q_agg_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    hist = (
        l.select(
            (F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("c")
        )
        .select(F.expr(f"c DIV {_HQ_WIDTH}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(wb).alias("cum"),
        (F.sum("cnt").over(wb) - F.col("cnt")).alias("cum_before"),
    )
    n_all = hist.agg(F.sum("cnt").cast("bigint").alias("n_all"))
    targets = (
        spark.range(1)
        .select(F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("p"))
        .crossJoin(F.broadcast(n_all))
        .select("p", F.expr("(n_all - 1) * p DIV 100 + 1").alias("rank"))
    )
    wp = Window.partitionBy("p").orderBy("bucket")
    covering = (
        targets.join(cum, cum["cum"] >= targets["rank"])
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
    )
    return covering.select(
        "p",
        F.col("rank").cast("bigint").alias("rank"),
        "bucket",
        F.expr(
            f"cast(bucket * {_HQ_WIDTH}"
            f" + (rank - cum_before - 1) * {_HQ_WIDTH} DIV cnt as bigint)"
        ).alias("est_cents"),
    )


# -- X178 KMV A-not-B difference estimate ----------------------------------
#
# The third theta-sketch set operation (union: q_agg_kmv_merge,
# intersection: q_agg_kmv_intersect): |A \ B| estimated as the count of
# A-sketch hashes below the common theta that do NOT appear in B's
# sketch, scaled by 2^60/theta.  Same scale posture as the intersect:
# per-side sketches via distributed TakeOrdered, everything downstream
# operates on ≤ 2k sketch rows; the exact difference rides along for
# error accounting.

_KMV_ANOTB_ORACLE = f"""
WITH a AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem WHERE l_suppkey % 2 = 0),
b AS (
  SELECT DISTINCT {_sql_hash60("CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem WHERE l_suppkey % 3 = 0),
ka AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn FROM a)
       WHERE rn <= {_KMV_K}),
kb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn FROM b)
       WHERE rn <= {_KMV_K}),
thetas AS (
  SELECT LEAST(
    CASE WHEN (SELECT COUNT(*) FROM a) >= {_KMV_K}
         THEN (SELECT MAX(h) FROM ka) ELSE {1 << 60} END,
    CASE WHEN (SELECT COUNT(*) FROM b) >= {_KMV_K}
         THEN (SELECT MAX(h) FROM kb) ELSE {1 << 60} END) AS theta),
diff AS (
  SELECT COUNT(*) AS c FROM ka, thetas
  WHERE ka.h < thetas.theta
    AND NOT EXISTS (SELECT 1 FROM kb WHERE kb.h = ka.h))
SELECT (SELECT COUNT(*) FROM a) AS n_a,
       (SELECT COUNT(*) FROM b) AS n_b,
       (SELECT COUNT(*) FROM a
        WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.h = a.h))
         AS exact_anotb,
       diff.c AS sketch_anotb,
       CAST(diff.c AS DOUBLE) * {float(1 << 60)} / thetas.theta
         AS est_anotb
FROM diff, thetas
"""


@query("q_agg_kmv_anotb", _KMV_ANOTB_ORACLE)
def q_agg_kmv_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def side(mod: int) -> DataFrame:
        return (
            li.filter(F.col("l_suppkey") % mod == 0)
            .select(hash60(F.col("l_partkey").cast("string")).alias("h"))
            .distinct()
        )

    a, b = side(2), side(3)

    def sketch(df: DataFrame) -> DataFrame:
        return df.orderBy("h").limit(_KMV_K)

    ka, kb = sketch(a), sketch(b)

    def theta_of(df: DataFrame, sk: DataFrame) -> DataFrame:
        n = df.agg(F.count(F.lit(1)).alias("n"))
        mx = sk.agg(F.max("h").alias("mx"))
        return n.crossJoin(mx).select(
            F.when(F.col("n") >= _KMV_K, F.col("mx"))
            .otherwise(F.lit(1 << 60))
            .alias("th")
        )

    theta = (
        theta_of(a, ka)
        .crossJoin(theta_of(b, kb).withColumnRenamed("th", "th2"))
        .select(F.least("th", "th2").alias("theta"))
    )
    diff = (
        ka.join(kb, "h", "left_anti")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = (
        a.agg(F.count(F.lit(1)).alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("n_b")))
        .crossJoin(
            a.join(b, "h", "left_anti").agg(
                F.count(F.lit(1)).alias("exact_anotb")
            )
        )
    )
    return counts.crossJoin(F.broadcast(theta)).crossJoin(
        F.broadcast(diff)
    ).select(
        "n_a",
        "n_b",
        "exact_anotb",
        F.col("c").alias("sketch_anotb"),
        (
            F.col("c").cast("double") * F.lit(float(1 << 60)) / F.col("theta")
        ).alias("est_anotb"),
    )


# -- X186 systematic (every k-th) sampling ---------------------------------
#
# The third sampling design next to Bernoulli (q_sample_hash) and
# stratified (q_sample_stratified): order each stratum by a stable hash
# and keep every 20th row — fixed sampling fraction with LOWER VARIANCE
# than Bernoulli (exactly ⌈n/20⌉ rows per stratum, never a lucky or
# unlucky draw).  The rank is a keyed window per stratum — no global
# sort.

_SYSTEMATIC_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY {_sql_hash60("CAST(o_orderkey AS VARCHAR)")}, o_orderkey
         ) AS rn
  FROM orders)
SELECT o_orderpriority,
       COUNT(*) AS n_sampled,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM ranked WHERE rn % 20 = 1
GROUP BY o_orderpriority
"""


@query("q_sample_systematic", _SYSTEMATIC_ORACLE)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        hash60(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") % 20 == 1)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_sampled"), dsum("o_totalprice", "sum_price"))
    )


# -- X203 Benford first-digit audit ----------------------------------------
#
# Fraud/auditing analytics: the leading-digit distribution of order
# totals against Benford expectations.  Digit extraction is string
# arithmetic on exact cents (never float log); the expected per-mille
# shares are the fixed Benford constants, and the chi-square statistic
# folds exact counts with those constants through one deterministic
# expression.

_BENFORD_MILLI = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79,
                  6: 67, 7: 58, 8: 51, 9: 46}

_BENFORD_CASES = " ".join(
    f"WHEN d = {k} THEN {v}" for k, v in _BENFORD_MILLI.items()
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders),
counts AS (
  SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT c.d, c.n,
       CAST(c.n * 1000 // t.total AS BIGINT) AS observed_milli,
       CAST(CASE {_BENFORD_CASES} END AS BIGINT) AS benford_milli,
       CAST((c.n * 1000 - (CASE {_BENFORD_CASES} END) * t.total)
            * (c.n * 1000 - (CASE {_BENFORD_CASES} END) * t.total)
            // ((CASE {_BENFORD_CASES} END) * t.total) AS BIGINT)
         AS chi2_contrib_scaled
FROM counts c CROSS JOIN tot t
"""


@query("q_agg_benford", _BENFORD_ORACLE)
def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    bm = F.lit(None).cast("bigint")
    for k in sorted(_BENFORD_MILLI, reverse=True):
        bm = F.when(F.col("d") == k, F.lit(_BENFORD_MILLI[k])).otherwise(bm)
    joined = counts.crossJoin(F.broadcast(tot)).withColumn("bm", bm)
    return joined.select(
        "d",
        "n",
        F.expr("n * 1000 DIV total").cast("bigint").alias("observed_milli"),
        F.col("bm").cast("bigint").alias("benford_milli"),
        # integer DIV end-to-end: the squared deviation approaches 2^61 at
        # large SF — double division would round above 2^53
        F.expr(
            "(n * 1000 - bm * total) * (n * 1000 - bm * total)"
            " DIV (bm * total)"
        )
        .cast("bigint")
        .alias("chi2_contrib_scaled"),
    )


# -- X204 Gini coefficient (inequality of order values, GLOBAL) ------------
#
# G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n over values sorted ascending — the
# rank-weighted formulation.  The global rank comes from
# operators/rank.py::global_rank (range partitions + broadcast offsets
# — NO single-partition sort), the rank-weighted sum accumulates in
# DECIMAL(38,0) (i·x reaches ~2^60 per row; the SUM would overflow
# int64 at sf ≥ 1), and the final Gini emerges in exact milli-units via
# integer DIV on the decimal aggregates.
#
# NOTE (round-7 fix): this surface was registered as "q_agg_gini", the
# same name the later keyed per-(nation,segment) Gini (X313) claims —
# the dict registration silently shadowed THIS query, leaving X204
# unreachable for six rounds. Renamed to q_agg_gini_global; a registry
# guard test now rejects duplicate @query names outright.

_GINI_GLOBAL_ORACLE = """
WITH vals AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
         o_orderkey
  FROM orders),
ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS i,
         COUNT(*) OVER () AS n
  FROM vals),
agg AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(i AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS swx,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx
  FROM ranked)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sx AS BIGINT) AS sum_cents,
       -- single non-negative division; floor() because DuckDB // on
       -- DECIMAL is TRUE division (Spark-side DIV truncates — equal
       -- for the provably non-negative numerator)
       CAST(floor((2000 * swx - 1000 * (n + 1) * sx) / (n * sx))
            AS BIGINT) AS gini_milli
FROM agg
"""


@query("q_agg_gini_global", _GINI_GLOBAL_ORACLE)
def q_agg_gini_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
        "o_orderkey",
    )
    ranked = global_rank(
        vals, [F.col("x"), F.col("o_orderkey")], rank_col="i", n_col="n"
    )
    agg = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("swx"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sx"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("sum_cents"),
        F.expr(
            "cast((cast(2000 as decimal(38,0)) * swx"
            " - 1000 * (cast(n as bigint) + 1) * sx)"
            " DIV (n * sx) as bigint)"
        ).alias("gini_milli"),
    )


# -- X210 Simpson diversity index ------------------------------------------
#
# The log-free diversity measure (1 − Σ pᵢ², a.k.a. Gini impurity):
# per document source, how evenly the language labels distribute.
# Entirely integer-exact — impurity_milli = (n² − Σ nᵢ²)·1000 // n² —
# where Shannon entropy would drag in libm logs.

_SIMPSON_ORACLE = """
WITH c AS (
  SELECT source, lang, COUNT(*) AS ni
  FROM documents GROUP BY source, lang),
s AS (
  SELECT source,
         CAST(SUM(ni) AS BIGINT) AS n,
         CAST(SUM(ni * ni) AS BIGINT) AS sq,
         COUNT(*) AS n_langs
  FROM c GROUP BY source)
SELECT source, n, CAST(n_langs AS BIGINT) AS n_langs,
       (n * n - sq) * 1000 // (n * n) AS impurity_milli
FROM s
"""


@query("q_agg_simpson_diversity", _SIMPSON_ORACLE)
def q_agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").alias("ni"))
    s = c.groupBy("source").agg(
        F.sum("ni").cast("bigint").alias("n"),
        F.sum(F.col("ni") * F.col("ni")).cast("bigint").alias("sq"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    return s.select(
        "source",
        "n",
        "n_langs",
        F.expr("(n * n - sq) * 1000 DIV (n * n)").alias("impurity_milli"),
    )


# -- X222 AMS (tug-of-war) second-moment sketch ----------------------------
#
# Estimates the self-join size F2 = Σ_v f_v² of the part-key frequency
# vector from 60 deterministic ±1 "tug-of-war" replicas: replica r's
# sign for key v is bit r of the stable 60-bit hash, Z_r = Σ_v s_rv·f_v,
# and E[Z²] = F2. The estimate (mean of Z_r² — truncating integer mean,
# both engines) rides next to the EXACT F2 so the oracle pins both the
# sketch machinery and its target. Plan shape: one groupBy builds the
# bounded frequency table; the ×60 replica explode runs on DISTINCT keys
# (not raw rows); the final aggregate is 60 rows. |Z| ≤ Σf = N keeps
# Z² under 2^63 through ~3e9 rows.

_AMS_R = 60

_AMS_ORACLE = f"""
WITH freq AS (
  SELECT l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS f
  FROM lineitem GROUP BY l_partkey),
signs AS (
  SELECT r.r,
         CAST(SUM(CASE WHEN (CAST(('0x' || substr(md5(CAST(v AS VARCHAR)),
                                     1, 15)) AS BIGINT) >> r.r) & 1 = 1
                       THEN f ELSE -f END) AS BIGINT) AS z
  FROM freq, (SELECT UNNEST(range(0, {_AMS_R})) AS r) r
  GROUP BY r.r),
est AS (
  SELECT CAST(SUM(z * z) // COUNT(*) AS BIGINT) AS f2_est FROM signs),
exact AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM freq)
SELECT CAST({_AMS_R} AS BIGINT) AS n_replicas,
       exact.n_keys, exact.f2_exact, est.f2_est
FROM est, exact
"""


@query("q_agg_ams_f2", _AMS_ORACLE)
def q_agg_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    freq = l.groupBy(F.col("l_partkey").alias("v")).agg(
        F.count("*").cast("bigint").alias("f")
    )
    h = hash60(F.col("v").cast("string"))
    signs = (
        freq.select(
            "f",
            h.alias("h"),
            F.explode(F.expr(f"sequence(0, {_AMS_R - 1})")).alias("r"),
        )
        .groupBy("r")
        .agg(
            F.sum(
                F.when(
                    F.expr("(h >> r) & 1 = 1"), F.col("f")
                ).otherwise(-F.col("f"))
            )
            .cast("bigint")
            .alias("z")
        )
    )
    est = signs.agg(
        F.expr("SUM(z * z) DIV COUNT(*)").cast("bigint").alias("f2_est")
    )
    exact = freq.agg(
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    return (
        est.crossJoin(F.broadcast(exact)).select(
            F.lit(_AMS_R).cast("bigint").alias("n_replicas"),
            "n_keys",
            "f2_exact",
            "f2_est",
        )
    )


# -- X231 pairwise correlation matrix (single-pass, all pairs) --------------
#
# The distributed correlation MATRIX: every pairwise Pearson corr among 3
# scaled measures from ONE aggregation — 10 integer sums ride a single
# scan/shuffle (map-side combinable), then the bounded 1-row result is
# exploded into pair rows. This is the plan shape a 100 TB feature-stats
# job needs: the matrix costs the same scan as a single corr.
# Exactness: inputs quantized to int64 (qty integer, discount milli,
# price deka-dollars — keeps every sum < 2^53 through ~1e9 rows so the
# int64→double conversions single-round identically), then both engines
# evaluate the IDENTICAL double expression tree (IEEE ops are correctly
# rounded → bit-equal results, the q_agg_moments_corr convention).

_CORR_MATRIX_ORACLE = """
WITH scaled AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 1000) AS BIGINT) AS x2,
         CAST(ROUND(l_extendedprice) AS BIGINT) // 10 AS x3
  FROM lineitem),
m AS (
  SELECT COUNT(*) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
         SUM(x1*x1) AS s11, SUM(x2*x2) AS s22, SUM(x3*x3) AS s33,
         SUM(x1*x2) AS s12, SUM(x1*x3) AS s13, SUM(x2*x3) AS s23
  FROM scaled)
SELECT pair, n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
         AS corr,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / (n - 1) AS covar_samp
FROM (
  SELECT 'qty_disc' AS pair, n, s1 AS sx, s2 AS sy,
         s11 AS sxx, s22 AS syy, s12 AS sxy FROM m
  UNION ALL
  SELECT 'qty_price', n, s1, s3, s11, s33, s13 FROM m
  UNION ALL
  SELECT 'disc_price', n, s2, s3, s22, s33, s23 FROM m)
"""


@query("q_agg_corr_matrix", _CORR_MATRIX_ORACLE)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("x2"),
        F.expr("CAST(ROUND(l_extendedprice) AS BIGINT) DIV 10").alias("x3"),
    )
    m = scaled.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x3") * F.col("x3")).alias("s33"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).alias("s13"),
        F.sum(F.col("x2") * F.col("x3")).alias("s23"),
    )
    pairs = m.select(
        "n",
        F.explode(
            F.array(
                F.struct(
                    F.lit("qty_disc").alias("pair"),
                    F.col("s1").alias("sx"), F.col("s2").alias("sy"),
                    F.col("s11").alias("sxx"), F.col("s22").alias("syy"),
                    F.col("s12").alias("sxy"),
                ),
                F.struct(
                    F.lit("qty_price").alias("pair"),
                    F.col("s1").alias("sx"), F.col("s3").alias("sy"),
                    F.col("s11").alias("sxx"), F.col("s33").alias("syy"),
                    F.col("s13").alias("sxy"),
                ),
                F.struct(
                    F.lit("disc_price").alias("pair"),
                    F.col("s2").alias("sx"), F.col("s3").alias("sy"),
                    F.col("s22").alias("sxx"), F.col("s33").alias("syy"),
                    F.col("s23").alias("sxy"),
                ),
            )
        ).alias("p"),
    )
    n = F.col("n")
    sx, sy = F.col("p.sx").cast("double"), F.col("p.sy").cast("double")
    sxx, syy = F.col("p.sxx").cast("double"), F.col("p.syy").cast("double")
    sxy = F.col("p.sxy").cast("double")
    cxy = sxy - sx * sy / n
    cxx = sxx - sx * sx / n
    cyy = syy - sy * sy / n
    return pairs.select(
        F.col("p.pair").alias("pair"),
        "n",
        (cxy / F.sqrt(cxx * cyy)).alias("corr"),
        (cxy / (n - 1)).alias("covar_samp"),
    )


# -- X273 weighted median (cumulative-weight selection) --------------------
#
# The weighted generalization of the exact median: per group, the
# smallest value whose cumulative weight reaches half the total —
# integer weights (quantity), integer cross-multiplication for the
# half test (2·cumw ≥ totw — no division), selection via one keyed
# window over the per-(group, value) aggregate (bounded by distinct
# values per group, never raw rows).

_WMEDIAN_ORACLE = """
WITH vw AS (
  SELECT l_returnflag AS grp,
         CAST(ROUND(l_extendedprice) AS BIGINT) // 100 AS v,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT grp, v, w,
         SUM(w) OVER (PARTITION BY grp ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY grp) AS tw
  FROM vw),
hit AS (
  SELECT grp, v, cw, tw,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rk
  FROM cum WHERE 2 * cw >= tw)
SELECT grp, CAST(v AS BIGINT) AS weighted_median,
       CAST(cw AS BIGINT) AS cum_weight_at, CAST(tw AS BIGINT) AS total_weight
FROM hit WHERE rk = 1
"""


@query("q_agg_weighted_median", _WMEDIAN_ORACLE)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    vw = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.expr("CAST(ROUND(l_extendedprice) AS BIGINT) DIV 100").alias("v"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("w")
    )
    wc = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("grp")
    cum = vw.select(
        "grp",
        "v",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    hit = cum.filter(2 * F.col("cw") >= F.col("tw")).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("grp").orderBy("v")),
    )
    return hit.filter(F.col("rk") == 1).select(
        "grp",
        F.col("v").cast("bigint").alias("weighted_median"),
        F.col("cw").cast("bigint").alias("cum_weight_at"),
        F.col("tw").cast("bigint").alias("total_weight"),
    )


# -- X313 Gini coefficient per group ----------------------------------------
# Income-inequality-style concentration measure over non-negative account
# balances, one coefficient per (nation, market segment) group. Uses the
# rank formulation on the ascending sort:
#   G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))
# computed entirely in BIGINT cents — numerator and denominator are
# emitted exactly, plus an integer-division ppm rendering, so both
# engines agree bit-for-bit. sum(i * x_i) is invariant to the tiebreak
# order among equal x (a tie block contributes sum-of-ranks * x either
# way), so row_number with any deterministic tiebreak is exact. The
# window is PARTITIONED by the group key: each group sorts independently
# and in parallel; no global sort, no unpartitioned window.

_GINI_ORACLE = """
WITH v AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
         c_custkey
  FROM customer
  WHERE c_acctbal >= 0),
r AS (
  SELECT nation, segment, cents,
         ROW_NUMBER() OVER (PARTITION BY nation, segment
                            ORDER BY cents, c_custkey) AS i
  FROM v)
SELECT nation, segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)
            AS BIGINT) AS gini_num,
       CAST(COUNT(*) * SUM(cents) AS BIGINT) AS gini_den,
       CAST((1000000 * (2 * SUM(i * cents)
                        - (COUNT(*) + 1) * SUM(cents)))
            // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_ppm
FROM r
GROUP BY nation, segment
HAVING SUM(cents) > 0
"""


@query("q_agg_gini", _GINI_ORACLE)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    v = c.where(F.col("c_acctbal") >= 0).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        "c_custkey",
    )
    w = Window.partitionBy("nation", "segment").orderBy("cents", "c_custkey")
    r = v.withColumn("i", F.row_number().over(w))
    agg = r.groupBy("nation", "segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("_sic"),
    )
    return (
        agg.where(F.col("total_cents") > 0)
        .select(
            "nation",
            "segment",
            "n",
            "total_cents",
            (2 * F.col("_sic") - (F.col("n") + 1) * F.col("total_cents"))
            .cast("bigint").alias("gini_num"),
            (F.col("n") * F.col("total_cents")).cast("bigint")
            .alias("gini_den"),
            F.expr(
                "(1000000 * (2 * _sic - (n + 1) * total_cents))"
                " DIV (n * total_cents)"
            ).cast("bigint").alias("gini_ppm"),
        )
    )


# -- X315 Spearman rank correlation per group --------------------------------
# Monotone-association screen between account balance and realized spend,
# one coefficient per nation. Ties get standard midranks; to stay in
# exact integer space both engines compute a = 2*midrank = 2*RANK() +
# tie_count - 1 (always integral) and emit the three Pearson-on-ranks
# components num = n*S_ab - S_a*S_b, d1 = n*S_aa - S_a^2,
# d2 = n*S_bb - S_b^2 (rho = num / sqrt(d1*d2) — the sqrt is left to the
# consumer so the gate compares exact BIGINTs). Windows are keyed by
# nation; spend comes from one keyed pre-aggregation of orders with a
# broadcast-sized right side at test SFs and a plain shuffled join at
# scale. Fixed-point bound: n*S_ab <= 4n^4 per group — exact through
# n per group ~ 2^14.7... safely int64 up to ~200k rows per nation.

_SPEARMAN_ORACLE = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
v AS (
  SELECT c.c_nationkey AS nation,
         CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS x,
         COALESCE(s.y, 0) AS y
  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
r AS (
  SELECT nation,
         2 * RANK() OVER (PARTITION BY nation ORDER BY x)
           + COUNT(*) OVER (PARTITION BY nation, x) - 1 AS a,
         2 * RANK() OVER (PARTITION BY nation ORDER BY y)
           + COUNT(*) OVER (PARTITION BY nation, y) - 1 AS b
  FROM v)
SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) * SUM(a * b) - SUM(a) * SUM(b) AS BIGINT) AS num,
       CAST(COUNT(*) * SUM(a * a) - SUM(a) * SUM(a) AS BIGINT) AS d1,
       CAST(COUNT(*) * SUM(b * b) - SUM(b) * SUM(b) AS BIGINT) AS d2
FROM r GROUP BY nation
"""


@query("q_agg_spearman", _SPEARMAN_ORACLE)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint").alias("y")
    )
    v = (
        c.join(spend, c["c_custkey"] == spend["o_custkey"], "left")
        .select(
            F.col("c_nationkey").alias("nation"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    r = v.select(
        "nation",
        (
            2 * F.rank().over(Window.partitionBy("nation").orderBy("x"))
            + F.count("*").over(Window.partitionBy("nation", "x"))
            - 1
        ).alias("a"),
        (
            2 * F.rank().over(Window.partitionBy("nation").orderBy("y"))
            + F.count("*").over(Window.partitionBy("nation", "y"))
            - 1
        ).alias("b"),
    )
    n = F.count("*")
    return r.groupBy("nation").agg(
        n.cast("bigint").alias("n"),
        (n * F.sum(F.col("a") * F.col("b")) - F.sum("a") * F.sum("b"))
        .cast("bigint").alias("num"),
        (n * F.sum(F.col("a") * F.col("a")) - F.sum("a") * F.sum("a"))
        .cast("bigint").alias("d1"),
        (n * F.sum(F.col("b") * F.col("b")) - F.sum("b") * F.sum("b"))
        .cast("bigint").alias("d2"),
    )


# -- X316 rank-trimmed and winsorized means per group ------------------------
# Robust location estimate: drop the k = n DIV 10 smallest and largest
# observations per group (exact order statistics via row_number from both
# ends, deterministic (cents, custkey) tiebreak), average the middle, and
# also report the winsorized sum where the trimmed tails are replaced by
# the kept boundary values. Distinct from q_etl_winsorize, which clamps
# at interpolated p05/p95 percentiles — this is the rank-k/order-statistic
# formulation, exact in BIGINT cents end-to-end. Windows keyed by
# (nation, segment); at extreme per-group cardinality the two row_numbers
# would be swapped for a two-pass quantile cut, same outputs.

_TRIMMED_ORACLE = """
WITH v AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents, c_custkey
  FROM customer),
r AS (
  SELECT nation, segment, cents,
         ROW_NUMBER() OVER (PARTITION BY nation, segment
                            ORDER BY cents, c_custkey) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY nation, segment
                            ORDER BY cents DESC, c_custkey DESC) AS rn_d,
         COUNT(*) OVER (PARTITION BY nation, segment) AS n
  FROM v)
SELECT nation, segment, CAST(MIN(n) AS BIGINT) AS n,
       CAST(MIN(n) // 10 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS trimmed_n,
       CAST(SUM(cents) AS BIGINT) AS trimmed_sum,
       CAST((100 * SUM(cents)) // COUNT(*) AS BIGINT)
         AS trimmed_mean_centicents,
       CAST(SUM(cents) + (MIN(n) // 10) * (MIN(cents) + MAX(cents))
            AS BIGINT) AS winsorized_sum
FROM r
WHERE rn_a > n // 10 AND rn_d > n // 10
GROUP BY nation, segment
"""


@query("q_agg_trimmed_mean", _TRIMMED_ORACLE)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    v = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        "c_custkey",
    )
    g = Window.partitionBy("nation", "segment")
    r = v.select(
        "nation",
        "segment",
        "cents",
        F.row_number().over(g.orderBy("cents", "c_custkey")).alias("rn_a"),
        F.row_number().over(
            g.orderBy(F.desc("cents"), F.desc("c_custkey"))
        ).alias("rn_d"),
        F.count("*").over(g).alias("n"),
    )
    kept = r.where(
        (F.col("rn_a") > F.expr("n DIV 10"))
        & (F.col("rn_d") > F.expr("n DIV 10"))
    )
    return kept.groupBy("nation", "segment").agg(
        F.min("n").cast("bigint").alias("n"),
        F.expr("MIN(n) DIV 10").cast("bigint").alias("k"),
        F.count("*").cast("bigint").alias("trimmed_n"),
        F.sum("cents").cast("bigint").alias("trimmed_sum"),
        F.expr("(100 * SUM(cents)) DIV COUNT(*)").cast("bigint")
        .alias("trimmed_mean_centicents"),
        (
            F.sum("cents")
            + F.expr("MIN(n) DIV 10") * (F.min("cents") + F.max("cents"))
        ).cast("bigint").alias("winsorized_sum"),
    )


# -- X363: Wilson score confidence interval --------------------------------
#
# The interval every conversion-rate dashboard should use instead of
# the normal approximation (which breaks near 0/1 and small n). Inputs
# are exact integer (successes, trials) per group; the only
# transcendental is sqrt (IEEE-754 correctly rounded — bit-identical in
# any engine), and z enters as the literal 1.96 squared IN-ENGINE so
# both sides evaluate one identical expression tree. One keyed shuffle.
# PITFALL pinned here: a bare `1.96` literal parses as DECIMAL(3,2) in
# DuckDB (so 1.96*1.96 folds to exactly 3.8416) but F.lit(1.96) is a
# DOUBLE in Spark (3.8415999…97) — a 1-ulp output drift. The oracle
# must CAST fractional literals to DOUBLE before arithmetic.

_WILSON_ORACLE = """
WITH g AS (
  SELECT c.c_nationkey AS nation,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey)
SELECT nation, n, k,
       (CAST(k AS DOUBLE) / n + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2 * CAST(n AS DOUBLE))
        - CAST(1.96 AS DOUBLE) * SQRT((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                      / n + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4 * CAST(n AS DOUBLE)
                                           * CAST(n AS DOUBLE))))
       / (1 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)) AS wilson_lo,
       (CAST(k AS DOUBLE) / n + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2 * CAST(n AS DOUBLE))
        + CAST(1.96 AS DOUBLE) * SQRT((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                      / n + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4 * CAST(n AS DOUBLE)
                                           * CAST(n AS DOUBLE))))
       / (1 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)) AS wilson_hi
FROM g
"""


@query("q_agg_wilson_ci", _WILSON_ORACLE)
def q_agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / F.col("n")
    z2 = F.lit(1.96) * F.lit(1.96)
    half = F.lit(1.96) * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4 * nd * nd)
    )
    denom = 1 + z2 / nd
    center = p + z2 / (2 * nd)
    return g.select(
        "nation",
        "n",
        "k",
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    )


# -- X370 Hoover index (Robin Hood inequality) per return flag -------------
#
# Hoover = Σ|xᵢ·N − S| / (2·N·S): the share of total that would have to
# move to equalize the distribution. Exact two-pass plan: a 3-row keyed
# aggregate (S, N per flag) broadcast back onto the fact scan, then one
# more keyed aggregate of the absolute deviations. Both engines widen the
# per-row product to a 38-digit accumulator (Spark DECIMAL(38,0); the
# oracle casts before multiplying so DuckDB never hits BIGINT*BIGINT
# overflow mid-expression). The transported abs_dev column is BIGINT for
# hash parity — exact through the shipped scale factors; a true 100 TB
# deployment would transport the DECIMAL (or its ppm ratio) instead,
# since N·S there exceeds 2^63. The ppm ratio goes through doubles with
# an IDENTICAL expression tree on both engines.

_HOOVER_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
g AS (
  SELECT flag, CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n
  FROM x GROUP BY flag)
SELECT x.flag,
       CAST(g.n AS BIGINT) AS n,
       g.s AS sum_cents,
       CAST(SUM(ABS(CAST(x.cents AS DECIMAL(38,0)) * g.n - g.s))
            AS BIGINT) AS abs_dev,
       CAST(FLOOR(
         CAST(CAST(SUM(ABS(CAST(x.cents AS DECIMAL(38,0)) * g.n - g.s))
                   AS BIGINT) AS DOUBLE)
         * 1000000.0
         / (2.0 * CAST(g.n AS DOUBLE) * CAST(g.s AS DOUBLE))
       ) AS BIGINT) AS hoover_ppm
FROM x JOIN g ON x.flag = g.flag
GROUP BY x.flag, g.n, g.s
"""


@query("q_agg_hoover", _HOOVER_ORACLE)
def q_agg_hoover(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    g = x.groupBy("flag").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = (
        F.abs(
            F.col("cents").cast("decimal(38,0)") * F.col("n") - F.col("s")
        )
    )
    agg = (
        x.join(F.broadcast(g), "flag")
        .groupBy("flag", "n", "s")
        .agg(F.sum(dev).cast("bigint").alias("abs_dev"))
    )
    return agg.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").alias("sum_cents"),
        "abs_dev",
        F.floor(
            F.col("abs_dev").cast("double")
            * F.lit(1000000.0)
            / (
                F.lit(2.0)
                * F.col("n").cast("double")
                * F.col("s").cast("double")
            )
        )
        .cast("bigint")
        .alias("hoover_ppm"),
    )


# -- X381: distributed global running total (prefix-sum operator) -----------
#
# The cumulative-revenue curve every finance/ops dashboard wants:
# running sum of order totals in (date, key) order over the WHOLE fact
# table. The naive `SUM() OVER (ORDER BY ...)` is the canonical window
# scale-killer (one partition swallows the table); the engine form is
# operators/rank.py::global_prefix_sum — range-partition on the order,
# per-partition subtotals → broadcast cumulative offsets → keyed
# running window. Exact integer cents, so the result is partitioning-
# independent and hash-matches the oracle's single-threaded window.

_RUNTOTAL_ORACLE = """
WITH x AS (
  SELECT o_orderkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT o_orderkey, o_orderdate, cents,
       CAST(SUM(cents) OVER (ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS running_cents
FROM x
"""


@query("q_agg_global_running_total", _RUNTOTAL_ORACLE)
def q_agg_global_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_prefix_sum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    out = global_prefix_sum(
        o,
        order=[F.col("o_orderdate"), F.col("o_orderkey")],
        weight=F.col("cents"),
        sum_col="running_cents",
    )
    return out.select(
        "o_orderkey", "o_orderdate", "cents",
        F.col("running_cents").cast("bigint").alias("running_cents"),
    )


# -- X382: weighted systematic sampling over distributed prefix sums --------
#
# The training-data-mixing sampler: pick ~k rows with probability
# proportional to weight, deterministically, in ONE pass — select every
# row whose cumulative-weight interval (cum-w, cum] contains a multiple
# of step = floor(W / k). All integer arithmetic on exact cents (the
# selection predicate is floor(cum/step) > floor((cum-w)/step)), so both
# engines agree bit-for-bit; no RNG, no rejection, no collect. The
# prefix sums come from the same global_prefix_sum operator — the only
# distributed-hard part — making this the scale recipe for weighted
# corpus subsampling (docs weighted by token count, orders by revenue).

_WSYS_K = 200

_WSYS_ORACLE = f"""
WITH x AS (
  SELECT o_orderkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w
  FROM orders),
c AS (
  SELECT *, CAST(SUM(w) OVER (ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
            CAST(SUM(w) OVER () AS BIGINT) AS total
  FROM x),
s AS (
  SELECT *, GREATEST(total // {_WSYS_K}, 1) AS step FROM c)
SELECT o_orderkey, o_orderdate, w, CAST(cum AS BIGINT) AS cum,
       CAST(cum // step - (cum - w) // step AS BIGINT) AS n_ticks
FROM s
WHERE cum // step > (cum - w) // step
"""


@query("q_sample_weighted_systematic", _WSYS_ORACLE)
def q_sample_weighted_systematic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_prefix_sum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("w"),
    )
    cum = global_prefix_sum(
        o,
        order=[F.col("o_orderdate"), F.col("o_orderkey")],
        weight=F.col("w"),
        sum_col="cum",
        total_col="total",
    )
    s = cum.withColumn(
        "step",
        F.greatest(F.expr(f"total DIV {_WSYS_K}"), F.lit(1).cast("bigint")),
    )
    picked = s.filter(
        F.expr("cum DIV step > (cum - w) DIV step")
    )
    return picked.select(
        "o_orderkey",
        "o_orderdate",
        "w",
        F.col("cum").cast("bigint").alias("cum"),
        F.expr("CAST(cum DIV step - (cum - w) DIV step AS BIGINT)").alias(
            "n_ticks"
        ),
    )


# -- X383: portable Count-Min sketch with probe accounting ------------------
#
# The frequency-sketch sibling of the portable HLL/KMV family: d=4 md5
# hash rows x w=64 counters, built with ONE keyed aggregate over the
# (bounded, 256-cell) register space — map-side partial aggregation does
# the heavy lifting, the sketch never grows with the data. Probe keys
# get estimate = min over rows of their counter, plus the exact count
# and the CMS overestimate invariant as an integer column. Same md5
# derivation both engines, so registers, estimates, and flags all
# hash-match. Merge story is counter-wise addition (not exercised here;
# the KMV/HLL merges pin that pattern).

_CMS_D, _CMS_W = 4, 64


def _sql_cms_bucket(i: str, key: str) -> str:
    inner = "'cms:' || " + i + " || ':' || " + key
    return f"CAST({_sql_hash60(inner)} % {_CMS_W} AS INT)"


_CMS_ORACLE = f"""
WITH keys AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey),
cells AS (
  SELECT i.i AS i, {_sql_cms_bucket('i.i', 'CAST(l_partkey AS VARCHAR)')} AS b,
         CAST(SUM(c) AS BIGINT) AS cnt
  FROM keys, unnest(generate_series(0, {_CMS_D - 1})) i(i)
  GROUP BY 1, 2),
probes AS (SELECT l_partkey, c FROM keys WHERE l_partkey <= 8),
est AS (
  SELECT p.l_partkey, p.c AS exact_cnt,
         CAST(MIN(cells.cnt) AS BIGINT) AS cms_est
  FROM probes p, unnest(generate_series(0, {_CMS_D - 1})) i(i)
  JOIN cells ON cells.i = i.i
    AND cells.b = {_sql_cms_bucket('i.i', 'CAST(p.l_partkey AS VARCHAR)')}
  GROUP BY 1, 2)
SELECT l_partkey, exact_cnt, cms_est,
       CAST(cms_est >= exact_cnt AS INT) AS overestimates
FROM est
"""


@query("q_agg_cms_portable", _CMS_ORACLE)
def q_agg_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rows_i = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_D)])
    ).alias("i")

    def bucket(i_col, key_col):
        return (
            hash60(
                F.concat(
                    F.lit("cms:"),
                    i_col.cast("string"),
                    F.lit(":"),
                    key_col.cast("string"),
                )
            )
            % _CMS_W
        ).cast("int")

    cells = (
        keys.select("l_partkey", "c", rows_i)
        .withColumn("b", bucket(F.col("i"), F.col("l_partkey")))
        .groupBy("i", "b")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )
    probes = keys.filter(F.col("l_partkey") <= 8).select(
        "l_partkey", F.col("c").alias("exact_cnt")
    )
    probed = (
        probes.select("l_partkey", "exact_cnt", rows_i)
        .withColumn("b", bucket(F.col("i"), F.col("l_partkey")))
        .join(F.broadcast(cells), ["i", "b"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
    )
    return probed.select(
        "l_partkey",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).cast("int").alias(
            "overestimates"
        ),
    )


# -- X384: portable Bloom filter with false-positive accounting -------------
#
# The engine already uses Spark's native bloom_filter_agg for snapshot
# file skipping (sources/snapshots.py); this is the PORTABLE twin —
# m=256 bits, k=3 md5-derived bit positions — whose bit membership both
# engines re-derive exactly, probed against the full customer dim with
# per-nation accounting: bloom positives, true members (exact
# semi-join), and false positives, all integers. Pins the zero-false-
# negative invariant (n_true == n_both) the same way X321 pins ANN
# recall. Build side: the member set reduces to <= 256 DISTINCT bits
# before anything joins — broadcastable forever.

_BF_M, _BF_K = 256, 3
_BF_CUT = 400000.0


def _sql_bf_bit(k: str, key: str) -> str:
    inner = "'bf:' || " + k + " || ':' || " + key
    return f"CAST({_sql_hash60(inner)} % {_BF_M} AS INT)"


_BLOOM_ORACLE = f"""
WITH members AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > {_BF_CUT}),
bits AS (
  SELECT DISTINCT {_sql_bf_bit('k.k', 'CAST(o_custkey AS VARCHAR)')} AS bit
  FROM members, unnest(generate_series(0, {_BF_K - 1})) k(k)),
pbits AS (
  SELECT c.c_custkey, c.c_nationkey,
         {_sql_bf_bit('k.k', 'CAST(c.c_custkey AS VARCHAR)')} AS pbit
  FROM customer c, unnest(generate_series(0, {_BF_K - 1})) k(k)),
pos AS (
  SELECT c_custkey, c_nationkey,
         (COUNT(b.bit) = {_BF_K}) AS bloom_pos
  FROM pbits LEFT JOIN bits b ON b.bit = pbits.pbit
  GROUP BY 1, 2),
flagged AS (
  SELECT pos.c_custkey, pos.c_nationkey, pos.bloom_pos,
         (m.o_custkey IS NOT NULL) AS is_member
  FROM pos LEFT JOIN members m ON m.o_custkey = pos.c_custkey)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pos,
       CAST(SUM(CASE WHEN bloom_pos AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN is_member AND NOT bloom_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg
FROM flagged GROUP BY c_nationkey
"""


@query("q_agg_bloom_portable", _BLOOM_ORACLE)
def q_agg_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    members = (
        o.filter(F.col("o_totalprice") > _BF_CUT)
        .select("o_custkey")
        .distinct()
    )
    ks = F.explode(F.array(*[F.lit(k) for k in range(_BF_K)])).alias("k")

    def bf_bit(k_col, key_col):
        return (
            hash60(
                F.concat(
                    F.lit("bf:"),
                    k_col.cast("string"),
                    F.lit(":"),
                    key_col.cast("string"),
                )
            )
            % _BF_M
        ).cast("int")

    bits = (
        members.select("o_custkey", ks)
        .select(bf_bit(F.col("k"), F.col("o_custkey")).alias("bit"))
        .distinct()
    )
    pos = (
        c.select("c_custkey", "c_nationkey", ks)
        .withColumn("bit", bf_bit(F.col("k"), F.col("c_custkey")))
        .join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left"
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg((F.count("hit") == _BF_K).alias("bloom_pos"))
    )
    flagged = pos.join(
        members.withColumn("is_m", F.lit(1)),
        pos["c_custkey"] == members["o_custkey"],
        "left",
    ).select(
        "c_nationkey",
        "bloom_pos",
        F.coalesce("is_m", F.lit(0)).alias("is_member"),
    )
    return flagged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("is_member")).cast("bigint").alias("n_true"),
        F.sum(F.col("bloom_pos").cast("int")).cast("bigint").alias(
            "n_bloom_pos"
        ),
        F.sum(
            (F.col("bloom_pos") & (F.col("is_member") == 0)).cast("int")
        )
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(
            ((F.col("is_member") == 1) & ~F.col("bloom_pos")).cast("int")
        )
        .cast("bigint")
        .alias("n_false_neg"),
    )


# -- X393 Kruskal-Wallis H (exact global midranks, distributed) -------------
#
# The nonparametric one-way ANOVA over the three return flags. Midranks
# over the POOLED fact table are the scale hazard (a global rank window
# = one-partition sort), so the engine computes them from VALUE
# aggregates: count per distinct cents value, global_prefix_sum over the
# value order (range partitions + offsets — the X381 operator), then
# 2·midrank(v) = 2·prefix_before + cnt + 1, all exact integers. Rank
# sums per group come from a keyed join of (value, flag) counts onto the
# value table — never a row-level rank. The cross-group Σ R_g²/n_g uses
# the X391 ordered-fold so the H statistic (and its tie-corrected twin)
# hash-match as doubles. The oracle computes the same integers from the
# textbook row-level rank window — agreement proves the aggregated path
# IS the definition.

_KW_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem),
r AS (
  SELECT flag,
         2 * RANK() OVER (ORDER BY c)
           + COUNT(*) OVER (PARTITION BY c) - 1 AS a
  FROM x),
g AS (
  SELECT flag, CAST(SUM(CAST(a AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM r GROUP BY flag),
ties AS (
  SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DECIMAL(38,0))
           AS tie_sum
  FROM (SELECT COUNT(*) AS t FROM x GROUP BY c)),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(COUNT(*) AS BIGINT) AS k,
         list_aggregate(
           list(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4.0 * n)
                ORDER BY flag), 'sum') AS sum_terms
  FROM g)
SELECT k, n_tot,
       CAST(tie_sum AS DOUBLE) AS tie_sum,
       12.0 / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0))
         * sum_terms
         - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0) AS h_stat,
       (12.0 / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0))
          * sum_terms
          - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0))
         / (1.0 - CAST(tie_sum AS DOUBLE)
                  / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                     * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE)))
         AS h_corrected
FROM tot, ties
"""


@query("q_agg_kruskal_wallis", _KW_ORACLE)
def q_agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    va = x.groupBy("c", "flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_gf")
    )
    vt = x.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pre = global_prefix_sum(
        vt, order=[F.col("c")], weight=F.col("cnt"), sum_col="cum"
    ).select(
        "c",
        "cnt",
        (
            2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1
        ).alias("two_mid"),
    )
    g = (
        va.join(pre, "c")
        .groupBy("flag")
        .agg(
            F.sum(
                (F.col("two_mid") * F.col("cnt_gf")).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("r2"),
            F.sum("cnt_gf").cast("bigint").alias("n"),
        )
    )
    ties = vt.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("decimal(38,0)")
        .alias("tie_sum")
    )
    term = (
        F.col("r2").cast("double")
        * F.col("r2").cast("double")
        / (4.0 * F.col("n"))
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("flag"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, r: acc + r["t"],
        ).alias("sum_terms"),
    )
    nd = F.col("n_tot").cast("double")
    h = 12.0 / (nd * (nd + 1.0)) * F.col("sum_terms") - 3.0 * (nd + 1.0)
    return tot.crossJoin(F.broadcast(ties)).select(
        "k",
        "n_tot",
        F.col("tie_sum").cast("double").alias("tie_sum"),
        h.alias("h_stat"),
        (
            h
            / (
                1.0
                - F.col("tie_sum").cast("double") / (nd * nd * nd - nd)
            )
        ).alias("h_corrected"),
    )


# -- X398 earth mover's distance (1-D Wasserstein drift, exact) -------------
#
# The drift metric PSI users actually want: W₁ between the order-value
# distribution before and after a cutover date, computed EXACTLY —
# W₁ = Σ_gaps |F₁−F₂|·gap over the merged support. Everything stays in
# integer space by cross-scaling the two CDFs to a common mass:
# |cum1·N₂ − cum2·N₁| · gap accumulates in DECIMAL(38,0); the final
# normalized distance divides once by N₁·N₂ in double. No logs, no
# binning choices, no approximation. Scale shape: the fact table
# collapses to per-distinct-value counts (one keyed agg), the CDFs come
# from global_prefix_sum over the value order (X381 — no one-partition
# window), and the gap join is a self-join on adjacent rank, also from
# the same operator. ~|support| rows end to end.

_EMD_CUT = "1995-06-01"

_EMD_ORACLE = f"""
WITH x AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderdate < DATE '{_EMD_CUT}' THEN 1 ELSE 0 END AS era
  FROM orders),
vals AS (
  SELECT v,
         CAST(SUM(era) AS BIGINT) AS n1,
         CAST(SUM(1 - era) AS BIGINT) AS n2
  FROM x GROUP BY v),
cum AS (
  SELECT v,
         CAST(SUM(n1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c1,
         CAST(SUM(n2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c2,
         ROW_NUMBER() OVER (ORDER BY v) AS i
  FROM vals),
tot AS (
  SELECT MAX(c1) AS m1, MAX(c2) AS m2 FROM cum),
terms AS (
  SELECT ABS(a.c1 * tot.m2 - a.c2 * tot.m1)
           * CAST(b.v - a.v AS DECIMAL(38,0)) AS t
  FROM cum a JOIN cum b ON b.i = a.i + 1, tot)
SELECT tot.m1 AS n_before, tot.m2 AS n_after,
       (CAST(((CAST(SUM(terms.t) AS DECIMAL(38,0))) - (CAST(SUM(terms.t) AS DECIMAL(38,0))) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((CAST(SUM(terms.t) AS DECIMAL(38,0))) % 1073741824 AS DOUBLE))
         / (CAST(tot.m1 AS DOUBLE) * CAST(tot.m2 AS DOUBLE))
         AS emd_cents
FROM terms, tot
GROUP BY tot.m1, tot.m2
"""


@query("q_agg_emd_drift", _EMD_ORACLE)
def q_agg_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import (
        global_prefix_sum,
        global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(
            F.col("o_orderdate") < F.lit(_EMD_CUT).cast("date"), 1
        )
        .otherwise(0)
        .alias("era"),
    )
    vals = x.groupBy("v").agg(
        F.sum("era").cast("bigint").alias("n1"),
        F.sum(1 - F.col("era")).cast("bigint").alias("n2"),
    )
    c1 = global_prefix_sum(
        vals, order=[F.col("v")], weight=F.col("n1"), sum_col="c1"
    )
    c2 = global_prefix_sum(
        c1, order=[F.col("v")], weight=F.col("n2"), sum_col="c2"
    )
    cum = global_rank(
        c2.select("v", "c1", "c2"), order=[F.col("v")], rank_col="i"
    ).select("v", F.col("c1").cast("bigint"), F.col("c2").cast("bigint"), "i")
    tot = cum.agg(
        F.max("c1").cast("bigint").alias("m1"),
        F.max("c2").cast("bigint").alias("m2"),
    )
    nxt = cum.select(
        (F.col("i") - 1).alias("i"), F.col("v").alias("v_next")
    )
    terms = (
        cum.join(nxt, "i")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.abs(
                    F.col("c1").cast("decimal(38,0)") * F.col("m2")
                    - F.col("c2").cast("decimal(38,0)") * F.col("m1")
                )
                * (F.col("v_next") - F.col("v")).cast("decimal(38,0)")
            ).alias("t")
        )
    )
    from mini_etl_project_spark.queries.helpers import dec_to_double

    return (
        terms.agg(F.sum("t").cast("decimal(38,0)").alias("s"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("m1").alias("n_before"),
            F.col("m2").alias("n_after"),
            (
                dec_to_double("s")
                / (F.col("m1").cast("double") * F.col("m2").cast("double"))
            ).alias("emd_cents"),
        )
    )


# -- X404 Deterministic Poisson bootstrap -----------------------------------
#
# THE resampling method that actually works at 100 TB: the classic
# bootstrap needs n draws WITH replacement from a global index
# (undistributable), while the Poisson bootstrap gives every row an
# i.i.d. Poisson(1) replicate weight — one scan, no coordination, and
# the weights are a pure function of the row key (md5-uniform ->
# inverse CDF through LITERAL integer thresholds), so every re-run and
# every partitioning produces the same resample. B=8 replicates ride
# in ONE aggregate pass as conditional sums (no explode, no 8x scan):
# per replicate an integer weighted cents sum (DECIMAL(38,0), w*cents
# sums overflow int64 at scale) and a BIGINT weight total, then the
# replicate means, their left-fold average, and the bootstrap SE of
# the mean assemble through identical double expression trees (sqrt is
# correctly rounded per IEEE — portable across engines).

_PB_B = 8
# floor(1e6 * CDF_Poisson(1)(k)) for k = 0..6; u >= last -> weight 7
_PB_THRESH = (367879, 735758, 919698, 981011, 996340, 999405, 999916)

_PB_KEY_SQL = (
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)


def _pb_w_sql(b: int) -> str:
    seeded = f"'pb{b}:' || {_PB_KEY_SQL}"
    u = f"({_sql_hash60(seeded)} % 1000000)"
    case = "CASE"
    for k, t in enumerate(_PB_THRESH):
        case += f" WHEN {u} < {t} THEN {k}"
    return case + f" ELSE {len(_PB_THRESH)} END"


def _pb_oracle() -> str:
    aggs = []
    for b in range(_PB_B):
        w = _pb_w_sql(b)
        aggs.append(
            f"CAST(SUM(CAST(({w}) AS DECIMAL(38,0)) * cents)"
            f" AS DECIMAL(38,0)) AS swx{b}"
        )
        aggs.append(f"CAST(SUM({w}) AS BIGINT) AS sw{b}")
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    means = [
        f"({sql_dec_to_double(f'swx{b}')} / CAST(sw{b} AS DOUBLE))"
        for b in range(_PB_B)
    ]
    mean_cols = ",\n       ".join(
        f"{m} AS m{b}" for b, m in enumerate(means)
    )
    fold = means[0]
    for m in means[1:]:
        fold = f"({fold} + {m})"
    boot_mean = f"({fold} / {float(_PB_B)})"
    sq = [f"(({m} - {boot_mean}) * ({m} - {boot_mean}))" for m in means]
    sfold = sq[0]
    for t in sq[1:]:
        sfold = f"({sfold} + {t})"
    return f"""
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {", ".join(aggs)}
  FROM x)
SELECT n,
       {mean_cols},
       {boot_mean} AS boot_mean,
       sqrt({sfold} / {float(_PB_B - 1)}) AS boot_se
FROM a
"""


_PB_ORACLE = _pb_oracle()


@query("q_sample_poisson_bootstrap", _PB_ORACLE)
def q_sample_poisson_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    x = li.select(cents.alias("cents"), key.alias("key"))

    def w(b: int) -> F.Column:
        u = hash60(F.concat(F.lit(f"pb{b}:"), F.col("key"))) % 1000000
        expr = F.when(u < _PB_THRESH[0], 0)
        for k, t in enumerate(_PB_THRESH[1:], start=1):
            expr = expr.when(u < t, k)
        return expr.otherwise(len(_PB_THRESH))

    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for b in range(_PB_B):
        wb = w(b)
        aggs.append(
            F.sum(wb.cast("decimal(38,0)") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias(f"swx{b}")
        )
        aggs.append(F.sum(wb).cast("bigint").alias(f"sw{b}"))
    a = x.agg(*aggs)

    means = [
        dec_to_double(f"swx{b}") / F.col(f"sw{b}").cast("double")
        for b in range(_PB_B)
    ]
    fold = means[0]
    for m in means[1:]:
        fold = fold + m
    boot_mean = fold / float(_PB_B)
    sfold = (means[0] - boot_mean) * (means[0] - boot_mean)
    for m in means[1:]:
        sfold = sfold + (m - boot_mean) * (m - boot_mean)
    return a.select(
        "n",
        *[m.alias(f"m{b}") for b, m in enumerate(means)],
        boot_mean.alias("boot_mean"),
        F.sqrt(sfold / float(_PB_B - 1)).alias("boot_se"),
    )


# -- X410 Distribution-matching resample ------------------------------------
#
# Training-data curation op: reshape a corpus so a covariate's
# distribution matches a TARGET (here: uniform over 10 doc-length
# buckets — the "don't let short docs dominate" knob). Per bucket the
# acceptance rate is min(1, target_share * N / n_b) quantized to ppm
# as EXACT integers (1e6 * N DIV (10 * n_b)), and membership is the
# repo's hash-gate (md5-uniform < ppm) — partitioning-independent,
# re-runnable, leak-proof. One bounded bucket-count aggregate
# broadcast onto the scan; per-bucket before/after accounting comes
# back from the same pass. The audit pins the contract: kept counts
# equal the exact hash-gate replay, and no bucket overshoots its
# ppm-implied expectation bound.

_DM_BUCKETS = 10
_DM_WIDTH = 50  # n_chars per bucket; bucket 9 is open-ended


_DM_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         LEAST(CAST(n_chars AS BIGINT) // {_DM_WIDTH},
               {_DM_BUCKETS - 1}) AS bucket
  FROM documents),
b AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b
  FROM d GROUP BY bucket),
t AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM b),
r AS (
  SELECT b.bucket, b.n_b,
         LEAST(1000000,
               (1000000 * t.n) // ({_DM_BUCKETS} * b.n_b)) AS accept_ppm
  FROM b, t)
SELECT r.bucket, r.n_b, r.accept_ppm,
       CAST(COUNT(CASE WHEN
         {_sql_hash60("'dm:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
           < r.accept_ppm THEN 1 END) AS BIGINT) AS n_kept
FROM d JOIN r ON r.bucket = d.bucket
GROUP BY r.bucket, r.n_b, r.accept_ppm
"""


@query("q_sample_dist_match", _DM_ORACLE)
def q_sample_dist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.least(
            (F.col("n_chars").cast("bigint") / _DM_WIDTH).cast("bigint"),
            F.lit(_DM_BUCKETS - 1).cast("bigint"),
        ).alias("bucket"),
    )
    b = d.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    t = b.agg(F.sum("n_b").cast("bigint").alias("n"))
    r = b.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_b",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.expr(f"(1000000 * n) DIV ({_DM_BUCKETS} * n_b)"),
        ).alias("accept_ppm"),
    )
    gate = hash60(F.concat(F.lit("dm:"), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(r), "bucket")
        .groupBy("bucket", "n_b", "accept_ppm")
        .agg(
            F.count(F.when(gate % 1000000 < F.col("accept_ppm"), 1))
            .cast("bigint")
            .alias("n_kept")
        )
    )
