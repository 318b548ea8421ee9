"""Iterative ML queries: fixed-point k-means over the embeddings table.

The oracle replays every Lloyd iteration relationally in DuckDB —
quantized coordinates, integer distances, argmin with cid tie-break,
floor-divided centroid updates, empty-cluster fallback — so the driver
hash-checks the clustering end to end (counts, inertia, AND the final
centroid coordinates via their per-cluster sums), not just row counts.
See ``operators/kmeans.py`` for the portability/scale design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.kmeans import lloyd_fixed_point
from mini_etl_project_spark.operators.rank import global_rank
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import dsum
from mini_etl_project_spark.queries.helpers import (
    sql_dec_to_double as _sql_dec_to_double,
)
from mini_etl_project_spark.queries.helpers import sql_qsum as _sql_qsum
from mini_etl_project_spark.session import load_table

_K = 4
_ITERS = 2
_DIM = 64


def _assign_sql(pts: str, cents: str, tag: str) -> str:
    """One assignment round: exact int64 distances, ties to smaller cid."""
    return f"""
d{tag} AS (
  SELECT p.id, c.cid, SUM((p.vmic - c.c) * (p.vmic - c.c)) AS dist
  FROM {pts} p JOIN {cents} c ON p.i = c.i
  GROUP BY p.id, c.cid),
a{tag} AS (
  SELECT d{tag}.id, MIN(cid) AS cid, MIN(dist) AS dist
  FROM d{tag}
  JOIN (SELECT id AS id2, MIN(dist) AS md FROM d{tag} GROUP BY id) m
    ON d{tag}.id = m.id2 AND d{tag}.dist = m.md
  GROUP BY d{tag}.id)"""


def _update_sql(pts: str, assign: str, prev: str, tag: str) -> str:
    """One centroid update; clusters with no members keep old centroids."""
    return f"""
s{tag} AS (
  SELECT {assign}.cid, p.i,
         CAST(FLOOR(SUM(p.x) * 1000.0 / COUNT(*)) AS BIGINT) AS c
  FROM {assign} JOIN {pts} p ON {assign}.id = p.id
  GROUP BY {assign}.cid, p.i),
c{tag} AS (
  SELECT {prev}.cid, {prev}.i, COALESCE(s{tag}.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN s{tag}
    ON {prev}.cid = s{tag}.cid AND {prev}.i = s{tag}.i)"""


def _kmeans_oracle() -> str:
    parts = [
        f"""
WITH pts AS (
  SELECT vec_id AS id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * 1000 AS vmic
  FROM embeddings, generate_series(1, {_DIM}) g(i)),
c0 AS (
  SELECT CAST(id AS INT) AS cid, i, vmic AS c FROM pts WHERE id < {_K})"""
    ]
    prev = "c0"
    for it in range(1, _ITERS + 1):
        parts.append("," + _assign_sql("pts", prev, str(it)))
        parts.append("," + _update_sql("pts", f"a{it}", prev, str(it)))
        prev = f"c{it}"
    final = _ITERS + 1
    parts.append("," + _assign_sql("pts", prev, str(final)))
    parts.append(
        f""",
csum AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS centroid_sum
         FROM {prev} GROUP BY cid)
SELECT a.cid, COUNT(*) AS n_members,
       CAST(SUM(a.dist) AS BIGINT) AS inertia,
       MIN(csum.centroid_sum) AS centroid_sum
FROM a{final} a JOIN csum ON a.cid = csum.cid
GROUP BY a.cid"""
    )
    return "".join(parts)


@query("q_ml_kmeans", _kmeans_oracle())
def q_ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assign, cents = lloyd_fixed_point(
        emb, "vec_id", "embedding", k=_K, iters=_ITERS
    )
    csum = cents.select(
        "cid",
        F.aggregate(
            "carr", F.lit(0).cast("bigint"), lambda acc, c: acc + c
        ).alias("centroid_sum"),
    )
    stats = assign.groupBy("cid").agg(
        F.count("*").alias("n_members"), F.sum("dist").alias("inertia")
    )
    return stats.join(csum, "cid").select(
        "cid", "n_members", "inertia", "centroid_sum"
    )


# -- Nearest-class-mean classifier (label centroids + confusion matrix) ----
#
# Supervised twin of the k-means operator: per-label integer centroids
# (same fixed-point micro-unit scheme), every vector classified to its
# nearest label centroid, and the confusion matrix (label × predicted)
# with exact integer distances. Centroids are k×dim rows — broadcast; the
# classification is one pass over the corpus.

_NCM_ORACLE = """
WITH pts AS (
  SELECT vec_id AS id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * 1000 AS vmic
  FROM embeddings, generate_series(1, 64) g(i)),
cents AS (
  SELECT label AS clabel, i,
         CAST(FLOOR(SUM(x) * 1000.0 / COUNT(*)) AS BIGINT) AS c
  FROM pts GROUP BY label, i),
d AS (
  SELECT p.id, p.label, c.clabel,
         SUM((p.vmic - c.c) * (p.vmic - c.c)) AS dist
  FROM pts p JOIN cents c ON p.i = c.i
  GROUP BY p.id, p.label, c.clabel),
best AS (
  SELECT d.id, d.label, MIN(clabel) AS pred
  FROM d
  JOIN (SELECT id AS id2, MIN(dist) AS md FROM d GROUP BY id) m
    ON d.id = m.id2 AND d.dist = m.md
  GROUP BY d.id, d.label)
SELECT label, pred, COUNT(*) AS n
FROM best GROUP BY label, pred
"""


@query("q_ml_nearest_centroid", _NCM_ORACLE)
def q_ml_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.kmeans import quantize_points

    emb = load_table(spark, sf_dir, "embeddings")
    pts = quantize_points(emb, "vec_id", "embedding").join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    dims = pts.select(
        "label", F.posexplode("varr").alias("i", "vmic")
    ).withColumn("x", (F.col("vmic") / 1000).cast("bigint"))
    cent_dims = dims.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.floor(F.sum("x") * 1000 / F.count("*")).alias("c")
    )
    cents = cent_dims.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s["c"],
        ).alias("carr")
    )
    scored = pts.crossJoin(F.broadcast(cents)).select(
        "id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with(
                F.col("varr"), F.col("carr"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    best = scored.groupBy("id", "label").agg(
        F.min(F.struct("dist", "clabel")).alias("best")
    )
    return best.select("label", F.col("best.clabel").alias("pred")).groupBy(
        "label", "pred"
    ).agg(F.count("*").alias("n"))


# -- Feature hashing (the hashing trick) -----------------------------------
#
# Fixed-width token features without a vocabulary: every token maps to
# hash(token) mod n_buckets. One explode + one groupBy — no vocabulary
# broadcast, no fit step, which is why the trick scales to unbounded
# token spaces. The portable 60-bit hash keeps both engines bit-aligned.

_FEATURE_HASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents)
SELECT doc_id,
       CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 16 AS bucket,
       COUNT(*) AS n
FROM toks GROUP BY doc_id, bucket
"""


@query("q_ml_feature_hash", _FEATURE_HASH_ORACLE)
def q_ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.textops import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint") % 16
    )
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )


# -- Leave-one-out target encoding -----------------------------------------
#
# Category → mean target with the row's own target excluded (the standard
# leakage-safe encoder for tree/linear models). Per-category totals are a
# tiny broadcast; the encoding is (S_cat − y) / (n_cat − 1) on exact
# integer cents, so the single terminal division is bit-identical across
# engines.

_TARGET_ENCODE_ORACLE = """
WITH obs AS (
  SELECT event_id, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
totals AS (
  SELECT event_type, SUM(cents) AS s, COUNT(*) AS n
  FROM obs GROUP BY event_type)
SELECT o.event_id, o.event_type,
       CAST(t.s - o.cents AS DOUBLE) / (t.n - 1) / 100.0 AS loo_mean
FROM obs o JOIN totals t ON o.event_type = t.event_type
WHERE t.n > 1
"""


@query("q_ml_target_encode", _TARGET_ENCODE_ORACLE)
def q_ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    totals = obs.groupBy("event_type").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    return (
        obs.join(F.broadcast(totals), "event_type")
        .filter(F.col("n") > 1)
        .select(
            "event_id",
            "event_type",
            (
                (F.col("s") - F.col("cents")).cast("double")
                / (F.col("n") - 1)
                / F.lit(100.0)
            ).alias("loo_mean"),
        )
    )


# -- Decile lift table (model-evaluation primitive) ------------------------
#
# Users ranked by a score (total spend in cents — exact), cut into
# deciles by ntile over a UNIQUE ordering (score, user_id — ntile over a
# non-unique ordering is partition-order dependent and would never pass a
# hash gate), then per-decile conversion rate against "has a purchase
# event". The standard lift/gains analysis, all in two keyed passes.

def ntile_from_rank(k: int, rank_col: str, n_col: str) -> F.Column:
    """NTILE(k) computed arithmetically from a 1-based global rank and the
    total row count — the distributed replacement for an unpartitioned
    ntile window. The first (n mod k) tiles hold floor(n/k)+1 rows, the
    rest floor(n/k); ceil division via (x + d - 1) DIV d, all in exact
    integer space (greatest(..,1) guards n < k, where the CASE's first
    branch already covers every row)."""
    return F.expr(
        f"""
        CASE WHEN {rank_col}
                  <= ({n_col} % {k}) * (({n_col} DIV {k}) + 1)
             THEN ({rank_col} + ({n_col} DIV {k}))
                  DIV (({n_col} DIV {k}) + 1)
             ELSE ({n_col} % {k})
                  + ({rank_col}
                     - ({n_col} % {k}) * (({n_col} DIV {k}) + 1)
                     + greatest({n_col} DIV {k}, 1) - 1)
                    DIV greatest({n_col} DIV {k}, 1)
        END
        """
    )


_LIFT_ORACLE = """
WITH scored AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS score,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id),
ranked AS (
  SELECT *, NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM scored)
SELECT decile, COUNT(*) AS n_users,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conversion_rate
FROM ranked GROUP BY decile
"""


@query("q_ml_lift_table", _LIFT_ORACLE)
def q_ml_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    scored = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    # The user table grows with the data, so a global ntile window (single-
    # partition sort of all users) is the wrong plan at scale. Distributed
    # exact form: global_rank (range partitions + broadcast offsets +
    # keyed row_number; operators/rank.py) over the unique (score desc,
    # user_id) ordering, then NTILE(10) computed arithmetically from
    # (rank, n) — value-identical to the oracle's window ntile.
    ranked_rows = global_rank(
        scored, [F.col("score").desc(), F.col("user_id").asc()]
    )
    ranked = ranked_rows.withColumn(
        "decile", ntile_from_rank(10, "rank", "n_total").cast("int")
    )
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count("*")).alias(
            "conversion_rate"
        ),
    )


# -- ROC AUC (exact, distributed rank-sum) ----------------------------------
#
# AUC via the Mann-Whitney U statistic with exact tie handling: rank all
# scores ascending with a UNIQUE (score, user_id) ordering through the
# distributed global_rank operator (range partitions + offsets — no
# global sort), then collapse ties per score group: the tie-average rank
# times the group's positives is exactly pos_g*(min_rank+max_rank)/2.
# Everything stays integer until the single final division:
# AUC = (2*R+ - n_pos*(n_pos+1)) / (2*n_pos*n_neg).

_AUC_ORACLE = """
WITH scored AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS score,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 12 THEN 1 ELSE 0 END AS pos
  FROM events GROUP BY user_id),
ranked AS (
  SELECT score, pos,
         ROW_NUMBER() OVER (ORDER BY score, user_id) AS r
  FROM scored),
grp AS (
  SELECT score, MIN(r) AS minr, MAX(r) AS maxr, SUM(pos) AS pos_g
  FROM ranked GROUP BY score),
agg AS (
  SELECT CAST(SUM(pos_g * (minr + maxr)) AS BIGINT) AS r2,
         CAST(SUM(pos_g) AS BIGINT) AS n_pos,
         CAST(SUM(maxr - minr + 1) - SUM(pos_g) AS BIGINT) AS n_neg
  FROM grp)
SELECT n_pos, n_neg,
       CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
FROM agg
"""


@query("q_ml_roc_auc", _AUC_ORACLE)
def q_ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    scored = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        F.when(
            F.sum((F.col("event_type") == "purchase").cast("long")) >= 12, 1
        )
        .otherwise(0)
        .alias("pos"),
    )
    ranked = global_rank(
        scored, [F.col("score").asc(), F.col("user_id").asc()], rank_col="r"
    )
    grp = ranked.groupBy("score").agg(
        F.min("r").alias("minr"),
        F.max("r").alias("maxr"),
        F.sum("pos").alias("pos_g"),
    )
    agg = grp.agg(
        F.sum(F.col("pos_g") * (F.col("minr") + F.col("maxr")))
        .cast("bigint")
        .alias("r2"),
        F.sum("pos_g").cast("bigint").alias("n_pos"),
        (F.sum(F.col("maxr") - F.col("minr") + 1) - F.sum("pos_g"))
        .cast("bigint")
        .alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                "double"
            )
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# -- Threshold confusion matrix + precision/recall/F1 -----------------------
#
# The standard binary-classification evaluation at a fixed decision
# threshold over the per-user spend score. Pure aggregates: one keyed
# groupBy to score users, one global agg for the four cells, ratios as
# single divisions (deterministic). F1 computed from integer cells:
# 2TP / (2TP + FP + FN) — one division, no chained float ratios.

_CONFUSION_THRESHOLD = 500_000  # cents

_CONFUSION_ORACLE = f"""
WITH scored AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS score,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 12 THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN score >= {_CONFUSION_THRESHOLD} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN score >= {_CONFUSION_THRESHOLD} AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN score < {_CONFUSION_THRESHOLD} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN score < {_CONFUSION_THRESHOLD} AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored)
SELECT tp, fp, fn, tn,
       CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS precision,
       CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS recall,
       CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0) AS f1
FROM cells
"""


@query("q_ml_confusion", _CONFUSION_ORACLE)
def q_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    scored = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        F.when(
            F.sum((F.col("event_type") == "purchase").cast("long")) >= 12, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    hit = F.col("score") >= _CONFUSION_THRESHOLD
    cells = scored.agg(
        F.sum((hit & (F.col("y") == 1)).cast("long")).alias("tp"),
        F.sum((hit & (F.col("y") == 0)).cast("long")).alias("fp"),
        F.sum((~hit & (F.col("y") == 1)).cast("long")).alias("fn"),
        F.sum((~hit & (F.col("y") == 0)).cast("long")).alias("tn"),
    )
    nz = lambda c: F.when(c != 0, c)  # noqa: E731
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        (F.col("tp").cast("double") / nz(F.col("tp") + F.col("fp"))).alias(
            "precision"
        ),
        (F.col("tp").cast("double") / nz(F.col("tp") + F.col("fn"))).alias(
            "recall"
        ),
        (
            (2 * F.col("tp")).cast("double")
            / nz(2 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


# -- Grouped min-max feature scaling ----------------------------------------
#
# (x - min) / (max - min) per market segment — the feature-normalization
# primitive. One keyed agg for the per-group extrema (broadcast-sized),
# one broadcast join, one projection; a single division per row keeps the
# scaled value bit-identical in both engines.

_MINMAX_ORACLE = """
WITH ext AS (
  SELECT c_mktsegment, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
  FROM customer GROUP BY c_mktsegment)
SELECT c.c_custkey, c.c_mktsegment,
       CASE WHEN e.hi = e.lo THEN 0.5
            ELSE (c.c_acctbal - e.lo) / (e.hi - e.lo) END AS scaled
FROM customer c JOIN ext e ON c.c_mktsegment = e.c_mktsegment
"""


@query("q_ml_minmax_scale", _MINMAX_ORACLE)
def q_ml_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ext = c.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.5)).otherwise(
        (F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return c.join(F.broadcast(ext), "c_mktsegment").select(
        "c_custkey", "c_mktsegment", scaled.alias("scaled")
    )


# -- Grouped closed-form OLS (slope/intercept/R^2) --------------------------
#
# Simple linear regression of price (cents) on quantity (units) per
# return flag, via the closed-form normal equations. Determinism trap
# avoided: casting SQUARED doubles to DECIMAL rounds differently across
# engines (half-up vs half-even at the 6th decimal) — so both variables
# are quantized to exact int64 FIRST (units, cents) and every power sum
# accumulates integer products in DECIMAL(38,0), exact in any order.
# slope/intercept/R^2 are then fixed double expression trees over those
# exact sums. One grouped aggregate, no iteration — pure map-side
# combine, the shape a 100 TB regression needs.

_LINREG_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
  FROM q GROUP BY l_returnflag)
SELECT l_returnflag, n,
       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS slope,
       (CAST(sy AS DOUBLE)
        - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
          * CAST(sx AS DOUBLE)) / n AS intercept,
       ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS r2
FROM s
"""


@query("q_ml_linreg", _LINREG_ORACLE)
def q_ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    q = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    dec = "decimal(38,0)"
    s = q.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y").cast(dec))).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return s.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((cov_n * cov_n) / (var_x * var_y)).alias("r2"),
    )


# -- Precision-recall curve at decile thresholds ----------------------------
#
# The lift table's evaluation twin: sweep the decision threshold down the
# score deciles (predict positive = top-d deciles) and emit cumulative
# precision / recall / F1 per step. Builds on the same distributed
# global_rank + arithmetic ntile; the curve itself is a 10-row cumulative
# window over the per-decile aggregate (bounded by construction).

_PR_CURVE_ORACLE = """
WITH scored AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS score,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 12 THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id),
ranked AS (
  SELECT *, NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM scored),
per_d AS (
  SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM ranked GROUP BY decile),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS all_pos FROM per_d),
cum AS (
  SELECT decile,
         CAST(SUM(n) OVER w AS BIGINT) AS n_pred,
         CAST(SUM(pos) OVER w AS BIGINT) AS tp
  FROM per_d WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
SELECT c.decile, c.n_pred, c.tp,
       CAST(c.tp AS DOUBLE) / c.n_pred AS precision,
       CAST(c.tp AS DOUBLE) / t.all_pos AS recall,
       CAST(2 * c.tp AS DOUBLE) / (c.n_pred + t.all_pos) AS f1
FROM cum c, tot t
"""


@query("q_ml_pr_curve", _PR_CURVE_ORACLE)
def q_ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    scored = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        F.when(
            F.sum((F.col("event_type") == "purchase").cast("long")) >= 12, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    ranked = global_rank(
        scored, [F.col("score").desc(), F.col("user_id").asc()]
    ).withColumn("decile", ntile_from_rank(10, "rank", "n_total").cast("int"))
    per_d = ranked.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").cast("bigint").alias("pos")
    )
    tot = per_d.agg(F.sum("pos").cast("bigint").alias("all_pos"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_d.select(
        "decile",
        F.sum("n").over(w).cast("bigint").alias("n_pred"),
        F.sum("pos").over(w).cast("bigint").alias("tp"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_pred",
        "tp",
        (F.col("tp").cast("double") / F.col("n_pred")).alias("precision"),
        (F.col("tp").cast("double") / F.col("all_pos")).alias("recall"),
        (
            (2 * F.col("tp")).cast("double")
            / (F.col("n_pred") + F.col("all_pos"))
        ).alias("f1"),
    )


# -- X158 k-NN majority-vote classifier ------------------------------------
#
# Brute-force exact k-nearest-neighbours (k=5) of a bounded query batch
# (vec_id < 20) against the training rest, integer-exact: coordinates
# quantized to milli-units (same fixed-point scheme as k-means above), so
# squared L2 distances, the (dist, tid) ranking, and the majority vote
# are all bit-identical across engines.  Ties in the vote break to the
# smallest label; ties in distance break to the smallest train id.
#
# Scale posture: the bounded query batch is BROADCAST (the standard
# "score a small probe set against a huge corpus" shape — one map-side
# pass over training vectors, no shuffle of the big side); top-k per
# query is a keyed window over qid.  For corpus-scale query sets the
# IVF/LSH ANN operators in operators/similarity.py are the scale path;
# this query is the exact-evaluation harness.

_KNN_K = 5
_KNN_NQ = 20

_KNN_ORACLE = f"""
WITH pts AS (
  SELECT vec_id AS id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
  FROM embeddings, generate_series(1, {_DIM}) g(i)
  WHERE label IS NOT NULL),
d AS (
  SELECT q.id AS qid, MIN(q.label) AS true_label,
         t.id AS tid, MIN(t.label) AS tlabel,
         CAST(SUM((q.x - t.x) * (q.x - t.x)) AS BIGINT) AS d2
  FROM pts q JOIN pts t ON q.i = t.i
  WHERE q.id < {_KNN_NQ} AND t.id >= {_KNN_NQ}
  GROUP BY q.id, t.id),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, tid) AS rn
    FROM d)
  WHERE rn <= {_KNN_K}),
votes AS (
  SELECT qid, MIN(true_label) AS true_label, tlabel, COUNT(*) AS n_votes
  FROM topk GROUP BY qid, tlabel),
best AS (
  SELECT qid, CAST(MIN(d2) AS BIGINT) AS min_d2 FROM topk GROUP BY qid),
pred AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY n_votes DESC, tlabel) AS pr
    FROM votes)
  WHERE pr = 1)
SELECT p.qid, p.true_label, p.tlabel AS pred_label, p.n_votes, b.min_d2
FROM pred p JOIN best b ON p.qid = b.qid
"""


@query("q_ml_knn_classify", _KNN_ORACLE)
def q_ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # unlabeled vectors can neither vote nor be classified — and a NULL
    # label sorts FIRST in Spark's vote tie-break but LAST in DuckDB's
    # — excluded on both engines (r12 NULL audit).
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull()
    )
    quant = F.transform(
        F.col("embedding"),
        lambda e: F.round(e.cast("double") * 1000).cast("bigint"),
    )
    qv = emb.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        quant.alias("qa"),
    )
    tv = emb.filter(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("tid"),
        F.col("label").alias("tlabel"),
        quant.alias("ta"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qa"), F.col("ta"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    pairs = tv.join(F.broadcast(qv)).select(
        "qid", "true_label", "tid", "tlabel", d2.alias("d2")
    )
    wk = Window.partitionBy("qid").orderBy("d2", "tid")
    topk = pairs.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= _KNN_K
    )
    votes = topk.groupBy("qid", "true_label", "tlabel").agg(
        F.count("*").alias("n_votes")
    )
    best = topk.groupBy("qid").agg(F.min("d2").alias("min_d2"))
    wv = Window.partitionBy("qid").orderBy(F.desc("n_votes"), "tlabel")
    pred = votes.withColumn("pr", F.row_number().over(wv)).filter(
        F.col("pr") == 1
    )
    return pred.join(best, "qid").select(
        "qid",
        "true_label",
        F.col("tlabel").alias("pred_label"),
        "n_votes",
        "min_d2",
    )


# -- X174 k-fold cross-validation ------------------------------------------
#
# 5-fold CV of the nearest-class-mean classifier, formulated SET-BASED:
# instead of unrolling one pipeline per fold, a tiny folds dimension
# (0..4) cross-joins the training side, so "centroids excluding fold f"
# for ALL folds compute in one groupBy — the same shape a 100 TB CV job
# wants (one pass over the data per stage, folds as a key, never a
# driver loop).  Fold assignment is id % 5; all distances use the
# integer micro-unit scheme shared with k-means/NCM; vote ties break to
# the smallest label.  Output: per-fold test size and correct count.

_KFOLD = 5

_KFOLD_ORACLE = f"""
WITH pts AS (
  SELECT vec_id AS id, label, vec_id % {_KFOLD} AS fold, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * 1000
           AS vmic
  FROM embeddings, generate_series(1, {_DIM}) g(i)),
folds AS (SELECT UNNEST(range(0, {_KFOLD})) AS f),
cents AS (
  SELECT folds.f, p.label AS clabel, p.i,
         CAST(FLOOR(SUM(p.x) * 1000.0 / COUNT(*)) AS BIGINT) AS c
  FROM folds JOIN pts p ON p.fold <> folds.f
  GROUP BY folds.f, p.label, p.i),
d AS (
  SELECT p.id, p.fold, p.label, c.clabel,
         CAST(SUM((p.vmic - c.c) * (p.vmic - c.c)) AS BIGINT) AS dist
  FROM pts p JOIN cents c ON c.f = p.fold AND c.i = p.i
  GROUP BY p.id, p.fold, p.label, c.clabel),
best AS (
  SELECT d.id, d.fold, d.label, MIN(d.clabel) AS pred
  FROM d
  JOIN (SELECT id AS id2, MIN(dist) AS md FROM d GROUP BY id) m
    ON d.id = m.id2 AND d.dist = m.md
  GROUP BY d.id, d.fold, d.label)
SELECT fold, COUNT(*) AS n_test,
       CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM best GROUP BY fold
"""


@query("q_ml_kfold_cv", _KFOLD_ORACLE)
def q_ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        "label",
        (F.col("vec_id") % _KFOLD).alias("fold"),
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " e -> cast(round(cast(e as double) * 1000) as bigint))"
            )
        ).alias("i0", "x"),
    ).select(
        "id", "label", "fold", (F.col("i0") + 1).alias("i"), "x",
        (F.col("x") * 1000).alias("vmic"),
    )
    folds = spark.range(_KFOLD).select(F.col("id").alias("f"))
    cents = (
        F.broadcast(folds)
        .join(pts, pts["fold"] != F.col("f"))
        .groupBy("f", F.col("label").alias("clabel"), "i")
        .agg(
            F.expr("cast(floor(sum(x) * 1000.0 / count(*)) as bigint)").alias(
                "c"
            )
        )
    )
    d = (
        pts.join(
            cents,
            (cents["f"] == pts["fold"]) & (cents["i"] == pts["i"]),
        )
        .groupBy("id", "fold", "label", "clabel")
        .agg(
            F.sum((F.col("vmic") - F.col("c")) * (F.col("vmic") - F.col("c")))
            .cast("bigint")
            .alias("dist")
        )
    )
    wmin = Window.partitionBy("id")
    best = (
        d.withColumn("md", F.min("dist").over(wmin))
        .filter(F.col("dist") == F.col("md"))
        .groupBy("id", "fold", "label")
        .agg(F.min("clabel").alias("pred"))
    )
    return best.groupBy("fold").agg(
        F.count("*").alias("n_test"),
        F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    )


# -- X198 deterministic subsample confidence interval ----------------------
#
# Uncertainty quantification without RNG state: 16 overlapping
# half-samples defined by the BITS of a stable row hash (row ∈ replica b
# iff bit b of hash60(orderkey) is set — each replica holds ≈ half the
# rows, deterministically, on any cluster at any partitioning).  The
# replica means' spread gives a subsample CI for the mean order value.
# Sums stay exact integers; the final mean/σ/CI are fixed expression
# trees over 16 exact (sum, count) pairs.
#
# Scale posture: one explode (≤ 16×, average 8×) + one 16-group
# aggregate; replica membership needs no shuffle of its own.

_SUBSAMPLE_B = 16

_SUBSAMPLE_CI_ORACLE = f"""
WITH rows_ AS (
  SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
membership AS (
  SELECT b.b, r.cents
  FROM rows_ r, (SELECT UNNEST(range(0, {_SUBSAMPLE_B})) AS b) b
  WHERE (r.h >> b.b) & 1 = 1),
reps AS (
  SELECT b, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM membership GROUP BY b),
means AS (
  -- deci-cent fixed-point replica means: summing DOUBLES would be
  -- accumulation-order-dependent; integers sum exactly on any plan
  SELECT b, s * 10 // n AS m FROM reps),
agg AS (
  SELECT COUNT(*) AS nb,
         CAST(SUM(m) AS BIGINT) AS s1,
         CAST(SUM(m * m) AS BIGINT) AS s2
  FROM means)
SELECT CAST(nb AS BIGINT) AS n_replicas,
       CAST(s1 AS DOUBLE) / nb AS mean_deci,
       sqrt(CAST(s2 AS DOUBLE) / nb
            - (CAST(s1 AS DOUBLE) / nb) * (CAST(s1 AS DOUBLE) / nb))
         AS sigma_deci,
       CAST(s1 AS DOUBLE) / nb
         - 2 * sqrt(CAST(s2 AS DOUBLE) / nb
                    - (CAST(s1 AS DOUBLE) / nb)
                      * (CAST(s1 AS DOUBLE) / nb)) AS ci_lo,
       CAST(s1 AS DOUBLE) / nb
         + 2 * sqrt(CAST(s2 AS DOUBLE) / nb
                    - (CAST(s1 AS DOUBLE) / nb)
                      * (CAST(s1 AS DOUBLE) / nb)) AS ci_hi
FROM agg
"""


@query("q_ml_subsample_ci", _SUBSAMPLE_CI_ORACLE)
def q_ml_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    rows_ = o.select(
        h.alias("h"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    membership = rows_.select(
        "cents",
        F.explode(
            F.expr(
                f"filter(sequence(0, {_SUBSAMPLE_B - 1}),"
                f" b -> (h >> b) & 1 = 1)"
            )
        ).alias("b"),
    )
    reps = membership.groupBy("b").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("s")
    )
    means = reps.select("b", F.expr("s * 10 DIV n").alias("m"))
    agg = means.agg(
        F.count("*").alias("nb"),
        F.sum("m").cast("bigint").alias("s1"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("s2"),
    )
    grand = F.col("s1").cast("double") / F.col("nb")
    sigma = F.sqrt(F.col("s2").cast("double") / F.col("nb") - grand * grand)
    return agg.select(
        F.col("nb").cast("bigint").alias("n_replicas"),
        grand.alias("mean_deci"),
        sigma.alias("sigma_deci"),
        (grand - 2 * sigma).alias("ci_lo"),
        (grand + 2 * sigma).alias("ci_hi"),
    )


# -- X213 two-sample Kolmogorov-Smirnov test -------------------------------
#
# D = max_v |ECDF_1(v) − ECDF_2(v)| between the order-value distributions
# of finished ('F') vs open ('O') orders, computed entirely in integers:
# the ECDF difference at v is |c1(v)·n2 − c2(v)·n1| / (n1·n2), so the
# maximum is found on the cross-multiplied numerators and only the final
# report divides (truncating fixed-point ppm — positive, so Spark DIV and
# DuckDB // agree).
#
# Scale posture: the cumulative counts use a TWO-LEVEL prefix sum — fixed
# $10k-wide value buckets (bounded by the price range, not the row count)
# give per-bucket totals whose cumulative offsets are a bounded window;
# the within-bucket cumsum window is KEYED by bucket. No unpartitioned
# window touches the unbounded distinct-value set (the pattern
# operators/rank.py documents). Numerator bound: c·n ≤ n1·n2 < 2^63 up
# to ~3e9 rows per group.

_KS_BUCKET_W = 1_000_000  # cents → $10k buckets

_KS_ORACLE = f"""
WITH base AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g1
  FROM orders WHERE o_orderstatus IN ('F', 'O')),
tot AS (
  SELECT CAST(SUM(g1) AS BIGINT) AS n1,
         CAST(SUM(1 - g1) AS BIGINT) AS n2 FROM base),
vals AS (
  SELECT v, CAST(SUM(g1) AS BIGINT) AS c1,
         CAST(SUM(1 - g1) AS BIGINT) AS c2
  FROM base GROUP BY v),
cum AS (
  SELECT v,
         CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS c1c,
         CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS c2c
  FROM vals),
d AS (
  SELECT CAST(MAX(ABS(c1c * t.n2 - c2c * t.n1)) AS BIGINT) AS d_num
  FROM cum, tot t)
SELECT t.n1 AS n1, t.n2 AS n2, d.d_num AS d_num,
       CAST(d.d_num * 1000000 // (t.n1 * t.n2) AS BIGINT) AS d_ppm
FROM d, tot t
"""


@query("q_ml_ks_test", _KS_ORACLE)
def q_ml_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("g1"),
    )
    tot = base.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("n2"),
    )
    vals = base.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("c2"),
    )
    vals = vals.withColumn("b", F.expr(f"v DIV {_KS_BUCKET_W}"))
    # Level 1: bounded per-bucket totals -> cumulative offsets (window
    # over the bounded bucket table only).
    bt = vals.groupBy("b").agg(
        F.sum("c1").alias("t1"), F.sum("c2").alias("t2")
    )
    w_prev = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bt.select(
        "b",
        F.coalesce(F.sum("t1").over(w_prev), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("t2").over(w_prev), F.lit(0)).alias("o2"),
    )
    # Level 2: keyed within-bucket cumsum.
    w_in = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vals.join(F.broadcast(offs), "b").select(
        (F.col("o1") + F.sum("c1").over(w_in)).cast("bigint").alias("c1c"),
        (F.col("o2") + F.sum("c2").over(w_in)).cast("bigint").alias("c2c"),
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("c1c") * F.col("n2") - F.col("c2c") * F.col("n1"))
        )
        .cast("bigint")
        .alias("d_num")
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            "d_num",
            F.expr("d_num * 1000000 DIV (n1 * n2)")
            .cast("bigint")
            .alias("d_ppm"),
        )
    )


# -- X214 calibration / reliability bins -----------------------------------
#
# Reliability-diagram input for a probabilistic classifier: rows carry a
# score in [0, 1) and a binary outcome; per decile-of-score bin report
# count, positives, mean predicted score and observed rate. The "model"
# score is a deterministic 60-bit-hash pseudo-probability (ppm), so both
# engines rebuild it bit-for-bit; everything downstream is one groupBy —
# a single keyed shuffle at any scale. Fixed-point ppm outputs divide
# positives only (Spark DIV == DuckDB // on non-negatives).

_CALIBRATION_ORACLE = """
WITH scored AS (
  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS s_ppm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events)
SELECT CAST(s_ppm // 100000 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
       CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm
FROM scored GROUP BY bin
"""


@query("q_ml_calibration", _CALIBRATION_ORACLE)
def q_ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    scored = e.select(
        (h % 1000000).alias("s_ppm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    return scored.groupBy(
        F.expr("s_ppm DIV 100000").cast("bigint").alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.expr("SUM(s_ppm) DIV COUNT(*)")
        .cast("bigint")
        .alias("mean_score_ppm"),
        F.expr("SUM(pos) * 1000000 DIV COUNT(*)")
        .cast("bigint")
        .alias("pos_rate_ppm"),
    )


# -- X215 decision stump (best Gini split) ---------------------------------
#
# One round of CART: the single threshold on c_acctbal that minimizes
# weighted Gini impurity of the 5-class c_mktsegment label. Minimizing
# n_L·Gini_L + n_R·Gini_R is equivalent to maximizing
#   S = (Σ c_{L,i}² · n_R + Σ c_{R,i}² · n_L) / (n_L · n_R),
# so candidates are compared on S built from exact integer class counts.
# Candidate thresholds are the FIXED $500-wide bucket edges (bounded by
# the balance range, not the row count): bucket-class counts are one
# groupBy on the raw table, and every window after that runs over the
# ~22×5-row bounded bucket table. Σc² stays int64 (< 5·(3e9/5)² at 100
# TB-scale class counts would overflow — hence counts enter S as exact
# ints but the two products combine in ONE double expression tree,
# identical in both engines, no double SUM whose order could vary).
# Ties on the double score break to the smaller threshold in both
# engines, so the output is deterministic either way.

_STUMP_SHIFT = 100_000  # cents; makes shifted balances non-negative
_STUMP_W = 50_000  # $500 buckets

_STUMP_ORACLE = f"""
WITH pts AS (
  SELECT (CAST(ROUND(c_acctbal * 100) AS BIGINT) + {_STUMP_SHIFT})
           // {_STUMP_W} AS b,
         c_mktsegment AS cls
  FROM customer),
bc AS (
  SELECT b, cls, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY b, cls),
-- densified cumulative: every (candidate bucket x class) pair, else
-- classes absent from a bucket would silently drop out of that
-- candidate's left-side counts
cum AS (
  SELECT cb.b, ct.cls, ct.ct,
         CAST(COALESCE(SUM(bc.c), 0) AS BIGINT) AS cl
  FROM (SELECT DISTINCT b FROM bc) cb
  CROSS JOIN (SELECT cls, CAST(SUM(c) AS BIGINT) AS ct
              FROM bc GROUP BY cls) ct
  LEFT JOIN bc ON bc.cls = ct.cls AND bc.b <= cb.b
  GROUP BY cb.b, ct.cls, ct.ct),
cand AS (
  SELECT b,
         CAST(SUM(cl) AS BIGINT) AS n_l,
         CAST(SUM(ct - cl) AS BIGINT) AS n_r,
         CAST(SUM(cl * cl) AS BIGINT) AS sq_l,
         CAST(SUM((ct - cl) * (ct - cl)) AS BIGINT) AS sq_r
  FROM cum GROUP BY b),
scored AS (
  SELECT b, n_l, n_r,
         (CAST(sq_l AS DOUBLE) * CAST(n_r AS DOUBLE)
          + CAST(sq_r AS DOUBLE) * CAST(n_l AS DOUBLE))
           / (CAST(n_l AS DOUBLE) * CAST(n_r AS DOUBLE)) AS score
  FROM cand WHERE n_l > 0 AND n_r > 0),
best AS (
  SELECT b, n_l, n_r, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, b) AS rk
  FROM scored)
SELECT CAST((b + 1) * {_STUMP_W} - {_STUMP_SHIFT} AS BIGINT)
         AS threshold_cents,
       n_l, n_r, score
FROM best WHERE rk = 1
"""


@query("q_ml_decision_stump", _STUMP_ORACLE)
def q_ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.expr(
            f"(CAST(ROUND(c_acctbal * 100) AS BIGINT) + {_STUMP_SHIFT})"
            f" DIV {_STUMP_W}"
        ).alias("b"),
        F.col("c_mktsegment").alias("cls"),
    )
    bc = pts.groupBy("b", "cls").agg(F.count("*").cast("bigint").alias("c"))
    # Everything below runs on the bounded bucket-class table; the cross
    # join densifies (bucket x class) so absent classes still contribute
    # their cumulative count to every candidate.
    cand_b = bc.select("b").distinct()
    cls_t = bc.groupBy("cls").agg(F.sum("c").cast("bigint").alias("ct"))
    bc2 = bc.select(
        F.col("b").alias("b2"), F.col("cls").alias("cls2"), "c"
    )
    cum = (
        cand_b.crossJoin(cls_t)
        .join(
            bc2,
            (F.col("cls2") == F.col("cls")) & (F.col("b2") <= F.col("b")),
            "left",
        )
        .groupBy("b", "cls", "ct")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("cl"))
    )
    cand = cum.groupBy("b").agg(
        F.sum("cl").cast("bigint").alias("n_l"),
        F.sum(F.col("ct") - F.col("cl")).cast("bigint").alias("n_r"),
        F.sum(F.col("cl") * F.col("cl")).cast("bigint").alias("sq_l"),
        F.sum((F.col("ct") - F.col("cl")) * (F.col("ct") - F.col("cl")))
        .cast("bigint")
        .alias("sq_r"),
    )
    scored = cand.filter((F.col("n_l") > 0) & (F.col("n_r") > 0)).select(
        "b",
        "n_l",
        "n_r",
        (
            (
                F.col("sq_l").cast("double") * F.col("n_r").cast("double")
                + F.col("sq_r").cast("double") * F.col("n_l").cast("double")
            )
            / (F.col("n_l").cast("double") * F.col("n_r").cast("double"))
        ).alias("score"),
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("b"))),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.expr(f"(b + 1) * {_STUMP_W} - {_STUMP_SHIFT}")
        .cast("bigint")
        .alias("threshold_cents"),
        "n_l",
        "n_r",
        "score",
    )


# -- X221 association rules (support / confidence / lift) ------------------
#
# Market-basket rules over order baskets: items are coarsened part keys
# (l_partkey % 100), pairs come from a SELF-JOIN KEYED ON THE BASKET ID
# (never a cross join — ~k² pairs per basket, one shuffle), and each
# directed rule A→B reports support count, confidence and lift in ppm
# fixed point. Fixed-point semantics are the NESTED floor
#   lift = (conf_ppm · N) DIV n_B  with  conf_ppm = n_AB·10⁶ DIV n_A
# — both engines evaluate the identical tree, and every intermediate
# stays under 2^63 even at 3e9 baskets (conf_ppm ≤ 10⁶, ·N ≤ 3e15).
# A RELATIVE min-support filter (>= 0.2% of baskets, compared
# cross-multiplied so nothing divides) keeps the rule set bounded and
# the query meaningful at every scale factor.

_ASSOC_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS bid, l_partkey % 100 AS item
  FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT bid) AS BIGINT) AS n FROM items),
freq AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b ON a.bid = b.bid AND a.item < b.item
  GROUP BY a.item, b.item),
rules AS (
  SELECT ia AS ante, ib AS cons, n_ab FROM pairs
  UNION ALL
  SELECT ib AS ante, ia AS cons, n_ab FROM pairs)
SELECT CAST(r.ante AS BIGINT) AS ante, CAST(r.cons AS BIGINT) AS cons,
       r.n_ab AS support_cnt,
       CAST(r.n_ab * 1000000 // fa.n_item AS BIGINT) AS conf_ppm,
       CAST((r.n_ab * 1000000 // fa.n_item) * nb.n // fc.n_item
            AS BIGINT) AS lift_ppm
FROM rules r
JOIN freq fa ON fa.item = r.ante
JOIN freq fc ON fc.item = r.cons
CROSS JOIN nb
WHERE r.n_ab * 500 >= nb.n
"""


@query("q_ml_assoc_rules", _ASSOC_ORACLE)
def q_ml_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select(
        F.col("l_orderkey").alias("bid"),
        (F.col("l_partkey") % 100).alias("item"),
    ).distinct()
    nb = items.agg(F.countDistinct("bid").cast("bigint").alias("n"))
    freq = items.groupBy("item").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    a = items.select("bid", F.col("item").alias("ia"))
    b = items.select("bid", F.col("item").alias("ib"))
    pairs = (
        a.join(b, "bid")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    rules = pairs.select(
        F.col("ia").alias("ante"), F.col("ib").alias("cons"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("ib").alias("ante"), F.col("ia").alias("cons"), "n_ab"
        )
    )
    fa = freq.select(
        F.col("item").alias("ante"), F.col("n_item").alias("n_a")
    )
    fc = freq.select(
        F.col("item").alias("cons"), F.col("n_item").alias("n_c")
    )
    out = (
        rules.crossJoin(F.broadcast(nb)).filter(
            F.col("n_ab") * 500 >= F.col("n")
        )
        .join(F.broadcast(fa), "ante")
        .join(F.broadcast(fc), "cons")
    )
    return out.select(
        F.col("ante").cast("bigint").alias("ante"),
        F.col("cons").cast("bigint").alias("cons"),
        F.col("n_ab").alias("support_cnt"),
        F.expr("n_ab * 1000000 DIV n_a").cast("bigint").alias("conf_ppm"),
        F.expr("(n_ab * 1000000 DIV n_a) * n DIV n_c")
        .cast("bigint")
        .alias("lift_ppm"),
    )


# -- X225 item-item collaborative filtering --------------------------------
#
# Item-based recommender core: for every catalog item, the top-3 most
# similar items by co-occurrence cosine over order baskets. The score is
# fixed-point cosine² — (n_AB·10⁶ DIV n_A)·(n_AB·10⁶ DIV n_B) DIV 10⁶ —
# a nested-floor tree both engines evaluate identically, bounded by 10⁶
# so nothing overflows at any count (each factor ≤ 10⁶ because
# n_AB ≤ min(n_A, n_B)). Pairs come from the basket-keyed self-join (one
# shuffle); the top-3 window is KEYED per item and the item catalog
# bounds its width. Ties pin to the smaller neighbor id.

_ITEM_CF_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS bid, l_partkey % 100 AS item
  FROM lineitem),
freq AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b ON a.bid = b.bid AND a.item < b.item
  GROUP BY a.item, b.item),
sym AS (
  SELECT ia AS item, ib AS nb, n_ab FROM pairs
  UNION ALL
  SELECT ib AS item, ia AS nb, n_ab FROM pairs),
scored AS (
  SELECT s.item, s.nb,
         CAST((s.n_ab * 1000000 // fi.n_item)
              * (s.n_ab * 1000000 // fn.n_item) // 1000000
              AS BIGINT) AS cos2_ppm
  FROM sym s
  JOIN freq fi ON fi.item = s.item
  JOIN freq fn ON fn.item = s.nb),
ranked AS (
  SELECT item, nb, cos2_ppm,
         ROW_NUMBER() OVER (PARTITION BY item
                            ORDER BY cos2_ppm DESC, nb) AS rk
  FROM scored)
SELECT CAST(item AS BIGINT) AS item, CAST(rk AS BIGINT) AS rk,
       CAST(nb AS BIGINT) AS neighbor, cos2_ppm
FROM ranked WHERE rk <= 3
"""


@query("q_ml_item_cf", _ITEM_CF_ORACLE)
def q_ml_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select(
        F.col("l_orderkey").alias("bid"),
        (F.col("l_partkey") % 100).alias("item"),
    ).distinct()
    freq = items.groupBy("item").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    a = items.select("bid", F.col("item").alias("ia"))
    b = items.select("bid", F.col("item").alias("ib"))
    pairs = (
        a.join(b, "bid")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    sym = pairs.select(
        F.col("ia").alias("item"), F.col("ib").alias("nb"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("ib").alias("item"), F.col("ia").alias("nb"), "n_ab"
        )
    )
    fi = freq.select(F.col("item"), F.col("n_item").alias("n_i"))
    fn = freq.select(
        F.col("item").alias("nb"), F.col("n_item").alias("n_n")
    )
    scored = (
        sym.join(F.broadcast(fi), "item")
        .join(F.broadcast(fn), "nb")
        .select(
            "item",
            "nb",
            F.expr(
                "(n_ab * 1000000 DIV n_i)"
                " * (n_ab * 1000000 DIV n_n) DIV 1000000"
            )
            .cast("bigint")
            .alias("cos2_ppm"),
        )
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("item").orderBy(
                F.desc("cos2_ppm"), F.asc("nb")
            )
        ),
    ).filter(F.col("rk") <= 3)
    return ranked.select(
        F.col("item").cast("bigint").alias("item"),
        F.col("rk").cast("bigint").alias("rk"),
        F.col("nb").cast("bigint").alias("neighbor"),
        "cos2_ppm",
    )


# -- X230 distributed PCA (covariance Gramian + power iteration) -----------
#
# Top principal direction of the embedding cloud, computed the way a
# cluster computes it: ONE distributed pass builds the exact integer
# covariance Gramian (64×64 — bounded), then power iteration runs on
# that bounded table; nothing iterative ever touches row-scale data.
# Exactness engineering:
#   - milli-quantized coordinates; centering is n-SCALED (c = n·x − Σx)
#     so the mean needs no division and stays integer-exact;
#   - Gramian entries sum c_i·c_j into DECIMAL(38,0) (order-independent;
#     bigint would overflow past ~10⁵ rows — at 10⁹-row scale the same
#     plan runs with the E[xy]−E[x]E[y] decomposition, noted here);
#   - each iteration renormalizes by the ∞-norm in 10⁶ fixed point via
#     SIGN·FLOOR(ABS·10⁶/max) — DuckDB replays the matvec in HUGEINT,
#     Spark in DECIMAL(38,0); both are exact integers, so the final
#     double division + floor is bit-identical.
# Output: the 64 fixed-point eigenvector components after 2 iterations
# plus the ∞-norm Rayleigh estimate, one row per dimension.

_PCA_DIM = 64


def _pca_iter_sql(prev: str, cur: str) -> str:
    return f"""
w_{cur} AS (
  SELECT cov.j, SUM(CAST(cov.s AS HUGEINT) * {prev}.v) AS w
  FROM cov JOIN {prev} ON {prev}.i = cov.i
  GROUP BY cov.j),
mx_{cur} AS (SELECT MAX(ABS(w)) AS mx FROM w_{cur}),
{cur} AS (
  SELECT w.j AS i,
         CAST(CASE WHEN w.w >= 0 THEN 1 ELSE -1 END
              * FLOOR(CAST(ABS(w.w) AS DOUBLE) * 1000000
                      / CAST(m.mx AS DOUBLE)) AS BIGINT) AS v
  FROM w_{cur} w CROSS JOIN mx_{cur} m)"""


_PCA_ORACLE = f"""
WITH pts AS (
  SELECT vec_id AS id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
  FROM embeddings, generate_series(1, {_PCA_DIM}) g(i)),
nn AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n FROM pts),
sums AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sx FROM pts GROUP BY i),
cdims AS (
  SELECT p.id, p.i, nn.n * p.x - s.sx AS c
  FROM pts p JOIN sums s ON s.i = p.i CROSS JOIN nn),
cov AS (
  SELECT a.i, b.i AS j,
         SUM(CAST(a.c * b.c AS DECIMAL(38,0))) AS s
  FROM cdims a JOIN cdims b ON a.id = b.id
  GROUP BY a.i, b.i),
v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM sums),
{_pca_iter_sql('v0', 'v1')},
{_pca_iter_sql('v1', 'v2')}
SELECT v2.i AS dim, v2.v AS v_ppm,
       CAST(FLOOR(CAST((SELECT mx FROM mx_v2) AS DOUBLE) / 1000000)
            AS BIGINT) AS lambda_scaled
FROM v2
"""


@query("q_ml_pca_power", _PCA_ORACLE)
def q_ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("bigint"),
            )
        ).alias("i0", "x"),
    ).select("id", (F.col("i0") + 1).alias("i"), "x")
    nn = pts.agg(F.countDistinct("id").cast("bigint").alias("n"))
    # 64-row dimension sums feed cdims AND the v iteration chain —
    # checkpoint so the embeddings scan is not re-derived per consumer
    sums = (
        pts.groupBy("i")
        .agg(F.sum("x").cast("bigint").alias("sx"))
        .localCheckpoint(eager=True)
    )
    cdims = (
        pts.crossJoin(F.broadcast(nn))
        .join(F.broadcast(sums), "i")
        .select(
            "id", "i", (F.col("n") * F.col("x") - F.col("sx")).alias("c")
        )
    )
    a = cdims.select("id", "i", "c")
    b = cdims.select("id", F.col("i").alias("j"), F.col("c").alias("cj"))
    cov = (
        a.join(b, "id")
        .groupBy("i", "j")
        .agg(
            F.sum((F.col("c") * F.col("cj")).cast("decimal(38,0)")).alias(
                "s"
            )
        )
        # bounded 64x64 Gram table consumed once per power-iteration
        # round — checkpoint so the embeddings scan + self-join run once
        # (round-9 audit: the final plan re-derived them into 120 scans)
        .localCheckpoint(eager=True)
    )
    v = sums.select("i", F.lit(1000000).cast("bigint").alias("v"))
    mx = None
    for _ in range(2):
        w = (
            cov.join(v, "i")
            .groupBy("j")
            .agg(F.sum(F.col("s") * F.col("v")).alias("w"))
        )
        mx = w.agg(F.max(F.abs("w")).alias("mx"))
        v = w.crossJoin(F.broadcast(mx)).select(
            F.col("j").alias("i"),
            (
                F.when(F.col("w") >= 0, 1).otherwise(-1)
                * F.floor(
                    F.abs("w").cast("double")
                    * 1000000
                    / F.col("mx").cast("double")
                )
            )
            .cast("bigint")
            .alias("v"),
        )
    lam = mx.select(
        F.floor(F.col("mx").cast("double") / 1000000)
        .cast("bigint")
        .alias("lambda_scaled")
    )
    return v.crossJoin(F.broadcast(lam)).select(
        F.col("i").alias("dim"), F.col("v").alias("v_ppm"), "lambda_scaled"
    )


# -- X232 multinomial naive Bayes (integer-exact smoothed scores) ----------
#
# The classic count-based classifier as pure distributed aggregation:
# class priors and per-class feature-value counts are three tiny keyed
# groupBys over ONE scan of the facts; scoring joins those bounded count
# tables (broadcast) onto the distinct feature combinations — training
# never materializes anything row-scale, so the identical plan trains on
# 100 TB of facts with the shuffle carrying only count partials.
# Exactness: log-free scoring. With Laplace smoothing,
#   P(c | f1, f2) ∝ Nc·(C1+1)·(C2+1) / ((Nc+V1)·(Nc+V2))
# and the score is kept as an exact integer:
#   score_ppb = Nc·(C1+1)·(C2+1)·10⁹ DIV ((Nc+V1)·(Nc+V2)·N)
# computed in DECIMAL(38,0) (DuckDB: HUGEINT) — products stay < 10³⁶
# through ~10⁷-row classes, and integral division on positive operands is
# floor in both engines. Argmax tie-breaks to the smallest class label.

_NB_ORACLE = """
WITH facts AS (
  SELECT l_returnflag AS cls, l_linestatus AS f1,
         CAST(ROUND(l_quantity) AS BIGINT) // 10 AS f2
  FROM lineitem),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM facts),
prior AS (SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_c FROM facts GROUP BY cls),
c1 AS (SELECT cls, f1, CAST(COUNT(*) AS BIGINT) AS cnt1
       FROM facts GROUP BY cls, f1),
c2 AS (SELECT cls, f2, CAST(COUNT(*) AS BIGINT) AS cnt2
       FROM facts GROUP BY cls, f2),
v AS (SELECT (SELECT CAST(COUNT(DISTINCT f1) AS BIGINT) FROM facts) AS v1,
             (SELECT CAST(COUNT(DISTINCT f2) AS BIGINT) FROM facts) AS v2),
combos AS (SELECT DISTINCT f1, f2 FROM facts),
scored AS (
  SELECT co.f1, co.f2, p.cls,
         CAST(CAST(p.n_c AS HUGEINT) * (COALESCE(c1.cnt1, 0) + 1)
              * (COALESCE(c2.cnt2, 0) + 1) * 1000000000
              // (CAST(p.n_c + v.v1 AS HUGEINT) * (p.n_c + v.v2) * nn.n)
              AS BIGINT) AS score_ppb
  FROM combos co
  CROSS JOIN prior p CROSS JOIN v CROSS JOIN nn
  LEFT JOIN c1 ON c1.cls = p.cls AND c1.f1 = co.f1
  LEFT JOIN c2 ON c2.cls = p.cls AND c2.f2 = co.f2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY f1, f2
                               ORDER BY score_ppb DESC, cls) AS rk
  FROM scored)
SELECT f1, f2, cls AS predicted, score_ppb
FROM ranked WHERE rk = 1
"""


@query("q_ml_naive_bayes", _NB_ORACLE)
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    facts = li.select(
        F.col("l_returnflag").alias("cls"),
        F.col("l_linestatus").alias("f1"),
        F.expr("CAST(ROUND(l_quantity) AS BIGINT) DIV 10").alias("f2"),
    )
    nn = facts.agg(F.count("*").cast("bigint").alias("n"))
    prior = facts.groupBy("cls").agg(F.count("*").cast("bigint").alias("n_c"))
    c1 = facts.groupBy("cls", "f1").agg(
        F.count("*").cast("bigint").alias("cnt1")
    )
    c2 = facts.groupBy("cls", "f2").agg(
        F.count("*").cast("bigint").alias("cnt2")
    )
    v = facts.agg(
        F.countDistinct("f1").cast("bigint").alias("v1"),
        F.countDistinct("f2").cast("bigint").alias("v2"),
    )
    combos = facts.select("f1", "f2").distinct()
    scored = (
        combos.crossJoin(F.broadcast(prior))
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(nn))
        .join(F.broadcast(c1), ["cls", "f1"], "left")
        .join(F.broadcast(c2), ["cls", "f2"], "left")
        .select(
            "f1",
            "f2",
            "cls",
            F.expr(
                "CAST(CAST(n_c AS DECIMAL(38,0)) * (COALESCE(cnt1, 0) + 1)"
                " * (COALESCE(cnt2, 0) + 1) * 1000000000"
                " DIV (CAST(n_c + v1 AS DECIMAL(38,0)) * (n_c + v2) * n)"
                " AS BIGINT)"
            ).alias("score_ppb"),
        )
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("f1", "f2").orderBy(
                F.desc("score_ppb"), F.asc("cls")
            )
        ),
    ).filter(F.col("rk") == 1)
    return ranked.select(
        "f1", "f2", F.col("cls").alias("predicted"), "score_ppb"
    )


# -- X240 DBSCAN via grid-bucketed neighbor join + label propagation -------
#
# Density clustering the distributed way: the O(n²) neighborhood search
# is replaced by a GRID join — each point lands in one eps-sized cell,
# probes explode to the 3×3 neighborhood, and candidate pairs exist only
# within adjacent cells (the standard spatial-join pruning; candidate
# count scales with local density, not n²). Core points (≥ minPts
# neighbors incl. self), core-core edges → connected components (the
# repo's path-compressed min-label operator), border points attach to
# the min adjacent core component, everything else is noise (-1).
# Coordinates are milli-quantized ints, distances exact integer L²; the
# oracle replays the brute-force O(n²) definition with a recursive-CTE
# min-label closure — the grid pruning must be LOSSLESS to match.

_DBSCAN_EPS = 60  # milli-units
_DBSCAN_MINPTS = 6


_DBSCAN_ORACLE = f"""
WITH pts AS (
  SELECT vec_id AS id,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS x,
         CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1000) AS BIGINT) AS y
  FROM embeddings),
nbrs AS (
  SELECT a.id AS ia, b.id AS ib
  FROM pts a JOIN pts b
    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_DBSCAN_EPS} * {_DBSCAN_EPS}),
deg AS (SELECT ia AS id, COUNT(*) AS n_nbrs FROM nbrs GROUP BY ia),
core AS (SELECT id FROM deg WHERE n_nbrs >= {_DBSCAN_MINPTS}),
core_edges AS (
  SELECT n.ia AS a, n.ib AS b FROM nbrs n
  JOIN core ca ON ca.id = n.ia JOIN core cb ON cb.id = n.ib
  WHERE n.ia <> n.ib),
closure AS (
  WITH RECURSIVE reach(node, lab) AS (
    SELECT id, id FROM core
    UNION
    SELECT e.b, r.lab FROM reach r JOIN core_edges e ON e.a = r.node)
  SELECT node AS id, MIN(lab) AS comp FROM reach GROUP BY node),
border AS (
  SELECT n.ia AS id, MIN(c.comp) AS comp
  FROM nbrs n JOIN closure c ON c.id = n.ib
  WHERE n.ia NOT IN (SELECT id FROM core)
  GROUP BY n.ia)
SELECT p.id,
       CASE WHEN cl.id IS NOT NULL THEN 'core'
            WHEN bo.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cl.comp, bo.comp, -1) AS BIGINT) AS cluster
FROM pts p
LEFT JOIN closure cl ON cl.id = p.id
LEFT JOIN border bo ON bo.id = p.id
"""


@query("q_ml_dbscan_grid", _DBSCAN_ORACLE)
def q_ml_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.dedup import connected_components

    eps, minpts = _DBSCAN_EPS, _DBSCAN_MINPTS
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.round(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("bigint")
        .alias("x"),
        F.round(F.element_at("embedding", 3).cast("double") * 1000)
        .cast("bigint")
        .alias("y"),
    )
    # Grid join: build side keyed by its own cell, probe side exploded to
    # the 3×3 neighborhood — every true eps-pair shares a probe cell.
    cell = lambda c: F.floor(c / F.lit(eps)).cast("long")  # noqa: E731
    build = pts.select(
        F.col("id").alias("ib"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cell(F.col("x")).alias("cx"),
        cell(F.col("y")).alias("cy"),
    )
    probe = (
        pts.select(
            F.col("id").alias("ia"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            F.explode(
                F.array(*[F.lit(d) for d in (-1, 0, 1)])
            ).alias("dx"),
            cell(F.col("x")).alias("pcx"),
            cell(F.col("y")).alias("pcy"),
        )
        .select(
            "ia", "xa", "ya",
            (F.col("pcx") + F.col("dx")).alias("cx"),
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
            "pcy",
        )
        .select("ia", "xa", "ya", "cx", (F.col("pcy") + F.col("dy")).alias("cy"))
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    nbrs = (
        probe.join(build, ["cx", "cy"])
        .filter(dx * dx + dy * dy <= eps * eps)
        .select("ia", "ib")
    )
    deg = nbrs.groupBy(F.col("ia").alias("id")).agg(
        F.count("*").alias("n_nbrs")
    )
    core = deg.filter(F.col("n_nbrs") >= minpts).select("id")
    core_edges = (
        nbrs.filter(F.col("ia") != F.col("ib"))
        .join(core.withColumnRenamed("id", "ia"), "ia")
        .join(core.withColumnRenamed("id", "ib"), "ib")
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    comp = connected_components(core_edges)  # (id, component)
    # Isolated cores (no core neighbor) keep their own id as component.
    closure = core.join(comp, "id", "left").select(
        "id", F.coalesce("component", "id").alias("comp")
    )
    border = (
        nbrs.join(closure.withColumnRenamed("id", "ib"), "ib")
        .join(core.withColumnRenamed("id", "ia"), "ia", "left_anti")
        .groupBy(F.col("ia").alias("id"))
        .agg(F.min("comp").alias("bcomp"))
    )
    out = (
        pts.join(closure, "id", "left")
        .join(border, "id", "left")
        .select(
            "id",
            F.when(F.col("comp").isNotNull(), "core")
            .when(F.col("bcomp").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("comp", "bcomp", F.lit(-1))
            .cast("bigint")
            .alias("cluster"),
        )
    )
    return out


# -- X246 batch perceptron (unrolled integer gradient rounds) --------------
#
# The minimal distributed learner: batch perceptron on two quantized
# embedding coordinates + bias, label y = ±1. Each round is ONE
# aggregation — Δw = Σ over misclassified points of y·x (margin test
# y·(w·x) ≤ 0 uses the PREVIOUS round's weights, which are a broadcast
# 1-row table) — then w' = w + Δw. Three unrolled rounds keep the whole
# computation one declarative plan: per round the shuffle carries 3
# integer partial sums, nothing else; at 100 TB each round is a
# map-side-combined scan, the textbook full-batch update. All arithmetic
# is exact int64 (coords ≤ 2¹⁰ milli-units, so even web-scale Δw sums
# stay < 2⁵³... < 2⁶³).

_PCT_ROUND_SQL = """
w_{cur} AS (
  SELECT w.w1 + COALESCE(SUM(CASE WHEN p.y * (w.w1 * p.x1 + w.w2 * p.x2
                                             + w.w0) <= 0
                                  THEN p.y * p.x1 END), 0) AS w1,
         w.w2 + COALESCE(SUM(CASE WHEN p.y * (w.w1 * p.x1 + w.w2 * p.x2
                                              + w.w0) <= 0
                                  THEN p.y * p.x2 END), 0) AS w2,
         w.w0 + COALESCE(SUM(CASE WHEN p.y * (w.w1 * p.x1 + w.w2 * p.x2
                                              + w.w0) <= 0
                                  THEN p.y END), 0) AS w0,
         COUNT(CASE WHEN p.y * (w.w1 * p.x1 + w.w2 * p.x2 + w.w0) <= 0
                    THEN 1 END) AS n_miscl
  FROM pts p CROSS JOIN w_{prev} w
  GROUP BY w.w1, w.w2, w.w0)
"""


_PERCEPTRON_ORACLE = f"""
WITH pts AS (
  SELECT CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS x1,
         CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1000) AS BIGINT) AS x2,
         CAST(2 * (label % 2) - 1 AS BIGINT) AS y
  FROM embeddings),
w_0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
               CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS n_miscl),
{_PCT_ROUND_SQL.format(cur=1, prev=0)},
{_PCT_ROUND_SQL.format(cur=2, prev=1)},
{_PCT_ROUND_SQL.format(cur=3, prev=2)}
SELECT 1 AS round, CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
       CAST(w0 AS BIGINT) AS w0, CAST(n_miscl AS BIGINT) AS n_miscl
FROM w_1
UNION ALL SELECT 2, CAST(w1 AS BIGINT), CAST(w2 AS BIGINT),
       CAST(w0 AS BIGINT), CAST(n_miscl AS BIGINT) FROM w_2
UNION ALL SELECT 3, CAST(w1 AS BIGINT), CAST(w2 AS BIGINT),
       CAST(w0 AS BIGINT), CAST(n_miscl AS BIGINT) FROM w_3
"""


@query("q_ml_perceptron", _PERCEPTRON_ORACLE)
def q_ml_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.round(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("bigint")
        .alias("x1"),
        F.round(F.element_at("embedding", 3).cast("double") * 1000)
        .cast("bigint")
        .alias("x2"),
        (2 * (F.col("label") % 2) - 1).cast("bigint").alias("y"),
    )
    w = pts.sparkSession.range(1).select(
        F.lit(0).cast("bigint").alias("w1"),
        F.lit(0).cast("bigint").alias("w2"),
        F.lit(0).cast("bigint").alias("w0"),
        F.lit(0).cast("bigint").alias("n_miscl"),
    )
    outs = []
    for rnd in (1, 2, 3):
        margin = F.col("y") * (
            F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w0")
        )
        mis = margin <= 0
        w = (
            pts.crossJoin(F.broadcast(w))
            .groupBy("w1", "w2", "w0")
            .agg(
                (
                    F.first("w1")
                    + F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col("x1"))),
                        F.lit(0),
                    )
                ).alias("nw1"),
                (
                    F.first("w2")
                    + F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col("x2"))),
                        F.lit(0),
                    )
                ).alias("nw2"),
                (
                    F.first("w0")
                    + F.coalesce(F.sum(F.when(mis, F.col("y"))), F.lit(0))
                ).alias("nw0"),
                F.count(F.when(mis, F.lit(1))).cast("bigint").alias(
                    "n_miscl"
                ),
            )
            .select(
                F.col("nw1").cast("bigint").alias("w1"),
                F.col("nw2").cast("bigint").alias("w2"),
                F.col("nw0").cast("bigint").alias("w0"),
                "n_miscl",
            )
        )
        outs.append(
            w.select(
                F.lit(rnd).cast("int").alias("round"),
                "w1",
                "w2",
                "w0",
                "n_miscl",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# -- X248 multivariate linear regression (normal equations + Cramer) -------
#
# Two-feature OLS with intercept, fit the distributed way: the 3×3
# normal-equation system is assembled from NINE integer moment sums in
# ONE map-side-combinable aggregation per group (the shuffle carries 9
# numbers per group, never rows), then solved per group by Cramer's
# rule. Moments are exact int64 (quantized features, bounds documented
# per q_agg_corr_matrix); every determinant/division runs in the
# mirrored IEEE double tree, so both engines produce bit-identical
# coefficients. price ≈ β0 + β1·qty + β2·disc per returnflag.

_LINREG2_ORACLE = """
WITH scaled AS (
  SELECT l_returnflag AS grp,
         CAST(ROUND(l_quantity) AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 1000) AS BIGINT) AS x2,
         CAST(ROUND(l_extendedprice) AS BIGINT) // 10 AS y
  FROM lineitem),
m AS (
  SELECT grp, COUNT(*) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1*x1) AS s11, SUM(x2*x2) AS s22, SUM(x1*x2) AS s12,
         SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
  FROM scaled GROUP BY grp),
d AS (
  SELECT grp, CAST(n AS BIGINT) AS n,
         CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b,
         CAST(s2 AS DOUBLE) AS c, CAST(s11 AS DOUBLE) AS e,
         CAST(s12 AS DOUBLE) AS f, CAST(s22 AS DOUBLE) AS g,
         CAST(sy AS DOUBLE) AS p, CAST(s1y AS DOUBLE) AS q,
         CAST(s2y AS DOUBLE) AS r
  FROM m)
SELECT grp, n,
       (p * (e*g - f*f) - b * (q*g - f*r) + c * (q*f - e*r))
         / (a * (e*g - f*f) - b * (b*g - c*f) + c * (b*f - c*e)) AS beta0,
       (a * (q*g - f*r) - p * (b*g - c*f) + c * (b*r - c*q))
         / (a * (e*g - f*f) - b * (b*g - c*f) + c * (b*f - c*e)) AS beta1,
       (a * (e*r - f*q) - b * (b*r - c*q) + p * (b*f - c*e))
         / (a * (e*g - f*f) - b * (b*g - c*f) + c * (b*f - c*e)) AS beta2
FROM d
"""


@query("q_ml_linreg_multi", _LINREG2_ORACLE)
def q_ml_linreg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("x2"),
        F.expr("CAST(ROUND(l_extendedprice) AS BIGINT) DIV 10").alias("y"),
    )
    m = scaled.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    a, b, c = (
        F.col("n").cast("double"),
        F.col("s1").cast("double"),
        F.col("s2").cast("double"),
    )
    e, f_, g = (
        F.col("s11").cast("double"),
        F.col("s12").cast("double"),
        F.col("s22").cast("double"),
    )
    p, q, r = (
        F.col("sy").cast("double"),
        F.col("s1y").cast("double"),
        F.col("s2y").cast("double"),
    )
    det = a * (e * g - f_ * f_) - b * (b * g - c * f_) + c * (b * f_ - c * e)
    det0 = p * (e * g - f_ * f_) - b * (q * g - f_ * r) + c * (q * f_ - e * r)
    det1 = a * (q * g - f_ * r) - p * (b * g - c * f_) + c * (b * r - c * q)
    det2 = a * (e * r - f_ * q) - b * (b * r - c * q) + p * (b * f_ - c * e)
    return m.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        (det0 / det).alias("beta0"),
        (det1 / det).alias("beta1"),
        (det2 / det).alias("beta2"),
    )


# -- X253 max-min (farthest-point) k-means seeding -------------------------
#
# The deterministic k-means++ cousin: seed 1 is the minimum id; each of
# the next k−1 seeds is the point whose distance to its NEAREST chosen
# seed is MAXIMUM (argmax with id tie-break). Each round is one
# broadcast join (points × ≤k seed rows) + one argmax aggregate — the
# iterative structure mirrors Lloyd but with k−1 bounded rounds, so the
# whole selection is a shallow declarative plan. Distances are exact
# integer L² over milli-quantized coordinates (the kmeans convention);
# the oracle unrolls the identical argmax recurrence.

_MAXMIN_DIM = 4


def _mm_round_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT p.id, p.x1, p.x2, p.x3, p.x4 FROM pts p
  JOIN (
    SELECT pp.id,
           ROW_NUMBER() OVER (
             ORDER BY MIN((pp.x1 - s.x1) * (pp.x1 - s.x1)
                        + (pp.x2 - s.x2) * (pp.x2 - s.x2)
                        + (pp.x3 - s.x3) * (pp.x3 - s.x3)
                        + (pp.x4 - s.x4) * (pp.x4 - s.x4)) DESC,
             pp.id) AS rk
    FROM pts pp CROSS JOIN (SELECT * FROM {prev}) s
    GROUP BY pp.id) r ON r.id = p.id AND r.rk = 1)"""


_MAXMIN_ORACLE = f"""
WITH pts AS (
  SELECT vec_id AS id,
         CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x1,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS x2,
         CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1000) AS BIGINT) AS x3,
         CAST(ROUND(CAST(embedding[4] AS DOUBLE) * 1000) AS BIGINT) AS x4
  FROM embeddings),
s1 AS (SELECT id, x1, x2, x3, x4 FROM pts
       WHERE id = (SELECT MIN(id) FROM pts)),
{_mm_round_sql('s1', 's2')},
{_mm_round_sql('(SELECT * FROM s1 UNION ALL SELECT * FROM s2)', 's3')},
{_mm_round_sql(
    '(SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)',
    's4')}
SELECT 1 AS seed_rank, id, x1, x2, x3, x4 FROM s1
UNION ALL SELECT 2, id, x1, x2, x3, x4 FROM s2
UNION ALL SELECT 3, id, x1, x2, x3, x4 FROM s3
UNION ALL SELECT 4, id, x1, x2, x3, x4 FROM s4
"""


@query("q_ml_maxmin_seed", _MAXMIN_ORACLE)
def q_ml_maxmin_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        *[
            F.round(F.element_at("embedding", i + 1).cast("double") * 1000)
            .cast("bigint")
            .alias(f"x{i + 1}")
            for i in range(_MAXMIN_DIM)
        ],
    ).localCheckpoint(eager=True)
    cols = [f"x{i + 1}" for i in range(_MAXMIN_DIM)]
    first = pts.orderBy("id").limit(1)
    seeds = [first]
    for _ in range(3):
        chosen = seeds[0]
        for s in seeds[1:]:
            chosen = chosen.unionByName(s)
        sd = chosen.select(
            F.col("id").alias("sid"),
            *[F.col(c).alias(f"s{c}") for c in cols],
        )
        dist = sum(
            (F.col(c) - F.col(f"s{c}")) * (F.col(c) - F.col(f"s{c}"))
            for c in cols
        )
        mind = (
            pts.crossJoin(F.broadcast(sd))
            .groupBy("id")
            .agg(F.min(dist).alias("d"))
        )
        nxt = (
            pts.join(
                mind.orderBy(F.desc("d"), F.asc("id")).limit(1).select("id"),
                "id",
            )
        )
        seeds.append(nxt.localCheckpoint(eager=True))
    out = None
    for i, s in enumerate(seeds, start=1):
        part = s.select(
            F.lit(i).alias("seed_rank"), "id", *cols
        )
        out = part if out is None else out.unionByName(part)
    return out


# -- X254 ranking-quality metrics: MRR + precision@k (log-free) ------------
#
# Recommender/search eval over grouped rankings: each order is a "query",
# its lineitems ranked by (extendedprice DESC, linenumber) in a KEYED
# window; a line is "relevant" iff returnflag = 'R'. Reciprocal rank is
# kept exact-integer (10⁶ DIV rank); MRR and precision@3 aggregate those
# integers per order priority and divide once, in the mirrored double
# tree. No logs (NDCG's discount is deliberately replaced by RR — same
# eval family, exactly reproducible).

_MRR_ORACLE = """
WITH ranked AS (
  SELECT l_orderkey,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber)
           AS rk,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS rel
  FROM lineitem),
per_q AS (
  SELECT l_orderkey,
         COALESCE(MAX(CASE WHEN rel = 1 AND rk = first_rel
                           THEN 1000000 // rk END), 0) AS rr_ppm,
         CAST(SUM(CASE WHEN rel = 1 AND rk <= 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS hits3
  FROM (
    SELECT *, MIN(CASE WHEN rel = 1 THEN rk END)
                OVER (PARTITION BY l_orderkey) AS first_rel
    FROM ranked)
  GROUP BY l_orderkey),
joined AS (
  SELECT o.o_orderpriority AS pri, p.rr_ppm, p.hits3
  FROM per_q p JOIN orders o ON o.o_orderkey = p.l_orderkey)
SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(rr_ppm) AS DOUBLE) / COUNT(*) / 1000000 AS mrr,
       CAST(SUM(hits3) AS DOUBLE) / COUNT(*) / 3 AS precision_at_3
FROM joined GROUP BY pri
"""


@query("q_ml_mrr", _MRR_ORACLE)
def q_ml_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    ranked = li.select(
        "l_orderkey",
        F.row_number().over(w).alias("rk"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("rel"),
    )
    wq = Window.partitionBy("l_orderkey")
    with_first = ranked.withColumn(
        "first_rel",
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).over(wq),
    )
    per_q = with_first.groupBy("l_orderkey").agg(
        F.coalesce(
            F.max(
                F.when(
                    (F.col("rel") == 1) & (F.col("rk") == F.col("first_rel")),
                    F.expr("1000000 DIV rk"),
                )
            ),
            F.lit(0),
        ).alias("rr_ppm"),
        F.sum(
            F.when((F.col("rel") == 1) & (F.col("rk") <= 3), 1).otherwise(0)
        ).cast("bigint").alias("hits3"),
    )
    joined = per_q.join(
        o.select("o_orderkey", F.col("o_orderpriority").alias("pri")),
        per_q["l_orderkey"] == F.col("o_orderkey"),
    )
    return joined.groupBy("pri").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        (
            F.sum("rr_ppm").cast("double") / F.count("*") / F.lit(1000000)
        ).alias("mrr"),
        (F.sum("hits3").cast("double") / F.count("*") / F.lit(3)).alias(
            "precision_at_3"
        ),
    )


# -- X257 grid-isolation anomaly scoring (deterministic iForest cousin) ----
#
# Isolation-forest intuition without RNG: a point is anomalous if it
# becomes ALONE in its cell at a coarse grid resolution. Six dyadic
# levels (cell width 2048/2^L over the ±1024 milli-unit embedding
# plane); per level one keyed (level, cell) count aggregate, then each
# point's isolation level = MIN level where its cell count is 1 (6 =
# never alone). The level explode is a 6-way literal — cost is 6 keyed
# aggregates over the points, no pairwise work anywhere; at 100 TB this
# is the partition-friendly outlier scan shape. Integer arithmetic only.

_ISO_ORACLE = """
WITH pts AS (
  SELECT vec_id AS id,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) + 1024
           AS x,
         CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1000) AS BIGINT) + 1024
           AS y
  FROM embeddings),
lv AS (SELECT UNNEST([0, 1, 2, 3, 4, 5]) AS l),
cells AS (
  SELECT p.id, lv.l,
         p.x // (2048 // CAST(POWER(2, lv.l) AS BIGINT)) AS cx,
         p.y // (2048 // CAST(POWER(2, lv.l) AS BIGINT)) AS cy
  FROM pts p CROSS JOIN lv),
counts AS (
  SELECT l, cx, cy, COUNT(*) AS n FROM cells GROUP BY l, cx, cy),
scored AS (
  SELECT c.id,
         COALESCE(MIN(CASE WHEN k.n = 1 THEN c.l END), 6) AS iso_level
  FROM cells c JOIN counts k
    ON k.l = c.l AND k.cx = c.cx AND k.cy = c.cy
  GROUP BY c.id)
SELECT CAST(iso_level AS BIGINT) AS iso_level,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(id) AS BIGINT) AS first_id
FROM scored GROUP BY iso_level
"""


@query("q_ml_grid_isolation", _ISO_ORACLE)
def q_ml_grid_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        (
            F.round(F.element_at("embedding", 2).cast("double") * 1000)
            .cast("bigint")
            + 1024
        ).alias("x"),
        (
            F.round(F.element_at("embedding", 3).cast("double") * 1000)
            .cast("bigint")
            + 1024
        ).alias("y"),
    )
    lv = pts.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in range(6)])).alias("l")
    )
    cells = pts.crossJoin(F.broadcast(lv)).select(
        "id",
        "l",
        F.expr("x DIV (2048 DIV CAST(POWER(2, l) AS BIGINT))").alias("cx"),
        F.expr("y DIV (2048 DIV CAST(POWER(2, l) AS BIGINT))").alias("cy"),
    )
    counts = cells.groupBy("l", "cx", "cy").agg(F.count("*").alias("n"))
    scored = (
        cells.join(counts, ["l", "cx", "cy"])
        .groupBy("id")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("n") == 1, F.col("l"))), F.lit(6)
            ).alias("iso_level")
        )
    )
    return scored.groupBy(
        F.col("iso_level").cast("bigint").alias("iso_level")
    ).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.min("id").cast("bigint").alias("first_id"),
    )


# -- X265 NDCG@10 (literal discount table — no runtime logs) ---------------
#
# The ranking metric that "needs" logarithms, made hash-exact: the rank
# discounts 1/log₂(i+1), i = 1..10, are PRECOMPUTED as integer ppm
# literals (the same constants in both engines — runtime libm log2
# would risk last-ulp drift). Per order: predicted ranking by price,
# ideal ranking by relevance; DCG and IDCG are integer dot products
# with the literal table; NDCG = DCG·10⁶ DIV IDCG. Keyed windows only;
# the per-priority mean divides two exact integers.

_NDCG_DISCOUNTS = [
    (1, 1000000), (2, 630929), (3, 500000), (4, 430676), (5, 386852),
    (6, 356207), (7, 333333), (8, 315464), (9, 301029), (10, 289064),
]


def _ndcg_disc_sql() -> str:
    return ", ".join(f"({i}, {d})" for i, d in _NDCG_DISCOUNTS)


_NDCG_ORACLE = f"""
WITH rel AS (
  SELECT l_orderkey,
         l_linenumber,
         CAST(ROUND(l_quantity) AS BIGINT) // 10 AS rel,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber)
           AS pred_rk,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY CAST(ROUND(l_quantity) AS BIGINT) // 10
                              DESC, l_linenumber) AS ideal_rk
  FROM lineitem),
disc AS (SELECT * FROM (VALUES {_ndcg_disc_sql()}) d(rk, w)),
per_q AS (
  SELECT l_orderkey,
         CAST(SUM(CASE WHEN dp.w IS NOT NULL THEN r.rel * dp.w
                       ELSE 0 END) AS BIGINT) AS dcg,
         CAST(SUM(CASE WHEN di.w IS NOT NULL THEN r.rel * di.w
                       ELSE 0 END) AS BIGINT) AS idcg
  FROM rel r
  LEFT JOIN disc dp ON dp.rk = r.pred_rk
  LEFT JOIN disc di ON di.rk = r.ideal_rk
  GROUP BY l_orderkey),
scored AS (
  SELECT l_orderkey, dcg * 1000000 // idcg AS ndcg_ppm
  FROM per_q WHERE idcg > 0),
joined AS (
  SELECT o.o_orderpriority AS pri, s.ndcg_ppm
  FROM scored s JOIN orders o ON o.o_orderkey = s.l_orderkey)
SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(ndcg_ppm) AS DOUBLE) / COUNT(*) / 1000000 AS mean_ndcg
FROM joined GROUP BY pri
"""


@query("q_ml_ndcg", _NDCG_ORACLE)
def q_ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rel = F.expr("CAST(ROUND(l_quantity) AS BIGINT) DIV 10")
    wp = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    wi = Window.partitionBy("l_orderkey").orderBy(
        F.desc(rel), F.asc("l_linenumber")
    )
    r = li.select(
        "l_orderkey",
        rel.alias("rel"),
        F.row_number().over(wp).alias("pred_rk"),
        F.row_number().over(wi).alias("ideal_rk"),
    )
    disc = r.sparkSession.createDataFrame(
        _NDCG_DISCOUNTS, ["rk", "w"]
    )
    dp = disc.select(F.col("rk").alias("pred_rk"), F.col("w").alias("wp"))
    di = disc.select(F.col("rk").alias("ideal_rk"), F.col("w").alias("wi"))
    per_q = (
        r.join(F.broadcast(dp), "pred_rk", "left")
        .join(F.broadcast(di), "ideal_rk", "left")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.when(
                    F.col("wp").isNotNull(), F.col("rel") * F.col("wp")
                ).otherwise(0)
            ).cast("bigint").alias("dcg"),
            F.sum(
                F.when(
                    F.col("wi").isNotNull(), F.col("rel") * F.col("wi")
                ).otherwise(0)
            ).cast("bigint").alias("idcg"),
        )
    )
    scored = per_q.filter(F.col("idcg") > 0).select(
        "l_orderkey", F.expr("dcg * 1000000 DIV idcg").alias("ndcg_ppm")
    )
    joined = scored.join(
        o.select("o_orderkey", F.col("o_orderpriority").alias("pri")),
        scored["l_orderkey"] == F.col("o_orderkey"),
    )
    return joined.groupBy("pri").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        (
            F.sum("ndcg_ppm").cast("double") / F.count("*") / F.lit(1000000)
        ).alias("mean_ndcg"),
    )


# -- X266 Kaplan-Meier survival estimator ----------------------------------
#
# Time-to-event analysis on user conversion: duration = days from a
# user's first activity to first purchase (event) or to the horizon
# (censored). The risk table (distinct durations, at-risk counts, event
# counts) is pure keyed aggregation; the survival curve is the ordered
# product Π (1 − d/n), which no declarative plan expresses — so the
# BOUNDED risk table (≤ calendar days rows) goes through the same
# applyInPandas-recurrence / recursive-CTE-oracle pairing as Holt
# (X244), in exact fixed point: s_ppm ← s_ppm·(n−d) DIV n per event
# time. Row-scale data never touches the recurrence — the sequential
# part runs on the ~30-row aggregate, which is the correct 100 TB
# split of parallel risk-set math vs sequential curve folding.

_KM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(MIN(CAST(ts AS DATE)) - DATE '2024-01-01' AS BIGINT)
           AS first_day,
         CAST(MIN(CASE WHEN event_type = 'purchase'
                       THEN CAST(ts AS DATE) END) - DATE '2024-01-01'
              AS BIGINT) AS first_purchase
  FROM events GROUP BY user_id),
durations AS (
  SELECT user_id,
         CASE WHEN first_purchase IS NOT NULL
              THEN first_purchase - first_day ELSE 29 - first_day END AS t,
         CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS d
  FROM per_user),
risk AS (
  SELECT t,
         CAST(SUM(d) AS BIGINT) AS d_events,
         CAST((SELECT COUNT(*) FROM durations du WHERE du.t >= r.t)
              AS BIGINT) AS n_at_risk
  FROM durations r GROUP BY t HAVING SUM(d) > 0),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM risk),
curve AS (
  WITH RECURSIVE k(rn, t, n_at_risk, d_events, s_ppm) AS (
    SELECT rn, t, n_at_risk, d_events,
           CAST(1000000 AS BIGINT) * (n_at_risk - d_events) // n_at_risk
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT r.rn, r.t, r.n_at_risk, r.d_events,
           k.s_ppm * (r.n_at_risk - r.d_events) // r.n_at_risk
    FROM k JOIN ranked r ON r.rn = k.rn + 1)
  SELECT * FROM k)
SELECT t, n_at_risk, d_events, CAST(s_ppm AS BIGINT) AS surv_ppm
FROM curve
"""


@query("q_ml_kaplan_meier", _KM_ORACLE)
def q_ml_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")).cast(
        "bigint"
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(
            F.when(F.col("event_type") == "purchase", day)
        ).alias("first_purchase"),
    )
    durations = per_user.select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.col("first_purchase") - F.col("first_day"),
        )
        .otherwise(F.lit(29) - F.col("first_day"))
        .alias("t"),
        F.when(F.col("first_purchase").isNotNull(), 1)
        .otherwise(0)
        .alias("d"),
    ).localCheckpoint(eager=True)
    counts = durations.groupBy("t").agg(
        F.sum("d").cast("bigint").alias("d_events"),
        F.count("*").cast("bigint").alias("ct"),
    )
    # at-risk = suffix sum of per-duration counts (keyed-free window over
    # the BOUNDED risk table only)
    w = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = (
        counts.select(
            "t",
            "d_events",
            F.sum("ct").over(w).cast("bigint").alias("n_at_risk"),
        )
        .filter(F.col("d_events") > 0)
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        s = 1000000
        out = []
        for n, d in zip(pdf["n_at_risk"], pdf["d_events"]):
            s = s * (int(n) - int(d)) // int(n)
            out.append(s)
        pdf["surv_ppm"] = pd.Series(out, dtype="int64")
        return pdf

    return (
        risk.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            fold,
            "t bigint, d_events bigint, n_at_risk bigint, g int, "
            "surv_ppm bigint",
        )
        .select("t", "n_at_risk", "d_events", "surv_ppm")
    )


# -- X267 residual-boosted stumps (2 rounds, exact integer residuals) ------
#
# Gradient boosting's skeleton in relational form: round 1 fits the best
# SSE split of price on quantity (candidate splits = the BOUNDED
# distinct-x table; prefix sums via a window over that aggregate, argmin
# deterministic with smallest-split tie-break); predictions are FLOOR
# means so residuals stay exact integers; round 2 refits on the
# residuals. Each round is one grouped aggregate + one bounded window +
# one broadcast join — the shuffle never carries more than the distinct
# feature values, which is how a 100 TB booster builds its histogram
# splits. SSE comparisons run in the mirrored IEEE double tree.

_BOOST_ORACLE = """
WITH pts AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice) AS BIGINT) // 10 AS y
  FROM lineitem),
h1 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS s
       FROM pts GROUP BY x),
p1 AS (
  SELECT x, c, s,
         SUM(c) OVER w AS cl, SUM(s) OVER w AS sl,
         SUM(c) OVER () AS ct, SUM(s) OVER () AS st
  FROM h1 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
sse1 AS (
  SELECT x AS split,
         - (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / cl)
         - (CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (ct - cl))
           AS neg_gain,
         CAST(sl AS BIGINT) // cl AS pl,
         CAST(st - sl AS BIGINT) // (ct - cl) AS pr
  FROM p1 WHERE cl < ct),
b1 AS (SELECT * FROM sse1 ORDER BY neg_gain, split LIMIT 1),
res AS (
  SELECT p.x,
         p.y - (CASE WHEN p.x <= b.split THEN b.pl ELSE b.pr END) AS r
  FROM pts p CROSS JOIN b1 b),
h2 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(r) AS BIGINT) AS s
       FROM res GROUP BY x),
p2 AS (
  SELECT x, c, s,
         SUM(c) OVER w AS cl, SUM(s) OVER w AS sl,
         SUM(c) OVER () AS ct, SUM(s) OVER () AS st
  FROM h2 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
sse2 AS (
  SELECT x AS split,
         - (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / cl)
         - (CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (ct - cl))
           AS neg_gain,
         CASE WHEN sl >= 0 THEN sl // cl
              ELSE -((-sl) // cl) END AS pl,
         CASE WHEN st - sl >= 0 THEN (st - sl) // (ct - cl)
              ELSE -((sl - st) // (ct - cl)) END AS pr
  FROM p2 WHERE cl < ct),
b2 AS (SELECT * FROM sse2 ORDER BY neg_gain, split LIMIT 1)
SELECT 1 AS round, CAST(b.split AS BIGINT) AS split_x,
       CAST(b.pl AS BIGINT) AS pred_left, CAST(b.pr AS BIGINT) AS pred_right
FROM b1 b
UNION ALL
SELECT 2, CAST(b.split AS BIGINT), CAST(b.pl AS BIGINT), CAST(b.pr AS BIGINT)
FROM b2 b
"""


@query("q_ml_boosted_stumps", _BOOST_ORACLE)
def q_ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(ROUND(l_extendedprice) AS BIGINT) DIV 10").alias("y"),
    )

    def best_split(data: DataFrame, target: str) -> DataFrame:
        h = data.groupBy("x").agg(
            F.count("*").cast("bigint").alias("c"),
            F.sum(target).cast("bigint").alias("s"),
        )
        w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        wt = Window.orderBy("x").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        p = h.select(
            "x",
            F.sum("c").over(w).alias("cl"),
            F.sum("s").over(w).alias("sl"),
            F.sum("c").over(wt).alias("ct"),
            F.sum("s").over(wt).alias("st"),
        )
        sl, cl = F.col("sl").cast("double"), F.col("cl")
        sr, cr = (F.col("st") - F.col("sl")).cast("double"), (
            F.col("ct") - F.col("cl")
        )
        # floor division that mirrors DuckDB's sign-split (residual sums
        # can be negative in round 2)
        pl = F.expr(
            "CASE WHEN sl >= 0 THEN sl DIV cl ELSE -((-sl) DIV cl) END"
        )
        pr = F.expr(
            "CASE WHEN st - sl >= 0 THEN (st - sl) DIV (ct - cl) "
            "ELSE -((sl - st) DIV (ct - cl)) END"
        )
        cand = p.filter(F.col("cl") < F.col("ct")).select(
            F.col("x").alias("split"),
            (-(sl * sl / cl) - (sr * sr / cr)).alias("neg_gain"),
            pl.cast("bigint").alias("pl"),
            pr.cast("bigint").alias("pr"),
        )
        return cand.orderBy("neg_gain", "split").limit(1)

    b1 = best_split(pts, "y")
    res = pts.crossJoin(F.broadcast(b1)).select(
        "x",
        (
            F.col("y")
            - F.when(F.col("x") <= F.col("split"), F.col("pl")).otherwise(
                F.col("pr")
            )
        ).alias("r"),
    )
    b2 = best_split(res, "r")
    out1 = b1.select(
        F.lit(1).alias("round"),
        F.col("split").cast("bigint").alias("split_x"),
        F.col("pl").cast("bigint").alias("pred_left"),
        F.col("pr").cast("bigint").alias("pred_right"),
    )
    out2 = b2.select(
        F.lit(2).alias("round"),
        F.col("split").cast("bigint").alias("split_x"),
        F.col("pl").cast("bigint").alias("pred_left"),
        F.col("pr").cast("bigint").alias("pred_right"),
    )
    return out1.unionByName(out2)


# -- X271 group-fairness metrics (selection rate / TPR parity) -------------
#
# Model-audit table: per demographic group (deterministic customer-key
# bucket), the confusion counts of a deterministic classifier plus the
# fairness rates in exact ppm — selection rate (demographic parity) and
# true-positive rate (equal opportunity) — and every group row carries
# the across-group max−min parity gaps (a 3-row broadcast self-
# aggregate). Pure integer arithmetic; one scan + one bounded agg.

_FAIRNESS_ORACLE = """
WITH scored AS (
  SELECT o_custkey % 3 AS grp,
         CASE WHEN CAST(ROUND(o_totalprice) AS BIGINT) % 2 = 0
              THEN 1 ELSE 0 END AS y,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pred
  FROM orders),
conf AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y * pred) AS BIGINT) AS tp,
         CAST(SUM((1 - y) * pred) AS BIGINT) AS fp,
         CAST(SUM(y * (1 - pred)) AS BIGINT) AS fn,
         CAST(SUM((1 - y) * (1 - pred)) AS BIGINT) AS tn
  FROM scored GROUP BY grp),
rates AS (
  SELECT grp, n, tp, fp, fn, tn,
         CAST((tp + fp) * 1000000 // n AS BIGINT) AS sel_ppm,
         CAST(CASE WHEN tp + fn > 0
                   THEN tp * 1000000 // (tp + fn) ELSE 0 END
              AS BIGINT) AS tpr_ppm
  FROM conf),
gaps AS (
  SELECT CAST(MAX(sel_ppm) - MIN(sel_ppm) AS BIGINT) AS parity_gap_ppm,
         CAST(MAX(tpr_ppm) - MIN(tpr_ppm) AS BIGINT) AS tpr_gap_ppm
  FROM rates)
SELECT CAST(r.grp AS BIGINT) AS grp, r.n, r.tp, r.fp, r.fn, r.tn,
       r.sel_ppm, r.tpr_ppm, g.parity_gap_ppm, g.tpr_gap_ppm
FROM rates r CROSS JOIN gaps g
"""


@query("q_ml_fairness", _FAIRNESS_ORACLE)
def q_ml_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        (F.col("o_custkey") % 3).alias("grp"),
        F.when(
            F.expr("CAST(ROUND(o_totalprice) AS BIGINT) % 2") == 0, 1
        ).otherwise(0).alias("y"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("pred"),
    )
    conf = scored.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("y") * F.col("pred")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("pred")).cast("bigint").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("pred"))).cast("bigint").alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("pred")))
        .cast("bigint")
        .alias("tn"),
    )
    rates = conf.select(
        "*",
        F.expr("CAST((tp + fp) * 1000000 DIV n AS BIGINT)").alias("sel_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 DIV (tp + fn) "
            "ELSE 0 END AS BIGINT)"
        ).alias("tpr_ppm"),
    )
    gaps = rates.agg(
        (F.max("sel_ppm") - F.min("sel_ppm"))
        .cast("bigint")
        .alias("parity_gap_ppm"),
        (F.max("tpr_ppm") - F.min("tpr_ppm"))
        .cast("bigint")
        .alias("tpr_gap_ppm"),
    )
    return rates.crossJoin(F.broadcast(gaps)).select(
        F.col("grp").cast("bigint").alias("grp"),
        "n", "tp", "fp", "fn", "tn",
        "sel_ppm", "tpr_ppm", "parity_gap_ppm", "tpr_gap_ppm",
    )


# -- X276 quantile-regression evaluation (pinball loss, τ = 0.9) -----------
#
# The loss that scores quantile forecasts: pinball(y, q) =
# max(τ(y−q), (τ−1)(y−q)). With τ = 9/10 and integer cents the
# 10×-scaled loss is exactly integer: 9·(y−q) when y > q else (q−y).
# The predictor under test is the exact per-group discrete 0.9-quantile
# (deterministic percentile_disc twin); one grouped quantile + one
# broadcast join + one integer aggregate.

_PINBALL_ORACLE = """
WITH pts AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice) AS BIGINT) AS y
  FROM orders),
ranked AS (
  SELECT grp, y,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY y) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM pts),
q AS (
  SELECT grp, MIN(y) AS q90
  FROM ranked
  WHERE rn = CAST(CEIL(0.9 * n) AS BIGINT)
  GROUP BY grp),
loss AS (
  SELECT p.grp, q.q90,
         CASE WHEN p.y > q.q90 THEN 9 * (p.y - q.q90)
              ELSE q.q90 - p.y END AS pb10
  FROM pts p JOIN q ON q.grp = p.grp)
SELECT grp, CAST(MIN(q90) AS BIGINT) AS q90,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pb10) AS BIGINT) AS pinball_x10_sum
FROM loss GROUP BY grp
"""


@query("q_ml_pinball", _PINBALL_ORACLE)
def q_ml_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round("o_totalprice").cast("bigint").alias("y"),
    )
    w = Window.partitionBy("grp").orderBy("y")
    wt = Window.partitionBy("grp")
    ranked = pts.select(
        "grp",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    q = (
        ranked.filter(
            F.col("rn") == F.ceil(F.lit(0.9) * F.col("n")).cast("bigint")
        )
        .groupBy(F.col("grp").alias("qgrp"))
        .agg(F.min("y").alias("q90"))
    )
    loss = pts.join(F.broadcast(q), pts["grp"] == F.col("qgrp")).select(
        "grp",
        "q90",
        F.when(
            F.col("y") > F.col("q90"), 9 * (F.col("y") - F.col("q90"))
        ).otherwise(F.col("q90") - F.col("y")).alias("pb10"),
    )
    return loss.groupBy("grp").agg(
        F.min("q90").cast("bigint").alias("q90"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("pb10").cast("bigint").alias("pinball_x10_sum"),
    )


# -- X279 classification-threshold tuning (best F1 over a sweep) -----------
#
# Operating-point selection: sweep ten candidate score thresholds (a
# broadcast literal table), compute each threshold's confusion counts in
# ONE conditional aggregation pass (no per-threshold scan — the
# threshold explode rides the same shuffle), then pick the argmax-F1
# row. F1 compares as exact ppm (2·tp·10⁶ DIV (2·tp+fp+fn)); ties pin
# to the smaller threshold. Score and label derive deterministically
# from order columns.

_BEST_F1_ORACLE = """
WITH scored AS (
  SELECT CAST(ROUND(o_totalprice) AS BIGINT) % 1000 AS score,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders),
th AS (SELECT UNNEST([100, 200, 300, 400, 500, 600, 700, 800, 900, 950])
         AS t),
conf AS (
  SELECT th.t,
         CAST(SUM(CASE WHEN s.score >= th.t AND s.y = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s.score >= th.t AND s.y = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN s.score < th.t AND s.y = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM scored s CROSS JOIN th GROUP BY th.t),
f1 AS (
  SELECT t, tp, fp, fn,
         CAST(CASE WHEN 2 * tp + fp + fn > 0
                   THEN 2 * tp * 1000000 // (2 * tp + fp + fn)
                   ELSE 0 END AS BIGINT) AS f1_ppm
  FROM conf),
best AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY f1_ppm DESC, t) AS rk FROM f1)
SELECT CAST(t AS BIGINT) AS best_threshold, tp, fp, fn, f1_ppm
FROM best WHERE rk = 1
"""


@query("q_ml_best_f1", _BEST_F1_ORACLE)
def q_ml_best_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        (F.expr("CAST(ROUND(o_totalprice) AS BIGINT)") % 1000).alias(
            "score"
        ),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    th = scored.sparkSession.range(1).select(
        F.explode(
            F.array(
                *[
                    F.lit(v)
                    for v in (100, 200, 300, 400, 500, 600, 700, 800, 900, 950)
                ]
            )
        ).alias("t")
    )
    conf = (
        scored.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).cast("bigint").alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("t")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).cast("bigint").alias("fp"),
            F.sum(
                F.when((F.col("score") < F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).cast("bigint").alias("fn"),
        )
    )
    f1 = conf.select(
        "*",
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn > 0 "
            "THEN 2 * tp * 1000000 DIV (2 * tp + fp + fn) "
            "ELSE 0 END AS BIGINT)"
        ).alias("f1_ppm"),
    )
    return (
        f1.orderBy(F.desc("f1_ppm"), F.asc("t"))
        .limit(1)
        .select(
            F.col("t").cast("bigint").alias("best_threshold"),
            "tp", "fp", "fn", "f1_ppm",
        )
    )


# -- X283 Cohen's kappa inter-rater agreement ------------------------------
#
# Agreement between two binary "raters" corrected for chance: rater A is
# the spend-score rule (score >= 500k cents, as in q_ml_confusion) and
# rater B a frequency rule (>= 25 events). kappa = (po - pe) / (1 - pe)
# with po = agreement rate and pe the marginal-product chance rate. The
# whole statistic reduces to one keyed per-user aggregate plus one global
# fold; the division is done in exact integer cross-multiplication then
# floored to ppm, so both engines land on the identical BIGINT
# (N <= ~1e5 users per shard keeps every product far below 2^53).

_KAPPA_ORACLE = f"""
WITH rated AS (
  SELECT user_id,
         CASE WHEN SUM(CAST(ROUND(value * 100) AS BIGINT))
                   >= {_CONFUSION_THRESHOLD} THEN 1 ELSE 0 END AS ra,
         CASE WHEN COUNT(*) >= 25 THEN 1 ELSE 0 END AS rb
  FROM events GROUP BY user_id),
folds AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
         CAST(SUM(ra) AS BIGINT) AS a1,
         CAST(SUM(rb) AS BIGINT) AS b1
  FROM rated)
SELECT n, agree, a1, b1,
       CAST(FLOOR(agree * 1000000.0 / n) AS BIGINT) AS po_ppm,
       CAST(FLOOR((a1 * b1 + (n - a1) * (n - b1)) * 1000000.0 / (n * n))
            AS BIGINT) AS pe_ppm,
       CAST(FLOOR((agree * n - (a1 * b1 + (n - a1) * (n - b1)))
                  * 1000000.0
                  / (n * n - (a1 * b1 + (n - a1) * (n - b1))))
            AS BIGINT) AS kappa_ppm
FROM folds
"""


@query("q_ml_cohens_kappa", _KAPPA_ORACLE)
def q_ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    rated = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            >= _CONFUSION_THRESHOLD,
            1,
        )
        .otherwise(0)
        .alias("ra"),
        F.when(F.count("*") >= 25, 1).otherwise(0).alias("rb"),
    )
    folds = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("agree"),
        F.sum("ra").cast("bigint").alias("a1"),
        F.sum("rb").cast("bigint").alias("b1"),
    )
    n, agree, a1, b1 = (F.col(c) for c in ("n", "agree", "a1", "b1"))
    pe_num = a1 * b1 + (n - a1) * (n - b1)
    return folds.select(
        "n",
        "agree",
        "a1",
        "b1",
        F.floor(agree * 1000000.0 / n).cast("bigint").alias("po_ppm"),
        F.floor(pe_num * 1000000.0 / (n * n)).cast("bigint").alias("pe_ppm"),
        F.floor((agree * n - pe_num) * 1000000.0 / (n * n - pe_num))
        .cast("bigint")
        .alias("kappa_ppm"),
    )


# -- X284 distribution-drift audit (total variation distance) --------------
#
# The ML-monitoring staple, in its log-free form: compare the per-type
# distribution of event values between two periods (even vs odd day of
# month) over 10 fixed value bands. PSI's log-ratio term would hinge on
# cross-engine libm bit-equality, so the drift score is the total
# variation distance instead — TVD = 1/2 * sum |p - q| — computed by
# integer cross-multiplication: |c1*T2 - c2*T1| summed, then floored to
# ppm against 2*T1*T2. One (type, bin, period) count plus one keyed
# rollup per type; counts are <= 1e5 at sf0.01 and the cross products
# stay below 2^53 at any per-shard scale the bench runs.

_DRIFT_ORACLE = """
WITH binned AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin,
         DAY(ts) % 2 AS period,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2, 3),
wide AS (
  SELECT event_type, bin,
         SUM(CASE WHEN period = 0 THEN cnt ELSE 0 END) AS c1,
         SUM(CASE WHEN period = 1 THEN cnt ELSE 0 END) AS c2
  FROM binned GROUP BY 1, 2),
tots AS (
  SELECT event_type, SUM(c1) AS t1, SUM(c2) AS t2 FROM wide GROUP BY 1),
scored AS (
  SELECT w.event_type,
         CAST(SUM(ABS(w.c1 * t.t2 - w.c2 * t.t1)) AS BIGINT) AS raw,
         MAX(t.t1) AS t1, MAX(t.t2) AS t2,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM wide w JOIN tots t ON t.event_type = w.event_type
  GROUP BY w.event_type)
SELECT event_type,
       CAST(t1 AS BIGINT) AS n_period0,
       CAST(t2 AS BIGINT) AS n_period1,
       n_bins,
       CAST(FLOOR(raw * 1000000.0 / (2.0 * t1 * t2)) AS BIGINT)
         AS tvd_ppm
FROM scored ORDER BY event_type
"""


@query("q_ml_drift_tvd", _DRIFT_ORACLE)
def q_ml_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    binned = e.groupBy(
        "event_type",
        F.least(
            F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)
        ).alias("bin"),
        (F.dayofmonth("ts") % 2).alias("period"),
    ).agg(F.count("*").alias("cnt"))
    wide = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("period") == 0, F.col("cnt")).otherwise(0)).alias(
            "c1"
        ),
        F.sum(F.when(F.col("period") == 1, F.col("cnt")).otherwise(0)).alias(
            "c2"
        ),
    )
    tots = wide.groupBy("event_type").agg(
        F.sum("c1").alias("t1"), F.sum("c2").alias("t2")
    )
    scored = (
        wide.join(F.broadcast(tots), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1"))
            )
            .cast("bigint")
            .alias("raw"),
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.count("*").cast("bigint").alias("n_bins"),
        )
    )
    return scored.select(
        "event_type",
        F.col("t1").cast("bigint").alias("n_period0"),
        F.col("t2").cast("bigint").alias("n_period1"),
        "n_bins",
        F.floor(F.col("raw") * 1000000.0 / (2.0 * F.col("t1") * F.col("t2")))
        .cast("bigint")
        .alias("tvd_ppm"),
    )


# -- X288 isotonic calibration (PAVA by minimax closed form) ---------------
#
# Isotonic regression of the purchase rate on 10 fixed spend bands —
# fitted via the MINIMAX identity f(i) = max_{j<=i} min_{k>=i}
# mean(y[j..k]), which turns the sequential pool-adjacent-violators loop
# into three set-oriented steps: prefix sums over the 10-row bin
# aggregate, an interval self-join (55 rows), and a grouped minimax.
# Interval means are ppm-floored BIGINTs before the minimax; floor is
# monotone, so both engines take max/min over identical integers. The
# windows/self-joins run on the 10-row aggregate (bounded by the band
# count, not the data), so the plan is one keyed shuffle + driver-scale
# algebra at any corpus size.

_ISO_ORACLE = """
WITH scored AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS score,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 12 THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id),
bins AS (
  SELECT LEAST(CAST(FLOOR(score / 100000.0) AS BIGINT), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sum_y
  FROM scored GROUP BY 1),
pref AS (
  SELECT bin, n, sum_y,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS pn,
         CAST(SUM(sum_y) OVER (ORDER BY bin) AS BIGINT) AS py
  FROM bins),
intervals AS (
  SELECT lo.bin AS j, hi.bin AS k,
         CAST(FLOOR((hi.py - lo.py + lo.sum_y) * 1000000.0
                    / (hi.pn - lo.pn + lo.n)) AS BIGINT) AS avg_ppm
  FROM pref lo JOIN pref hi ON lo.bin <= hi.bin),
inner_min AS (
  SELECT b.bin, iv.j, MIN(iv.avg_ppm) AS m
  FROM bins b JOIN intervals iv ON iv.j <= b.bin AND iv.k >= b.bin
  GROUP BY b.bin, iv.j)
SELECT b.bin, b.n, b.sum_y,
       CAST(FLOOR(b.sum_y * 1000000.0 / b.n) AS BIGINT) AS raw_ppm,
       CAST(MAX(im.m) AS BIGINT) AS fitted_ppm
FROM bins b JOIN inner_min im ON im.bin = b.bin
GROUP BY b.bin, b.n, b.sum_y ORDER BY b.bin
"""


@query("q_ml_isotonic_pava", _ISO_ORACLE)
def q_ml_isotonic_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    scored = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 12,
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    bins = scored.groupBy(
        F.least(
            F.floor(F.col("score") / 100000.0).cast("bigint"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    # Bounded-input window: <= 10 rows (one per spend band) by construction.
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        "bin",
        "n",
        "sum_y",
        F.sum("n").over(w).cast("bigint").alias("pn"),
        F.sum("sum_y").over(w).cast("bigint").alias("py"),
    )
    lo = pref.select(
        F.col("bin").alias("j"),
        F.col("n").alias("n_lo"),
        F.col("sum_y").alias("sy_lo"),
        F.col("pn").alias("pn_lo"),
        F.col("py").alias("py_lo"),
    )
    hi = pref.select(
        F.col("bin").alias("k"),
        F.col("pn").alias("pn_hi"),
        F.col("py").alias("py_hi"),
    )
    intervals = (
        lo.join(hi, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            F.floor(
                (F.col("py_hi") - F.col("py_lo") + F.col("sy_lo"))
                * 1000000.0
                / (F.col("pn_hi") - F.col("pn_lo") + F.col("n_lo"))
            )
            .cast("bigint")
            .alias("avg_ppm"),
        )
    )
    inner_min = (
        bins.select("bin")
        .join(
            intervals,
            (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")),
        )
        .groupBy("bin", "j")
        .agg(F.min("avg_ppm").alias("m"))
    )
    return (
        bins.join(inner_min, "bin")
        .groupBy("bin", "n", "sum_y")
        .agg(F.max("m").cast("bigint").alias("fitted_ppm"))
        .select(
            "bin",
            "n",
            "sum_y",
            F.floor(F.col("sum_y") * 1000000.0 / F.col("n"))
            .cast("bigint")
            .alias("raw_ppm"),
            "fitted_ppm",
        )
    )


# -- X289 stratified average treatment effect ------------------------------
#
# The causal-inference workhorse: ATE of market segment BUILDING on
# customer spend, stratified by nation to remove nation-level
# confounding. Per-stratum arm means use the davg double-division
# pattern (exact-DECIMAL sums, IEEE-deterministic division); the
# stratum term floor((m1 - m0) * n_s) is a BIGINT, so the cross-stratum
# sum is exact and order-free — no floating accumulation ever crosses a
# partition boundary. Strata missing either arm drop out (standard
# overlap requirement), and the counts report how much support remains.

_ATE_ORACLE = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey),
units AS (
  SELECT c.c_custkey, c.c_nationkey,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
         COALESCE(s.cents, 0) AS y
  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
strata AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(t) AS BIGINT) AS c1,
         CAST(SUM(1 - t) AS BIGINT) AS c0,
         CAST(SUM(CAST(CASE WHEN t = 1 THEN y ELSE 0 END
                  AS DECIMAL(38,6))) AS DOUBLE) AS sy1,
         CAST(SUM(CAST(CASE WHEN t = 0 THEN y ELSE 0 END
                  AS DECIMAL(38,6))) AS DOUBLE) AS sy0
  FROM units GROUP BY c_nationkey),
terms AS (
  SELECT n_s,
         CAST(FLOOR((sy1 / c1 - sy0 / c0) * n_s) AS BIGINT) AS term
  FROM strata WHERE c1 > 0 AND c0 > 0)
SELECT CAST((SELECT SUM(n_s) FROM strata) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_strata_used,
       CAST(SUM(n_s) AS BIGINT) AS n_supported,
       CAST(SUM(term) AS BIGINT) AS sum_term,
       CAST(FLOOR(CAST(SUM(term) AS DOUBLE) / SUM(n_s)) AS BIGINT)
         AS ate_cents
FROM terms
"""


@query("q_ml_stratified_ate", _ATE_ORACLE)
def q_ml_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    units = c.join(
        spend, c["c_custkey"] == spend["o_custkey"], "left"
    ).select(
        "c_nationkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("t"),
        F.coalesce("cents", F.lit(0)).alias("y"),
    )
    strata = units.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("t").cast("bigint").alias("c1"),
        F.sum(1 - F.col("t")).cast("bigint").alias("c0"),
        dsum(F.when(F.col("t") == 1, F.col("y")).otherwise(0), "sy1"),
        dsum(F.when(F.col("t") == 0, F.col("y")).otherwise(0), "sy0"),
    )
    n_total = strata.agg(F.sum("n_s").cast("bigint").alias("n_total"))
    terms = strata.filter((F.col("c1") > 0) & (F.col("c0") > 0)).select(
        "n_s",
        F.floor(
            (F.col("sy1") / F.col("c1") - F.col("sy0") / F.col("c0"))
            * F.col("n_s")
        )
        .cast("bigint")
        .alias("term"),
    )
    folded = terms.agg(
        F.count("*").cast("bigint").alias("n_strata_used"),
        F.sum("n_s").cast("bigint").alias("n_supported"),
        F.sum("term").cast("bigint").alias("sum_term"),
    )
    return folded.crossJoin(F.broadcast(n_total)).select(
        "n_total",
        "n_strata_used",
        "n_supported",
        "sum_term",
        F.floor(F.col("sum_term").cast("double") / F.col("n_supported"))
        .cast("bigint")
        .alias("ate_cents"),
    )


# -- X309 embedding-table quality audit ------------------------------------
#
# The health check run before anyone trains on an embedding table:
# per-dimension moments (mean via exact integer sums), value range, dead
# entries (exact zeros), and the anisotropy census — for each vector,
# which dimension carries its largest |value| (first dim on ties), then
# how many vectors each dimension dominates. A heavily dominated
# dimension is the classic rogue-feature smell. Values enter fixed point
# once (micro-units, the embed_quantize convention) and everything after
# is integer: one posexplode + one keyed aggregate for the per-dim
# stats, one array-lambda argmax + keyed count for dominance — JVM-side
# throughout, shuffles keyed by the 64 dims.

_EMB_AUDIT_ORACLE = """
WITH vals AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS m
  FROM embeddings, range(1, 65) t(i)),
dims AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(m) AS BIGINT) AS sum_micro,
         CAST(MIN(m) AS BIGINT) AS min_micro,
         CAST(MAX(m) AS BIGINT) AS max_micro,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM vals GROUP BY dim),
dom AS (
  SELECT list_position(am, list_max(am)) - 1 AS dim,
         COUNT(*) AS n_dominant
  FROM (SELECT list_transform(embedding,
          x -> abs(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
          AS am
        FROM embeddings)
  GROUP BY 1)
SELECT d.dim, d.n, d.sum_micro, d.min_micro, d.max_micro, d.n_zero,
       CAST(COALESCE(dom.n_dominant, 0) AS BIGINT) AS n_dominant
FROM dims d LEFT JOIN dom ON dom.dim = d.dim
ORDER BY d.dim
"""


@query("q_ml_embedding_audit", _EMB_AUDIT_ORACLE)
def q_ml_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    micro = F.round(F.col("x").cast("double") * 1000000).cast("bigint")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "dim", micro.alias("m"))
    dims = vals.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("sum_micro"),
        F.min("m").cast("bigint").alias("min_micro"),
        F.max("m").cast("bigint").alias("max_micro"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    am = F.transform(
        F.col("embedding"),
        lambda x: F.abs(F.round(x.cast("double") * 1000000).cast("bigint")),
    )
    dom = (
        emb.select(am.alias("am"))
        .select(
            (F.array_position(F.col("am"), F.array_max("am")) - 1).alias(
                "dim"
            )
        )
        .groupBy("dim")
        .agg(F.count("*").alias("n_dominant"))
    )
    return (
        dims.join(dom, "dim", "left")
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "n",
            "sum_micro",
            "min_micro",
            "max_micro",
            "n_zero",
            F.coalesce("n_dominant", F.lit(0))
            .cast("bigint")
            .alias("n_dominant"),
        )
        .orderBy("dim")
    )


# -- X310 split-conformal prediction intervals -----------------------------
#
# Distribution-free uncertainty: deterministically split orders into
# train/calibration/test thirds by key; fit the trivial per-priority
# mean-price model on train; on calibration, take the k-th smallest
# absolute residual with k = ceil((n_cal + 1) * 0.9) — the finite-sample
# 90% conformal quantile — and measure the guaranteed coverage on test.
# Everything is integer cents; the order statistic comes from a keyed
# rank window (per-priority partitions, never a global sort), and the
# model join broadcasts 5 rows. Conformal theory says empirical coverage
# lands near 90% — the pytest asserts the finite-sample lower bound.

_CONFORMAL_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey % 3 AS fold
  FROM orders),
model AS (
  SELECT pri, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred,
         CAST(COUNT(*) AS BIGINT) AS n_train
  FROM base WHERE fold = 0 GROUP BY pri),
calib AS (
  SELECT b.pri, ABS(b.cents - m.pred) AS r
  FROM base b JOIN model m ON b.pri = m.pri WHERE b.fold = 1),
ranked AS (
  SELECT pri, r,
         ROW_NUMBER() OVER (PARTITION BY pri ORDER BY r, r) AS rn,
         COUNT(*) OVER (PARTITION BY pri) AS n_cal
  FROM calib),
qhat AS (
  SELECT pri, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
         CAST(CEIL((MAX(n_cal) + 1) * 0.9) AS BIGINT) AS kth,
         CAST(MAX(CASE WHEN rn = CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT)
                       THEN r END) AS BIGINT) AS q_hat
  FROM ranked GROUP BY pri),
test AS (
  SELECT b.pri, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN ABS(b.cents - m.pred) <= q.q_hat
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM base b JOIN model m ON b.pri = m.pri JOIN qhat q ON b.pri = q.pri
  WHERE b.fold = 2 GROUP BY b.pri)
SELECT m.pri, m.n_train, q.n_cal, q.kth, q.q_hat, t.n_test, t.n_covered,
       CAST((1000000 * t.n_covered) // t.n_test AS BIGINT) AS coverage_ppm
FROM model m JOIN qhat q ON m.pri = q.pri JOIN test t ON m.pri = t.pri
ORDER BY m.pri
"""


@query("q_ml_conformal_interval", _CONFORMAL_ORACLE)
def q_ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderkey") % 3).alias("fold"),
    )
    model = (
        base.filter(F.col("fold") == 0)
        .groupBy("pri")
        .agg(
            F.expr("sum(cents) DIV count(*)").cast("bigint").alias("pred"),
            F.count("*").cast("bigint").alias("n_train"),
        )
    )
    bm = base.join(F.broadcast(model), "pri")
    calib = bm.filter(F.col("fold") == 1).select(
        "pri", F.abs(F.col("cents") - F.col("pred")).alias("r")
    )
    w = Window.partitionBy("pri").orderBy("r")
    wc = Window.partitionBy("pri")
    ranked = calib.select(
        "pri",
        "r",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_cal"),
    )
    kth = F.ceil((F.col("n_cal") + 1) * 0.9).cast("bigint")
    qhat = (
        ranked.filter(F.col("rn") == kth)
        .groupBy("pri")
        .agg(
            F.max("n_cal").cast("bigint").alias("n_cal"),
            F.max(kth).cast("bigint").alias("kth"),
            F.max("r").cast("bigint").alias("q_hat"),
        )
    )
    test = (
        bm.filter(F.col("fold") == 2)
        .join(F.broadcast(qhat), "pri")
        .groupBy("pri")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("pred")) <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        model.join(qhat, "pri")
        .join(test, "pri")
        .select(
            "pri",
            "n_train",
            "n_cal",
            "kth",
            "q_hat",
            "n_test",
            "n_covered",
            F.expr("(1000000 * n_covered) DIV n_test")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
        .orderBy("pri")
    )


# -- X322: Welch's unequal-variance t-test ---------------------------------
# Two-sample t on event value, purchase vs non-purchase, with the
# Welch–Satterthwaite df. Cents-scaled BIGINT sums make every aggregate
# exact; t and df are one mirrored double expression over those integers
# (means/variances derived identically in both engines), so the driver
# hash-checks effect size, t, AND df — not a p-value (no erf in either
# engine's portable subset).

_WELCH_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events),
agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS s1, CAST(SUM(vc * vc) AS BIGINT) AS s2
  FROM s GROUP BY grp),
w AS (
  SELECT
    MAX(CASE WHEN grp = 1 THEN n END) AS n1,
    MAX(CASE WHEN grp = 0 THEN n END) AS n2,
    MAX(CASE WHEN grp = 1 THEN CAST(s1 AS DOUBLE) / n END) AS m1,
    MAX(CASE WHEN grp = 0 THEN CAST(s1 AS DOUBLE) / n END) AS m2,
    MAX(CASE WHEN grp = 1 THEN
      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n))
      / (n - 1) / n END) AS se1,
    MAX(CASE WHEN grp = 0 THEN
      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n))
      / (n - 1) / n END) AS se2
  FROM agg)
SELECT n1, n2, m1 - m2 AS mean_diff_cents,
       (m1 - m2) / SQRT(se1 + se2) AS t_stat,
       (se1 + se2) * (se1 + se2)
         / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)) AS df_welch
FROM w
"""


@query("q_ml_welch_ttest", _WELCH_ORACLE)
def q_ml_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    agg = s.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).cast("bigint").alias("s2"),
    )

    def pick(g, expr):
        return F.max(F.when(F.col("grp") == g, expr))

    sem = (
        (F.col("s2").cast("double")
         - F.col("s1").cast("double")
         * (F.col("s1").cast("double") / F.col("n")))
        / (F.col("n") - 1) / F.col("n")
    )
    w = agg.agg(
        pick(1, F.col("n")).alias("n1"),
        pick(0, F.col("n")).alias("n2"),
        pick(1, F.col("s1").cast("double") / F.col("n")).alias("m1"),
        pick(0, F.col("s1").cast("double") / F.col("n")).alias("m2"),
        pick(1, sem).alias("se1"),
        pick(0, sem).alias("se2"),
    )
    return w.select(
        "n1",
        "n2",
        (F.col("m1") - F.col("m2")).alias("mean_diff_cents"),
        (
            (F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("se1") + F.col("se2"))
        ).alias("t_stat"),
        (
            (F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2"))
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            )
        ).alias("df_welch"),
    )


# -- X323: Mann–Whitney U (rank-sum) with exact tie midranks ---------------
# Nonparametric two-sample test on l_quantity (returned vs kept rows).
# The quantity DOMAIN is bounded (integral 1..50 at any SF), so midranks
# come from a window over the ≤50-row per-value aggregate — never a
# fact-scale sort. Doubled midranks (2·rank) keep everything in exact
# BIGINT space: U₁ₓ₂ + U₂ₓ₂ = 2·n₁·n₂ is asserted by construction.

_MWU_ORACLE = """
WITH v AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
  FROM lineitem),
cnt AS (
  SELECT q, COUNT(*) AS c,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
  FROM v GROUP BY q),
mid AS (
  SELECT q, c, c1,
         2 * (COALESCE(SUM(c) OVER (ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) + c + 1
           AS mr2
  FROM cnt),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c - c1) AS BIGINT) AS n2,
         CAST(SUM(c1 * mr2) AS BIGINT) AS r1x2
  FROM mid)
SELECT n1, n2,
       r1x2 - n1 * (n1 + 1) AS u1_x2,
       2 * n1 * n2 - (r1x2 - n1 * (n1 + 1)) AS u2_x2
FROM tot
"""


@query("q_ml_mann_whitney", _MWU_ORACLE)
def q_ml_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
    )
    cnt = v.groupBy("q").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("grp").alias("c1"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    mid = cnt.withColumn(
        "mr2",
        2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1,
    )
    tot = mid.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("mr2")).cast("bigint").alias("r1x2"),
    )
    u1 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    return tot.select(
        "n1",
        "n2",
        u1.alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1).alias("u2_x2"),
    )


# -- X324: Cramér's V effect size ------------------------------------------
# Association strength for the l_returnflag × l_linestatus contingency
# table: χ² from exact integer cell counts, V = sqrt(χ²/(n·min(r,c)−n)).
# One groupBy over the fact table; everything after runs on the ≤6-row
# aggregate. SQRT is IEEE-correctly-rounded in both engines.

_CRAMERS_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
  FROM lineitem GROUP BY rf, ls),
m AS (
  SELECT rf, ls, CAST(o AS BIGINT) AS o,
         CAST(SUM(o) OVER (PARTITION BY rf) AS BIGINT) AS rt,
         CAST(SUM(o) OVER (PARTITION BY ls) AS BIGINT) AS ct,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM cells),
chi AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(DISTINCT rf) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT ls) AS BIGINT) AS c,
         CAST(SUM(CAST(
           (CAST(o AS DOUBLE)
            - CAST(rt AS DOUBLE) * ct / n)
           * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
           / (CAST(rt AS DOUBLE) * ct / n) AS DECIMAL(38,12)))
           AS DOUBLE) AS chi2
  FROM m)
SELECT n, r, c, chi2,
       SQRT(chi2 / (CAST(n AS DOUBLE)
                    * (CASE WHEN r < c THEN r ELSE c END - 1))) AS cramers_v
FROM chi
"""


@query("q_ml_cramers_v", _CRAMERS_ORACLE)
def q_ml_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).alias("o"))
    m = cells.select(
        "rf",
        "ls",
        F.col("o").cast("bigint").alias("o"),
        F.sum("o").over(Window.partitionBy("rf")).cast("bigint").alias("rt"),
        F.sum("o").over(Window.partitionBy("ls")).cast("bigint").alias("ct"),
        F.sum("o").over(
            Window.partitionBy()
        ).cast("bigint").alias("n"),
    )
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    chi = m.agg(
        F.max("n").alias("n"),
        F.countDistinct("rf").cast("bigint").alias("r"),
        F.countDistinct("ls").cast("bigint").alias("c"),
        # per-cell terms are identical doubles in both engines; the SUM
        # goes through exact decimal space so accumulation order (and
        # therefore partitioning) can't leak into the last ulp
        F.sum(
            (
                (F.col("o").cast("double") - exp)
                * (F.col("o").cast("double") - exp)
                / exp
            ).cast("decimal(38,12)")
        ).cast("double").alias("chi2"),
    )
    return chi.select(
        "n",
        "r",
        "c",
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n").cast("double")
                * (F.least("r", "c") - 1)
            )
        ).alias("cramers_v"),
    )


# -- X325: Kendall's tau-b (concordance) per nation ------------------------
# Monthly order totals per nation → all month pairs (bounded: ≤ ~25
# months, self-join within each ≤25-row group) → concordant/discordant/
# tied counts and the tau-b numerator with both tie-corrected
# denominator factors as exact BIGINTs (the same no-sqrt convention as
# q_agg_spearman: the driver hashes integers, consumers do one sqrt).

_KENDALL_ORACLE = """
WITH pts AS (
  SELECT c.c_nationkey AS nation,
         CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS m,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY nation, m),
pairs AS (
  SELECT a.nation,
         CASE WHEN (a.m < b.m AND a.y < b.y) OR (a.m > b.m AND a.y > b.y)
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.m < b.m AND a.y > b.y) OR (a.m > b.m AND a.y < b.y)
              THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tie_y
  FROM pts a JOIN pts b
    ON a.nation = b.nation AND a.m < b.m)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n0,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       CAST(SUM(conc) - SUM(disc) AS BIGINT) AS tau_num,
       CAST(COUNT(*) AS BIGINT) AS d1,
       CAST(COUNT(*) - SUM(tie_y) AS BIGINT) AS d2
FROM pairs GROUP BY nation
"""


@query("q_ml_kendall_tau", _KENDALL_ORACLE)
def q_ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("bigint").alias("y")
        )
    )
    a = pts.alias("a")
    b = pts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation"))
        & (F.col("a.m") < F.col("b.m")),
    ).select(
        F.col("a.nation").alias("nation"),
        F.when(
            (F.col("a.y") < F.col("b.y")), 1
        ).otherwise(0).alias("conc"),
        F.when(
            (F.col("a.y") > F.col("b.y")), 1
        ).otherwise(0).alias("disc"),
        F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0).alias("tie_y"),
    )
    return pairs.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("conc").cast("bigint").alias("concordant"),
        F.sum("disc").cast("bigint").alias("discordant"),
        (F.sum("conc") - F.sum("disc")).cast("bigint").alias("tau_num"),
        F.count(F.lit(1)).cast("bigint").alias("d1"),
        (F.count(F.lit(1)) - F.sum("tie_y")).cast("bigint").alias("d2"),
    )


# -- X326: Benjamini–Hochberg FDR over empirical p-values ------------------
# Multiple-testing control with NO transcendental functions: each
# nation's deviation from the grand mean account balance gets an
# EMPIRICAL p-value (share of nations at least as deviant — an exact
# m-denominator rational), then the BH step-up runs entirely in integer
# cross-multiplied space: reject p_(i) ≤ i·q/m  ⇔  c_i·10 ≤ i at
# q = 0.1 with p_i = c_i/m. All windows sit on the 25-row nation agg.

_BH_ORACLE = """
WITH nat AS (
  SELECT c_nationkey AS nation,
         CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY nation),
g AS (SELECT CAST(SUM(s) AS BIGINT) AS gs, CAST(SUM(n) AS BIGINT) AS gn
      FROM nat),
dev AS (
  SELECT nation,
         ABS(CAST(s AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn) AS d
  FROM nat, g),
p AS (
  SELECT nation, d,
         CAST((SELECT COUNT(*) FROM dev o WHERE o.d >= dev.d) AS BIGINT)
           AS c_ge,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM dev) AS m
  FROM dev),
ranked AS (
  SELECT nation, d, c_ge, m,
         ROW_NUMBER() OVER (ORDER BY c_ge, nation) AS i
  FROM p),
thresh AS (
  SELECT COALESCE(MAX(CASE WHEN c_ge * 10 <= i THEN i END), 0) AS imax
  FROM ranked)
SELECT nation, d AS abs_dev_cents, c_ge AS p_count, m,
       CAST(i AS BIGINT) AS bh_rank,
       (i <= (SELECT imax FROM thresh)) AS rejected
FROM ranked
"""


@query("q_ml_bh_fdr", _BH_ORACLE)
def q_ml_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    nat = c.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.sum(
            F.round(F.col("c_acctbal") * 100).cast("bigint")
        ).cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    g = nat.agg(
        F.sum("s").cast("bigint").alias("gs"),
        F.sum("n").cast("bigint").alias("gn"),
    )
    dev = nat.crossJoin(F.broadcast(g)).select(
        "nation",
        F.abs(
            F.col("s").cast("double") / F.col("n")
            - F.col("gs").cast("double") / F.col("gn")
        ).alias("d"),
    )
    # windows over the bounded 25-row nation aggregate only; the RANGE
    # frame under a desc ordering includes all peers, so the count is
    # exactly |{j : d_j >= d_i}| — ties included, matching the oracle's
    # correlated COUNT(*)
    p = dev.select(
        "nation",
        "d",
        F.count(F.lit(1)).over(
            Window.orderBy(F.col("d").desc()).rangeBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).cast("bigint").alias("c_ge"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).cast("bigint").alias("m"),
    )
    ranked = p.withColumn(
        "i", F.row_number().over(Window.orderBy("c_ge", "nation"))
    )
    imax = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("c_ge") * 10 <= F.col("i"), F.col("i"))),
            F.lit(0),
        ).alias("imax")
    )
    return ranked.crossJoin(F.broadcast(imax)).select(
        "nation",
        F.col("d").alias("abs_dev_cents"),
        F.col("c_ge").alias("p_count"),
        "m",
        F.col("i").cast("bigint").alias("bh_rank"),
        (F.col("i") <= F.col("imax")).alias("rejected"),
    )


# -- X327: RFM customer segmentation (distributed quintiles) ---------------
# The canonical CRM segmentation: quintile-score customers on Recency /
# Frequency / Monetary. Customers grow with the data, so each quintile
# assignment uses global_rank (range partitions + broadcast offsets) and
# the exact arithmetic NTILE — three distributed ranks, never an
# unpartitioned ntile window. Output is the bounded segment cube.

_RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS ck,
         CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1990-01-01') AS BIGINT)
           AS recency,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary
  FROM orders GROUP BY ck),
scored AS (
  SELECT ck, monetary,
         NTILE(5) OVER (ORDER BY recency DESC, ck) AS r_q,
         NTILE(5) OVER (ORDER BY freq DESC, ck) AS f_q,
         NTILE(5) OVER (ORDER BY monetary DESC, ck) AS m_q
  FROM cust)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary) AS BIGINT) AS monetary_cents
FROM scored GROUP BY r_q, f_q, m_q
"""


@query("q_ml_rfm_segments", _RFM_ORACLE)
def q_ml_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")), F.lit("1990-01-01").cast("date")
        ).cast("bigint").alias("recency"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).cast("bigint").alias("monetary"),
    )
    scored = cust
    for col, alias in (
        ("recency", "r_q"),
        ("freq", "f_q"),
        ("monetary", "m_q"),
    ):
        scored = global_rank(
            scored,
            [F.col(col).desc(), F.col("ck").asc()],
            rank_col="__rk",
            n_col="__n",
        ).withColumn(
            alias, ntile_from_rank(5, "__rk", "__n").cast("int")
        ).drop("__rk", "__n")
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary").cast("bigint").alias("monetary_cents"),
    )


# -- X340: quantile normalization (distribution matching) ------------------
# The expression-data / feature-preprocessing standard: remap each
# group's values onto the POOLED distribution at the same quantile.
# Group rank and pooled rank both come from the distributed global_rank
# (grouped and plain), the pooled index is exact ceil arithmetic, and
# the remap is a rank equi-join — no unpartitioned sort anywhere, so the
# shape survives a fact-scale value column. Output is the bounded
# per-group reconciliation (original vs remapped sums).

_QNORM_ORACLE = """
WITH v AS (
  SELECT event_id, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL),
grp AS (
  SELECT event_id, event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS ng
  FROM v),
pool AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, event_id) AS p
  FROM v),
pool_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
-- the pooled index is computed ENTIRELY on the grp side (n is a scalar),
-- so the remap is a plain equi-join on p — hash-joinable in both engines
idx AS (
  SELECT g.event_type, g.cents, ((g.r * pn.n + g.ng - 1) // g.ng) AS p
  FROM grp g CROSS JOIN pool_n pn),
mapped AS (
  SELECT i.event_type, i.cents AS orig_cents, pool.cents AS mapped_cents
  FROM idx i JOIN pool ON pool.p = i.p)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(orig_cents) AS BIGINT) AS orig_sum_cents,
       CAST(SUM(mapped_cents) AS BIGINT) AS mapped_sum_cents
FROM mapped GROUP BY event_type
"""


@query("q_ml_quantile_normalize", _QNORM_ORACLE)
def q_ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # NULL group keys / NULL values are excluded on both engines: a
    # NULL cents ranks FIRST in Spark and LAST in DuckDB, shifting
    # every downstream quantile index (r12 NULL audit).
    v = e.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    grp = global_rank(
        v,
        order=[F.col("cents"), F.col("event_id")],
        rank_col="r",
        n_col="ng",
        group=["event_type"],
    )
    pool = global_rank(
        v.select("cents", "event_id"),
        order=[F.col("cents"), F.col("event_id")],
        rank_col="p",
        n_col="n",
    ).select(F.col("cents").alias("pool_cents"), "p", "n")
    # Hoist the pooled count (a 1-row aggregate) so the remap index is
    # computed entirely on the grp side — the join becomes a shuffled
    # HASH equi-join on p, never a nested-loop over grp × pool.
    pool_n = pool.agg(F.max("n").cast("bigint").alias("pool_total"))
    idx = grp.crossJoin(F.broadcast(pool_n)).withColumn(
        "p", F.expr("(r * pool_total + ng - 1) DIV ng")
    )
    mapped = idx.join(pool.drop("n"), "p")
    return mapped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("orig_sum_cents"),
        F.sum("pool_cents").cast("bigint").alias("mapped_sum_cents"),
    )


# -- X341: propensity-score matching (nearest control, caliper) ------------
# Greedy 1-NN matching WITH replacement, stratified by calendar day:
# each treated event (purchase) matches the control event whose score is
# nearest within ±50 cents. The scale shape is the sort-merge one — a
# keyed (day) ordering where nearest-control-before/after arrive through
# IGNORE NULLS running windows, never a treatment×control join. Output
# is the bounded per-day matching summary.

_PSM_CALIPER = 50

_PSM_ORACLE = f"""
WITH v AS (
  SELECT event_id,
         CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS treat
  FROM events WHERE ts IS NOT NULL),
w AS (
  SELECT *,
         LAST_VALUE(CASE WHEN treat = 0 THEN score END IGNORE NULLS) OVER (
           PARTITION BY day ORDER BY score, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ctrl,
         FIRST_VALUE(CASE WHEN treat = 0 THEN score END IGNORE NULLS) OVER (
           PARTITION BY day ORDER BY score, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ctrl
  FROM v),
m AS (
  SELECT day, score,
         CASE
           WHEN prev_ctrl IS NULL AND next_ctrl IS NULL THEN NULL
           WHEN prev_ctrl IS NULL THEN next_ctrl
           WHEN next_ctrl IS NULL THEN prev_ctrl
           WHEN score - prev_ctrl <= next_ctrl - score THEN prev_ctrl
           ELSE next_ctrl
         END AS match_score
  FROM w WHERE treat = 1)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_treated,
       CAST(SUM(CASE WHEN match_score IS NOT NULL
                      AND ABS(score - match_score) <= {_PSM_CALIPER}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN match_score IS NOT NULL
                      AND ABS(score - match_score) <= {_PSM_CALIPER}
                     THEN ABS(score - match_score) END) AS BIGINT)
         AS sum_abs_diff
FROM m GROUP BY day
"""


@query("q_ml_psm_match", _PSM_ORACLE)
def q_ml_psm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ts is load-bearing (the day stratum IS the timestamp): a NULL ts
    # has no stratum, and the engines disagree on whether the NULL
    # group survives the fill (r12 ts-NULL audit) — pin it out on both.
    v = e.filter(F.col("ts").isNotNull()).select(
        "event_id",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "treat"
        ),
    )
    # `day` has ~30 distinct values at ANY scale — a day-keyed window
    # would funnel the whole fact table through 30 sort partitions
    # (measured 28x super-linear at 10x). scan_fill is the distributed-
    # exact running fill: range partitions on (day, score, event_id) +
    # bounded boundary stitch.
    from mini_etl_project_spark.operators.fill import scan_fill

    ctrl_score = F.when(F.col("treat") == 0, F.col("score"))
    w = scan_fill(
        v,
        group=["day"],
        order=["score", "event_id"],
        value=ctrl_score,
        prev_col="prev_ctrl",
        next_col="next_ctrl",
    ).select("day", "score", "treat", "prev_ctrl", "next_ctrl")
    match_score = (
        F.when(
            F.col("prev_ctrl").isNull() & F.col("next_ctrl").isNull(),
            F.lit(None).cast("bigint"),
        )
        .when(F.col("prev_ctrl").isNull(), F.col("next_ctrl"))
        .when(F.col("next_ctrl").isNull(), F.col("prev_ctrl"))
        .when(
            F.col("score") - F.col("prev_ctrl")
            <= F.col("next_ctrl") - F.col("score"),
            F.col("prev_ctrl"),
        )
        .otherwise(F.col("next_ctrl"))
    )
    m = w.filter(F.col("treat") == 1).select(
        "day", "score", match_score.alias("match_score")
    )
    ok = F.col("match_score").isNotNull() & (
        F.abs(F.col("score") - F.col("match_score")) <= _PSM_CALIPER
    )
    return m.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias("n_matched"),
        F.sum(
            F.when(ok, F.abs(F.col("score") - F.col("match_score")))
        ).cast("bigint").alias("sum_abs_diff"),
    )


# -- X349: Brier score decomposition ---------------------------------------
#
# Murphy's reliability/resolution split of the Brier score over 10
# probability bins, built so every term is EXACT: the per-bin
# reliability numerator (sum_pred_ppm − 1e6·n_pos)² is computed in
# DECIMAL(38,0) (it exceeds int64 at fact-scale bin counts), and the
# resolution pieces ship as the raw integers (n, n_pos) plus the global
# base rate, so reliability = Σ rel_num/(n_k·1e12·N) and resolution
# = Σ n_k(ō_k−ō)² are reconstructable without a single engine-ordered
# float sum. One groupBy on the hash-scored facts — a single keyed
# shuffle at any SF.

_BRIER_ORACLE = """
WITH scored AS (
  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS s_ppm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events),
b AS (
  SELECT CAST(s_ppm // 100000 AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(s_ppm) AS BIGINT) AS sum_pred_ppm
  FROM scored GROUP BY bin)
SELECT bin, n, n_pos, sum_pred_ppm,
       CAST(CAST((CAST(sum_pred_ppm AS DECIMAL(38,0)) - CAST(1000000 AS DECIMAL(38,0)) * n_pos)
            * (CAST(sum_pred_ppm AS DECIMAL(38,0)) - CAST(1000000 AS DECIMAL(38,0)) * n_pos)
            AS DECIMAL(38,0)) AS VARCHAR) AS rel_num
FROM b
"""


@query("q_ml_brier_decomposition", _BRIER_ORACLE)
def q_ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    scored = e.select(
        (h % 1000000).alias("s_ppm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    b = scored.groupBy(
        F.expr("s_ppm DIV 100000").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("s_ppm").cast("bigint").alias("sum_pred_ppm"),
    )
    diff = F.col("sum_pred_ppm").cast("decimal(38,0)") - F.lit(1000000).cast(
        "decimal(38,0)"
    ) * F.col("n_pos")
    return b.select(
        "bin",
        "n",
        "n_pos",
        "sum_pred_ppm",
        # VARCHAR transport: pandas degrades DECIMAL(p>18) to float64 on
        # the DuckDB side of the driver canonicalizer (pvm_bridge class).
        (diff * diff).cast("decimal(38,0)").cast("string").alias("rel_num"),
    )


# -- X350: Nelson-Aalen cumulative hazard ----------------------------------
#
# The counting-process twin of Kaplan-Meier (X266): H(t) = Σ_{tᵢ≤t}
# dᵢ/nᵢ. Same duration/censoring construction as KM (first purchase =
# event, else censored at day 29), but the estimator is a running SUM —
# so unlike KM's product fold, it is fully SQL-expressible: per-term
# hazard in exact floor ppm, cumulated by a window over the BOUNDED
# distinct-duration risk table (≤30 rows regardless of SF). At-risk
# counts come from a suffix sum over that same bounded table.

_NA_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)))
           AS first_day,
         MIN(CASE WHEN event_type = 'purchase'
             THEN DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
             END) AS first_purchase
  FROM events GROUP BY user_id),
durations AS (
  SELECT CASE WHEN first_purchase IS NOT NULL
              THEN first_purchase - first_day
              ELSE 29 - first_day END AS t,
         CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS d
  FROM per_user),
counts AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS d_events,
         CAST(COUNT(*) AS BIGINT) AS ct
  FROM durations GROUP BY t),
risk AS (
  SELECT t, d_events,
         CAST(SUM(ct) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS n_at_risk
  FROM counts)
SELECT t, n_at_risk, d_events,
       CAST(SUM(d_events * 1000000 // n_at_risk)
            OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_hazard_ppm
FROM risk WHERE d_events > 0
"""


@query("q_ml_nelson_aalen", _NA_ORACLE)
def q_ml_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")).cast(
        "bigint"
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias(
            "first_purchase"
        ),
    )
    durations = per_user.select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.col("first_purchase") - F.col("first_day"),
        )
        .otherwise(F.lit(29) - F.col("first_day"))
        .alias("t"),
        F.when(F.col("first_purchase").isNotNull(), 1)
        .otherwise(0)
        .alias("d"),
    )
    counts = durations.groupBy("t").agg(
        F.sum("d").cast("bigint").alias("d_events"),
        F.count(F.lit(1)).cast("bigint").alias("ct"),
    )
    # bounded-table windows only (≤30 distinct durations)
    w_suffix = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_prefix = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = counts.select(
        "t",
        "d_events",
        F.sum("ct").over(w_suffix).cast("bigint").alias("n_at_risk"),
    )
    return (
        risk.select(
            "t",
            "n_at_risk",
            "d_events",
            F.sum(F.expr("d_events * 1000000 DIV n_at_risk"))
            .over(w_prefix)
            .cast("bigint")
            .alias("cum_hazard_ppm"),
        )
        .filter(F.col("d_events") > 0)
    )


# -- X355: robust regression via one hard-rejection refit ------------------
#
# The Talwar / skipped-mean M-estimator, the robust-fit shape that stays
# EXACT in a distributed engine: (1) closed-form OLS per group from
# integer sums; (2) broadcast the 3-row coefficient table back onto the
# facts; (3) refit OLS over only the rows whose absolute residual is
# within a fixed cut. Both fits are exact-integer sums; the only floats
# are the coefficients themselves, built from one identical expression
# tree in both engines, so the inlier predicate cannot drift. Two keyed
# shuffles + one broadcast — no iteration over the data in Python.

_ROBUST_CUT_CENTS = 2_000_000  # $20k residual cut

_ROBUST_ORACLE = f"""
WITH q AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
s1 AS (
  SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM q GROUP BY g),
c1 AS (
  SELECT g,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS b0
  FROM s1),
inl AS (
  SELECT q.g, q.x, q.y
  FROM q JOIN c1 ON c1.g = q.g
  WHERE ABS(CAST(q.y AS DOUBLE) - (c1.b1 * CAST(q.x AS DOUBLE) + c1.b0))
        <= {_ROBUST_CUT_CENTS}),
s2 AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_inliers,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM inl GROUP BY g),
tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_total FROM q GROUP BY g)
SELECT s2.g AS l_returnflag, tot.n_total, s2.n_inliers,
       (s2.n * s2.sxy - s2.sx * s2.sy) / (s2.n * s2.sxx - s2.sx * s2.sx)
         AS slope_refit,
       (s2.sy - (s2.n * s2.sxy - s2.sx * s2.sy)
                / (s2.n * s2.sxx - s2.sx * s2.sx) * s2.sx) / s2.n
         AS intercept_refit
FROM s2 JOIN tot ON tot.g = s2.g
"""


@query("q_ml_robust_refit", _ROBUST_ORACLE)
def q_ml_robust_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    q = li.select(
        F.col("l_returnflag").alias("g"),
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )

    def fit(df: DataFrame):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_int"),
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x").cast(dec) * F.col("y")).cast("double")
            .alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        )

    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    b1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    b0 = (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
    c1 = fit(q).select("g", b1.alias("b1"), b0.alias("b0"))
    inl = q.join(F.broadcast(c1), "g").filter(
        F.abs(
            F.col("y").cast("double")
            - (F.col("b1") * F.col("x").cast("double") + F.col("b0"))
        )
        <= _ROBUST_CUT_CENTS
    ).select("g", "x", "y")
    s2 = fit(inl)
    tot = q.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    return (
        s2.join(tot, "g")
        .select(
            F.col("g").alias("l_returnflag"),
            "n_total",
            F.col("n_int").alias("n_inliers"),
            b1.alias("slope_refit"),
            b0.alias("intercept_refit"),
        )
    )


# -- X360: degree-2 polynomial regression (closed form) --------------------
#
# Quadratic fit y = b0 + b1·x + b2·x² per group by solving the 3×3
# normal equations with CRAMER'S RULE: every determinant is a
# polynomial in the exact integer moment sums S0..S4, Sy, Sxy, Sx2y
# (DECIMAL(38,0) keeps x⁴ sums exact), and the only floats are the
# final determinant ratios — one identical expression tree in both
# engines. One keyed shuffle; the algebra is per-group scalar work.

_POLY2_ORACLE = """
WITH q AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT g,
         CAST(COUNT(*) AS DOUBLE) AS s0,
         CAST(SUM(x) AS DOUBLE) AS s1,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS s2,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS DOUBLE) AS s3,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) AS DOUBLE) AS s4,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * y) AS DOUBLE) AS sx2y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY g)
SELECT g AS l_returnflag, n,
       (sy  * (s2 * s4 - s3 * s3)
        - s1 * (sxy * s4 - s3 * sx2y)
        + s2 * (sxy * s3 - s2 * sx2y))
       / (s0 * (s2 * s4 - s3 * s3)
          - s1 * (s1 * s4 - s2 * s3)
          + s2 * (s1 * s3 - s2 * s2)) AS b0,
       (s0 * (sxy * s4 - s3 * sx2y)
        - sy * (s1 * s4 - s2 * s3)
        + s2 * (s1 * sx2y - sxy * s2))
       / (s0 * (s2 * s4 - s3 * s3)
          - s1 * (s1 * s4 - s2 * s3)
          + s2 * (s1 * s3 - s2 * s2)) AS b1,
       (s0 * (s2 * sx2y - s3 * sxy)
        - s1 * (s1 * sx2y - s2 * sxy)
        + sy * (s1 * s3 - s2 * s2))
       / (s0 * (s2 * s4 - s3 * s3)
          - s1 * (s1 * s4 - s2 * s3)
          + s2 * (s1 * s3 - s2 * s2)) AS b2
FROM m
"""


@query("q_ml_polyreg2", _POLY2_ORACLE)
def q_ml_polyreg2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    q = li.select(
        F.col("l_returnflag").alias("g"),
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    xd = F.col("x").cast(dec)
    m = q.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("s0"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(xd * F.col("x")).cast("double").alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).cast("double").alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x"))
        .cast("double")
        .alias("s4"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(xd * F.col("y")).cast("double").alias("sxy"),
        F.sum(xd * F.col("x") * F.col("y")).cast("double").alias("sx2y"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    s0, s1, s2 = F.col("s0"), F.col("s1"), F.col("s2")
    s3, s4 = F.col("s3"), F.col("s4")
    sy, sxy, sx2y = F.col("sy"), F.col("sxy"), F.col("sx2y")
    det = (
        s0 * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * s3 - s2 * s2)
    )
    b0 = (
        sy * (s2 * s4 - s3 * s3)
        - s1 * (sxy * s4 - s3 * sx2y)
        + s2 * (sxy * s3 - s2 * sx2y)
    ) / det
    b1 = (
        s0 * (sxy * s4 - s3 * sx2y)
        - sy * (s1 * s4 - s2 * s3)
        + s2 * (s1 * sx2y - sxy * s2)
    ) / det
    b2 = (
        s0 * (s2 * sx2y - s3 * sxy)
        - s1 * (s1 * sx2y - s2 * sxy)
        + sy * (s1 * s3 - s2 * s2)
    ) / det
    return m.select(
        F.col("g").alias("l_returnflag"),
        "n",
        b0.alias("b0"),
        b1.alias("b1"),
        b2.alias("b2"),
    )


# -- X369 McNemar's test for paired classifiers ----------------------------
#
# The right significance test when two classifiers are evaluated on the
# SAME examples: only the discordant pairs carry information. b = A
# correct where B wrong, c = B correct where A wrong; the statistic
# (b-c)^2/(b+c) (and its continuity-corrected twin, with the standard
# max(0,|b-c|-1) clamp so b == c yields 0) is chi-square(1)
# under H0. One conditional-aggregation pass over orders — no shuffle
# beyond the single global aggregate, all integer arithmetic, ppm floor.
# Classifier A: totalprice > 250k. Classifier B: priority in the top 3.
# Truth: o_orderstatus = 'F'.

_MCNEMAR_ORACLE = """
WITH x AS (
  SELECT (o_orderstatus = 'F') AS truth,
         (o_totalprice > 250000.0) AS pa,
         (o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')) AS pb
  FROM orders)
SELECT
  CAST(SUM(CASE WHEN pa = truth AND pb = truth THEN 1 ELSE 0 END)
       AS BIGINT) AS both_right,
  CAST(SUM(CASE WHEN pa <> truth AND pb <> truth THEN 1 ELSE 0 END)
       AS BIGINT) AS both_wrong,
  CAST(SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
       AS BIGINT) AS b_disc,
  CAST(SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END)
       AS BIGINT) AS c_disc,
  CAST((SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
        - SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END))
       * (SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
          - SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END))
       * 1000000
       // (SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
           + SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END))
       AS BIGINT) AS mcnemar_ppm,
  CAST(GREATEST(
         ABS(SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
             - SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END))
         - 1, 0)
       * GREATEST(
         ABS(SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
             - SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END))
         - 1, 0)
       * 1000000
       // (SUM(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END)
           + SUM(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END))
       AS BIGINT) AS mcnemar_cc_ppm
FROM x
"""


@query("q_ml_mcnemar", _MCNEMAR_ORACLE)
def q_ml_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderstatus") == "F").alias("truth"),
        (F.col("o_totalprice") > 250000.0).alias("pa"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH", "3-MEDIUM")
        .alias("pb"),
    )
    agg = o.agg(
        F.sum(
            F.when(
                (F.col("pa") == F.col("truth"))
                & (F.col("pb") == F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_right"),
        F.sum(
            F.when(
                (F.col("pa") != F.col("truth"))
                & (F.col("pb") != F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_wrong"),
        F.sum(
            F.when(
                (F.col("pa") == F.col("truth"))
                & (F.col("pb") != F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b_disc"),
        F.sum(
            F.when(
                (F.col("pa") != F.col("truth"))
                & (F.col("pb") == F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c_disc"),
    )
    return agg.select(
        "both_right",
        "both_wrong",
        "b_disc",
        "c_disc",
        F.expr(
            "CAST((b_disc - c_disc) * (b_disc - c_disc) * 1000000"
            " div (b_disc + c_disc) AS BIGINT)"
        ).alias("mcnemar_ppm"),
        # Continuity correction clamped at zero: when b == c the
        # uncorrected numerator is 0 and (|b-c|-1)^2 would report a
        # spurious positive statistic (standard practice: max(0, |b-c|-1)).
        F.expr(
            "CAST(greatest(abs(b_disc - c_disc) - 1, 0)"
            " * greatest(abs(b_disc - c_disc) - 1, 0)"
            " * 1000000 div (b_disc + c_disc) AS BIGINT)"
        ).alias("mcnemar_cc_ppm"),
    )


# -- X372 Matthews correlation coefficient ----------------------------------
#
# The single-number binary-classifier summary that stays honest under
# class imbalance (unlike accuracy or F1). Confusion counts are exact
# BIGINTs from ONE conditional-aggregation pass over orders; the MCC
# itself is (tp*tn - fp*fn) / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)) with
# every count cast to DOUBLE *before* arithmetic on BOTH engines — the
# products exceed 2^63 long before 100 TB, and the identical
# double-expression tree (products, one sqrt, one divide — all IEEE
# correctly rounded) is the repo's pinned cross-engine convention
# (see X363 Wilson CI). Classifier: o_totalprice > 150k; truth:
# o_orderstatus = 'F'.

_MCC_ORACLE = """
WITH g AS (
  SELECT
    CAST(SUM(CASE WHEN o_totalprice > 150000.0 AND o_orderstatus = 'F'
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN o_totalprice <= 150000.0 AND o_orderstatus <> 'F'
             THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN o_totalprice > 150000.0 AND o_orderstatus <> 'F'
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN o_totalprice <= 150000.0 AND o_orderstatus = 'F'
             THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM orders)
SELECT tp, tn, fp, fn,
       (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
        - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
       / SQRT((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
              * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
              * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
              * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))) AS mcc
FROM g
"""


@query("q_ml_mcc", _MCC_ORACLE)
def q_ml_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pred = F.col("o_totalprice") > 150000.0
    truth = F.col("o_orderstatus") == "F"

    def _n(cond, name):
        return (
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)
        )

    g = o.agg(
        _n(pred & truth, "tp"),
        _n(~pred & ~truth, "tn"),
        _n(pred & ~truth, "fp"),
        _n(~pred & truth, "fn"),
    )
    tpd, tnd = F.col("tp").cast("double"), F.col("tn").cast("double")
    fpd, fnd = F.col("fp").cast("double"), F.col("fn").cast("double")
    return g.select(
        "tp", "tn", "fp", "fn",
        (
            (tpd * tnd - fpd * fnd)
            / F.sqrt((tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd))
        ).alias("mcc"),
    )


# -- X373 Cochran-Armitage trend test ---------------------------------------
#
# Dose-response: is the completion rate monotonically related to order
# priority? Groups are the 5 priorities with integer scores w = the
# leading digit (1..5); successes are o_orderstatus = 'F'. Under H0 the
# A successes land uniformly without replacement, so with S1 = Sw_i*a_i,
# S2 = Sw_i*n_i, S3 = Sw_i^2*n_i:
#     z^2 = (n*S1 - A*S2)^2 * (n-1) / (A*(n-A)*(n*S3 - S2^2))
# — an exact rational in the five integer aggregates. The counts come
# from one keyed 5-row aggregate + one 1-row rollup; z^2 is evaluated in
# DOUBLE with the identical tree on both engines (cross products pass
# 2^63 at scale).

_CA_TREND_ORACLE = """
WITH g AS (
  SELECT CAST(LEFT(o_orderpriority, 1) AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS a_i
  FROM orders GROUP BY 1),
t AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(a_i) AS BIGINT) AS a,
         CAST(SUM(w * a_i) AS BIGINT) AS s1,
         CAST(SUM(w * n_i) AS BIGINT) AS s2,
         CAST(SUM(w * w * n_i) AS BIGINT) AS s3
  FROM g)
SELECT n, a, s1, s2, s3,
       (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
        - CAST(a AS DOUBLE) * CAST(s2 AS DOUBLE))
       * (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
          - CAST(a AS DOUBLE) * CAST(s2 AS DOUBLE))
       * (CAST(n AS DOUBLE) - 1)
       / (CAST(a AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
             - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS z2
FROM t
"""


@query("q_ml_cochran_armitage", _CA_TREND_ORACLE)
def q_ml_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.groupBy(
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).cast("bigint").alias("a_i"),
        )
    )
    t = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("a_i").cast("bigint").alias("a"),
        F.sum(F.col("w") * F.col("a_i")).cast("bigint").alias("s1"),
        F.sum(F.col("w") * F.col("n_i")).cast("bigint").alias("s2"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i")).cast("bigint")
        .alias("s3"),
    )
    nd, ad = F.col("n").cast("double"), F.col("a").cast("double")
    s1d, s2d, s3d = (
        F.col("s1").cast("double"),
        F.col("s2").cast("double"),
        F.col("s3").cast("double"),
    )
    num = nd * s1d - ad * s2d
    return t.select(
        "n", "a", "s1", "s2", "s3",
        (
            num * num * (nd - 1)
            / (ad * (nd - ad) * (nd * s3d - s2d * s2d))
        ).alias("z2"),
    )


# -- X374 CUPED variance reduction ------------------------------------------
#
# The experimentation-platform staple: adjust each unit's experiment
# metric Y by its pre-period covariate X, Y' = Y - theta*(X - mean(X))
# with theta = cov(X,Y)/var(X), shrinking arm-mean variance without
# biasing the treatment contrast. Units are the event users (arm =
# user_id % 2), X = the user's day-1..15 spend in cents, Y = day-16+
# spend. Plan: one HIGH-CARDINALITY keyed aggregate per user (two
# conditional sums, shards across the cluster), one 1-row DECIMAL(38,0)
# moment rollup (exact at any scale), one 2-row arm rollup joined to
# the broadcast moment row; theta and the adjusted means are identical
# double trees from the exact integer sums.

_CUPED_ORACLE = """
WITH u AS (
  SELECT user_id,
         user_id % 2 AS arm,
         CAST(SUM(CASE WHEN DAY(ts) <= 15
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN DAY(ts) > 15
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM u),
arm AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n_arm,
         CAST(SUM(x) AS BIGINT) AS sx_arm,
         CAST(SUM(y) AS BIGINT) AS sy_arm
  FROM u GROUP BY arm)
SELECT arm, n_arm, sx_arm, sy_arm,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
       CAST(sy_arm AS DOUBLE) / CAST(n_arm AS DOUBLE) AS mean_y,
       (CAST(sy_arm AS DOUBLE)
        - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (CAST(sx_arm AS DOUBLE)
             - CAST(n_arm AS DOUBLE)
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
       / CAST(n_arm AS DOUBLE) AS mean_y_adj
FROM arm CROSS JOIN m
"""


@query("q_ml_cuped", _CUPED_ORACLE)
def q_ml_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = (
        e.groupBy(
            "user_id", (F.col("user_id") % 2).alias("arm")
        )
        .agg(
            F.sum(
                F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0)
            ).cast("bigint").alias("x"),
            F.sum(
                F.when(F.dayofmonth("ts") > 15, cents).otherwise(0)
            ).cast("bigint").alias("y"),
        )
    )
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("sxy"),
    )
    arm = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arm"),
        F.sum("x").cast("bigint").alias("sx_arm"),
        F.sum("y").cast("bigint").alias("sy_arm"),
    )
    j = arm.crossJoin(F.broadcast(m))
    nd = F.col("n").cast("double")
    theta = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    na_d = F.col("n_arm").cast("double")
    return j.select(
        "arm", "n_arm", "sx_arm", "sy_arm",
        theta.alias("theta"),
        (F.col("sy_arm").cast("double") / na_d).alias("mean_y"),
        (
            (
                F.col("sy_arm").cast("double")
                - theta
                * (
                    F.col("sx_arm").cast("double")
                    - na_d * (F.col("sx").cast("double") / nd)
                )
            )
            / na_d
        ).alias("mean_y_adj"),
    )


# -- X375 Gini-gain feature ranking -----------------------------------------
#
# Split-quality screening, the log-free sibling of information gain:
# for each candidate binary feature, the drop in Gini impurity
# 2p(1-p) when lineitem rows are split on it, against the label
# l_returnflag = 'R'. ONE full-scan aggregate computes every (n1, k1)
# pair as conditional sums; the 5 feature rows are then stacked from
# that single row driver-side-free and scored with exact-count double
# arithmetic (guarded for empty branches). Adding a feature costs two
# more conditional sums in the same scan — the shape a 100 TB feature
# screen needs (no per-feature pass, no shuffle beyond one row).

_GINI_GAIN_ORACLE = """
WITH g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS k,
         CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1_disc,
         CAST(SUM(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
                  THEN 1 ELSE 0 END) AS BIGINT) AS k1_disc,
         CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1_qty,
         CAST(SUM(CASE WHEN l_quantity > 25 AND l_returnflag = 'R'
                  THEN 1 ELSE 0 END) AS BIGINT) AS k1_qty,
         CAST(SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1_tax,
         CAST(SUM(CASE WHEN l_tax > 0.04 AND l_returnflag = 'R'
                  THEN 1 ELSE 0 END) AS BIGINT) AS k1_tax,
         CAST(SUM(CASE WHEN MONTH(l_shipdate) <= 6 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1_h1,
         CAST(SUM(CASE WHEN MONTH(l_shipdate) <= 6 AND l_returnflag = 'R'
                  THEN 1 ELSE 0 END) AS BIGINT) AS k1_h1,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1_stat,
         CAST(SUM(CASE WHEN l_linestatus = 'F' AND l_returnflag = 'R'
                  THEN 1 ELSE 0 END) AS BIGINT) AS k1_stat
  FROM lineitem),
s AS (
  SELECT 'discount_gt_5pct' AS feature, n, k, n1_disc AS n1, k1_disc AS k1 FROM g
  UNION ALL
  SELECT 'quantity_gt_25', n, k, n1_qty, k1_qty FROM g
  UNION ALL
  SELECT 'tax_gt_4pct', n, k, n1_tax, k1_tax FROM g
  UNION ALL
  SELECT 'shipped_h1', n, k, n1_h1, k1_h1 FROM g
  UNION ALL
  SELECT 'linestatus_f', n, k, n1_stat, k1_stat FROM g)
SELECT feature, n1, k1,
       CAST(n - n1 AS BIGINT) AS n0,
       CAST(k - k1 AS BIGINT) AS k0,
       2 * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
         * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
       - (CASE WHEN n1 = 0 THEN CAST(0 AS DOUBLE) ELSE
            (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (2 * (CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               * (1 - CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE))) END)
       - (CASE WHEN n - n1 = 0 THEN CAST(0 AS DOUBLE) ELSE
            (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (2 * (CAST(k - k1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
               * (1 - CAST(k - k1 AS DOUBLE) / CAST(n - n1 AS DOUBLE)))
          END) AS gini_gain
FROM s
"""


@query("q_ml_gini_gain", _GINI_GAIN_ORACLE)
def q_ml_gini_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lbl = F.col("l_returnflag") == "R"
    feats = {
        "disc": F.col("l_discount") > 0.05,
        "qty": F.col("l_quantity") > 25,
        "tax": F.col("l_tax") > 0.04,
        "h1": F.month("l_shipdate") <= 6,
        "stat": F.col("l_linestatus") == "F",
    }
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(lbl, 1).otherwise(0)).cast("bigint").alias("k"),
    ]
    for tag, cond in feats.items():
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"n1_{tag}")
        )
        aggs.append(
            F.sum(F.when(cond & lbl, 1).otherwise(0)).cast("bigint")
            .alias(f"k1_{tag}")
        )
    g = li.agg(*aggs)
    names = {
        "disc": "discount_gt_5pct",
        "qty": "quantity_gt_25",
        "tax": "tax_gt_4pct",
        "h1": "shipped_h1",
        "stat": "linestatus_f",
    }
    stack_args = ", ".join(
        f"'{names[t]}', n1_{t}, k1_{t}" for t in feats
    )
    s = g.selectExpr(
        "n", "k",
        f"stack({len(feats)}, {stack_args}) AS (feature, n1, k1)",
    )
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    n1d, k1d = F.col("n1").cast("double"), F.col("k1").cast("double")
    n0, k0 = F.col("n") - F.col("n1"), F.col("k") - F.col("k1")
    n0d, k0d = n0.cast("double"), k0.cast("double")
    child1 = F.when(F.col("n1") == 0, F.lit(0.0)).otherwise(
        (n1d / nd) * (2 * (k1d / n1d) * (1 - k1d / n1d))
    )
    child0 = F.when(n0 == 0, F.lit(0.0)).otherwise(
        (n0d / nd) * (2 * (k0d / n0d) * (1 - k0d / n0d))
    )
    return s.select(
        "feature", "n1", "k1",
        n0.cast("bigint").alias("n0"),
        k0.cast("bigint").alias("k0"),
        (2 * (kd / nd) * (1 - kd / nd) - child1 - child0)
        .alias("gini_gain"),
    )


# -- X385 offline policy evaluation by replay (bandit counterfactual) -------
#
# The standard offline estimator for "what would THIS policy have
# earned" from logged interaction data (Li et al.'s replay method): keep
# only the logged events whose action matches the target policy's
# action for that context, and average their rewards. Context = user,
# logged action = event_type, reward = exact value cents. The target
# policy is a deterministic context rule (hash-free: user_id mod 3 →
# preferred action tier), so both engines agree on every match. One
# conditional-aggregation pass per policy arm — no shuffle beyond the
# keyed aggregate; match-rate and value land as integers/ppm with
# identical expression trees.

_REPLAY_ORACLE = """
WITH x AS (
  SELECT event_type AS logged_action,
         CASE user_id % 3 WHEN 0 THEN 'purchase'
                          WHEN 1 THEN 'click' ELSE 'view' END AS pi_action,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT pi_action,
       CAST(COUNT(*) AS BIGINT) AS n_logged,
       CAST(SUM(CASE WHEN logged_action = pi_action THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN logged_action = pi_action THEN cents ELSE 0 END)
            AS BIGINT) AS matched_cents,
       CAST(SUM(CASE WHEN logged_action = pi_action THEN cents ELSE 0 END)
            * 100
            // GREATEST(SUM(CASE WHEN logged_action = pi_action
                                 THEN 1 ELSE 0 END), 1)
            AS BIGINT) AS replay_value_c100
FROM x GROUP BY pi_action
"""


@query("q_ml_policy_replay", _REPLAY_ORACLE)
def q_ml_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("logged_action"),
        F.when(F.col("user_id") % 3 == 0, "purchase")
        .when(F.col("user_id") % 3 == 1, "click")
        .otherwise("view")
        .alias("pi_action"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    matched = F.when(
        F.col("logged_action") == F.col("pi_action"), 1
    ).otherwise(0)
    mcents = F.when(
        F.col("logged_action") == F.col("pi_action"), F.col("cents")
    ).otherwise(0)
    agg = x.groupBy("pi_action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_logged"),
        F.sum(matched).cast("bigint").alias("n_matched"),
        F.sum(mcents).cast("bigint").alias("matched_cents"),
    )
    return agg.select(
        "pi_action",
        "n_logged",
        "n_matched",
        "matched_cents",
        F.expr(
            "CAST(matched_cents * 100 DIV greatest(n_matched, 1) AS BIGINT)"
        ).alias("replay_value_c100"),
    )


# -- X388 expected calibration error (binned, rank-score) -------------------
#
# The standard reliability-diagram metric: bin predictions by confidence,
# compare each bin's mean confidence to its empirical accuracy. The
# "model" is a rank-based score (fraction of orders with smaller
# totalprice — a [0,1] probability proxy with a total unique order), so
# the whole computation stays in exact integer space: bin assignment is
# floor((rank-1)*B/N), confidence numerators are rank sums, accuracy
# numerators are outcome counts, and the ppm divisions share one
# expression tree across engines. Rank comes from global_rank (range
# partitions + offsets) — no unpartitioned fact window; the per-bin
# aggregate is 10 rows.

_ECE_BINS = 10

_ECE_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
         COUNT(*) OVER () AS n
  FROM orders),
binned AS (
  SELECT CAST((rnk - 1) * {_ECE_BINS} // n AS BIGINT) AS bin,
         y, rnk, n
  FROM ranked)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_b,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(rnk - 1) AS BIGINT) AS conf_num,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm,
       CAST(SUM(rnk - 1) * 1000000 // (COUNT(*) * (MAX(n) - 1))
            AS BIGINT) AS conf_ppm,
       CAST(ABS(SUM(y) * 1000000 // COUNT(*)
                - SUM(rnk - 1) * 1000000 // (COUNT(*) * (MAX(n) - 1)))
            AS BIGINT) AS gap_ppm
FROM binned GROUP BY bin
"""


@query("q_ml_calibration_ece", _ECE_ORACLE)
def q_ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    ranked = global_rank(
        o,
        order=[F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="rnk",
        n_col="n",
    )
    binned = ranked.select(
        F.expr(f"CAST((rnk - 1) * {_ECE_BINS} DIV n AS BIGINT)").alias(
            "bin"
        ),
        "y",
        "rnk",
        "n",
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.col("rnk") - 1).cast("bigint").alias("conf_num"),
        F.max("n").alias("_n"),
    )
    return agg.select(
        "bin",
        "n_b",
        "n_pos",
        "conf_num",
        F.expr("CAST(n_pos * 1000000 DIV n_b AS BIGINT)").alias("acc_ppm"),
        F.expr(
            "CAST(conf_num * 1000000 DIV (n_b * (_n - 1)) AS BIGINT)"
        ).alias("conf_ppm"),
        F.expr(
            "CAST(abs(n_pos * 1000000 DIV n_b"
            " - conf_num * 1000000 DIV (n_b * (_n - 1))) AS BIGINT)"
        ).alias("gap_ppm"),
    )


# -- X390 exact Shapley channel attribution ---------------------------------
#
# Marketing/science attribution done right: each touched channel gets
# its Shapley value over the coalition game v(S) = "# converting users
# touched by at least one channel in S". With 4 non-conversion channels
# (click/signup/view/error; conversion = any purchase) the 16 coalition
# values come from ONE keyed user aggregate (bitmask via bit_or) crossed
# with a 16-row broadcast spine — the exponential part is in the
# CHANNEL count (fixed, tiny), never in the data. Shapley weights are
# kept integer by scaling with n! = 24 (|S|!·(n−1−|S|)! marginals), so
# every output is exact; the efficiency property Σφ = v(all) ships as a
# verifiable column pair. 100 TB: the user aggregate is the only
# fact-scale stage; everything after is 16–32 bounded rows.

_SHAP_CHANNELS = ("click", "signup", "view", "error")

_SHAPLEY_ORACLE = """
WITH users AS (
  SELECT user_id,
         CAST(SUM(CASE event_type WHEN 'click' THEN 1 ELSE 0 END) > 0
              AS INT)
         + 2 * CAST(SUM(CASE event_type WHEN 'signup' THEN 1 ELSE 0 END) > 0
                    AS INT)
         + 4 * CAST(SUM(CASE event_type WHEN 'view' THEN 1 ELSE 0 END) > 0
                    AS INT)
         + 8 * CAST(SUM(CASE event_type WHEN 'error' THEN 1 ELSE 0 END) > 0
                    AS INT) AS mask,
         MAX(CASE event_type WHEN 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
coal AS (SELECT s FROM unnest(generate_series(0, 15)) t(s)),
v AS (
  SELECT coal.s,
         CAST(SUM(CASE WHEN u.conv = 1
                        AND (u.mask & coal.s) <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS val
  FROM coal, users u GROUP BY coal.s),
chan AS (
  SELECT * FROM (VALUES ('click', 1), ('signup', 2),
                        ('view', 4), ('error', 8)) c(channel, bit)),
marginals AS (
  SELECT chan.channel,
         CASE bit_count(CAST(coal.s AS BIGINT))
              WHEN 0 THEN 6 WHEN 1 THEN 2
              WHEN 2 THEN 2 WHEN 3 THEN 6 END
         * (vw.val - vo.val) AS contrib
  FROM chan
  JOIN coal ON (coal.s & chan.bit) = 0
  JOIN v vo ON vo.s = coal.s
  JOIN v vw ON vw.s = coal.s + chan.bit)
SELECT m.channel,
       CAST(SUM(m.contrib) AS BIGINT) AS shapley_x24,
       (SELECT val FROM v WHERE s = 15) * 24 AS total_x24,
       CAST(SUM(m.contrib) * 1000000
            // ((SELECT val FROM v WHERE s = 15) * 24) AS BIGINT)
         AS share_ppm
FROM marginals m GROUP BY m.channel
"""


@query("q_ml_shapley_attribution", _SHAPLEY_ORACLE)
def q_ml_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    touch_bits = [
        (F.max((F.col("event_type") == ch).cast("int")) * (1 << i)).alias(
            f"b{i}"
        )
        for i, ch in enumerate(_SHAP_CHANNELS)
    ]
    users = e.groupBy("user_id").agg(
        *touch_bits,
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("conv"),
    ).select(
        (F.col("b0") + F.col("b1") + F.col("b2") + F.col("b3")).alias(
            "mask"
        ),
        "conv",
    )
    coal = spark.range(16).select(F.col("id").cast("int").alias("s"))
    # Collapse the fact-scale side to the <=16 distinct touch masks
    # BEFORE the coalition cross: v(S) then assembles from a bounded
    # 16x16 join, and the only fact-scale stage is one keyed groupBy.
    mask_counts = (
        users.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    v = (
        coal.join(
            F.broadcast(mask_counts), F.expr("mask & s != 0"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("val"))
    )
    chan = spark.createDataFrame(
        [(ch, 1 << i) for i, ch in enumerate(_SHAP_CHANNELS)],
        "channel string, bit int",
    )
    weights = F.expr(
        "CASE bit_count(CAST(s AS BIGINT)) WHEN 0 THEN 6 WHEN 1 THEN 2"
        " WHEN 2 THEN 2 WHEN 3 THEN 6 END"
    )
    marg = (
        chan.crossJoin(F.broadcast(coal))
        .filter(F.expr("s & bit") == 0)
        .join(
            F.broadcast(v.select(F.col("s").alias("s"), F.col("val").alias("vo"))),
            "s",
        )
        .join(
            F.broadcast(
                v.select(
                    F.col("s").alias("sw"), F.col("val").alias("vw")
                )
            ),
            F.expr("sw = s + bit"),
        )
        .withColumn("contrib", weights * (F.col("vw") - F.col("vo")))
    )
    total = v.filter(F.col("s") == 15).select(
        (F.col("val") * 24).alias("total_x24")
    )
    return (
        marg.groupBy("channel")
        .agg(F.sum("contrib").cast("bigint").alias("shapley_x24"))
        .crossJoin(F.broadcast(total))
        .select(
            "channel",
            "shapley_x24",
            "total_x24",
            F.expr(
                "CAST(shapley_x24 * 1000000 DIV total_x24 AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


# -- X391 one-way ANOVA (F statistic, exact moment assembly) ----------------
#
# Between/within variance decomposition of order value cents across the
# three return flags. The fact-scale work is ONE keyed aggregate of
# exact moments per group (n BIGINT, s BIGINT, q = Σx² in DECIMAL(38,0)
# — cents² sums overflow BIGINT past ~sf1). The cross-group float
# reduction (Σ s_g²/n_g) is the only place summation ORDER could leak
# engine differences, so both engines fold the per-group terms
# SEQUENTIALLY over the flag-sorted list (Spark: aggregate over
# sort_array(collect_list); DuckDB: list_aggregate over list(... ORDER
# BY)) — identical association order → identical doubles → the F
# statistic itself hash-matches, not just the integer moments.

_ANOVA_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem),
g AS (
  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         SUM(CAST(c AS DECIMAL(38,0)) * c) AS q
  FROM x GROUP BY flag),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(CAST(s AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_tot,
         CAST(SUM(q) AS DECIMAL(38,0)) AS q_tot,
         CAST(COUNT(*) AS BIGINT) AS k,
         list_aggregate(
           list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n ORDER BY flag),
           'sum') AS sum_terms
  FROM g)
SELECT k, n_tot,
       sum_terms
         - (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) * (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) / n_tot AS ssb,
       (CAST(((q_tot) - (q_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q_tot) % 1073741824 AS DOUBLE)) - sum_terms AS ssw,
       (sum_terms
          - (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) * (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) / n_tot)
         / (k - 1)
         / (((CAST(((q_tot) - (q_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q_tot) % 1073741824 AS DOUBLE)) - sum_terms) / (n_tot - k)) AS f_stat
FROM tot
"""


@query("q_ml_anova_oneway", _ANOVA_ORACLE)
def q_ml_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    g = x.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q"),
    )
    term = (
        F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(F.col("s").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s_tot"),
        F.sum("q").cast("decimal(38,0)").alias("q_tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("flag"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, r: acc + r["t"],
        ).alias("sum_terms"),
    )
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ssb = (
        F.col("sum_terms")
        - dec_to_double("s_tot") * dec_to_double("s_tot") / F.col("n_tot")
    )
    ssw = dec_to_double("q_tot") - F.col("sum_terms")
    return tot.select(
        "k",
        "n_tot",
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        (
            ssb / (F.col("k") - 1) / (ssw / (F.col("n_tot") - F.col("k")))
        ).alias("f_stat"),
    )


# -- X392 delete-a-group jackknife standard error ---------------------------
#
# THE distributed uncertainty primitive (BLB's deterministic cousin):
# hash rows into G=32 folds, recompute the statistic with each fold
# deleted, and estimate Var(θ̂) = (G−1)/G · Σ(θ_(i) − θ̄)². Everything
# data-sized is exact: fold sums are BIGINT cents via one keyed
# aggregate, and each leave-one-out mean is CAST(S−s_i AS DOUBLE) /
# (N−n_i) — an exact-integer numerator. The two cross-fold reductions
# (Σθ and the squared deviations) run as SEQUENTIAL folds over the
# fold-id-sorted 32-element list on both engines (the X391 ordered-fold
# pattern), so the standard error itself hash-matches. Fold assignment
# is the md5 hash60 % G used across the sampling family — partitioning-
# independent by construction.

_JK_G = 32

_JK_HASH = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)

_JACKKNIFE_ORACLE = f"""
WITH x AS (
  SELECT {_JK_HASH} % {_JK_G} AS i,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
g AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n_i, CAST(SUM(c) AS BIGINT) AS s_i
  FROM x GROUP BY i),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(s_i) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS gg,
         list(n_i ORDER BY i) AS ns,
         list(s_i ORDER BY i) AS ss
  FROM g),
th AS (
  SELECT n, s, gg,
         list_transform(generate_series(1, CAST(gg AS INT)),
           j -> CAST(s - ss[j] AS DOUBLE) / (n - ns[j])) AS thetas
  FROM tot),
m AS (
  SELECT n, s, gg, thetas,
         list_aggregate(thetas, 'sum') / gg AS theta_bar
  FROM th)
SELECT gg AS g_folds, n,
       CAST(s AS DOUBLE) / n AS mean_c,
       theta_bar,
       SQRT((gg - 1.0) / gg
            * list_aggregate(
                list_transform(thetas,
                  t -> (t - theta_bar) * (t - theta_bar)), 'sum'))
         AS jackknife_se
FROM m
"""


@query("q_ml_jackknife_se", _JACKKNIFE_ORACLE)
def q_ml_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.sampling_q import hash60

    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        (hash60(F.col("o_orderkey").cast("string")) % _JK_G).alias("i"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    g = x.groupBy("i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("c").cast("bigint").alias("s_i"),
    )
    tot = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("gg"),
        F.sort_array(
            F.collect_list(F.struct("i", "n_i", "s_i"))
        ).alias("folds"),
    )
    thetas = F.transform(
        "folds",
        lambda r: (F.col("s") - r["s_i"]).cast("double")
        / (F.col("n") - r["n_i"]),
    )
    m = tot.withColumn("thetas", thetas).withColumn(
        "theta_bar",
        F.aggregate("thetas", F.lit(0.0), lambda a, t: a + t)
        / F.col("gg"),
    )
    sqdev = F.aggregate(
        F.transform(
            "thetas",
            lambda t: (t - F.col("theta_bar"))
            * (t - F.col("theta_bar")),
        ),
        F.lit(0.0),
        lambda a, t: a + t,
    )
    return m.select(
        F.col("gg").alias("g_folds"),
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean_c"),
        "theta_bar",
        F.sqrt(
            (F.col("gg") - 1.0) / F.col("gg") * sqdev
        ).alias("jackknife_se"),
    )


# -- X394 Brown-Forsythe variance-homogeneity test --------------------------
#
# Levene's test on |x − median_g| (the Brown-Forsythe variant — robust
# to non-normality), the standard companion check before trusting
# ANOVA's equal-variance assumption. Group medians are the LOW order
# statistic at ceil(n/2) — exact integers — computed via the grouped
# global_rank (range partitions + per-(group,pid) offsets; the
# percentile_disc machinery), never a group-keyed window over the fact
# table. The deviations stay integer (|c − med|), their moments
# accumulate in BIGINT/DECIMAL, and the F statistic assembles through
# the X391 flag-sorted sequential fold, so the doubles hash-match.

_BF_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
         l_orderkey, l_linenumber
  FROM lineitem),
ranked AS (
  SELECT flag, c,
         ROW_NUMBER() OVER (PARTITION BY flag
                            ORDER BY c, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM x),
med AS (
  SELECT flag, MAX(CASE WHEN rn = (n + 1) // 2 THEN c END) AS m
  FROM ranked GROUP BY flag),
z AS (
  SELECT x.flag, ABS(x.c - med.m) AS z
  FROM x JOIN med ON med.flag = x.flag),
g AS (
  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS s,
         SUM(CAST(z AS DECIMAL(38,0)) * z) AS q
  FROM z GROUP BY flag),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(CAST(s AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_tot,
         CAST(SUM(q) AS DECIMAL(38,0)) AS q_tot,
         CAST(COUNT(*) AS BIGINT) AS k,
         list_aggregate(
           list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n ORDER BY flag),
           'sum') AS sum_terms
  FROM g)
SELECT k, n_tot,
       sum_terms
         - (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) * (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) / n_tot AS ssb_z,
       (CAST(((q_tot) - (q_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q_tot) % 1073741824 AS DOUBLE)) - sum_terms AS ssw_z,
       (sum_terms
          - (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) * (CAST(((s_tot) - (s_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s_tot) % 1073741824 AS DOUBLE)) / n_tot)
         / (k - 1)
         / (((CAST(((q_tot) - (q_tot) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((q_tot) % 1073741824 AS DOUBLE)) - sum_terms) / (n_tot - k))
         AS bf_stat
FROM tot
"""


@query("q_ml_brown_forsythe", _BF_ORACLE)
def q_ml_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_rank(
        x,
        order=[F.col("c"), F.col("l_orderkey"), F.col("l_linenumber")],
        rank_col="rn",
        n_col="n",
        group=["flag"],
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) DIV 2")
    ).select("flag", F.col("c").alias("m"))
    z = x.join(F.broadcast(med), "flag").select(
        "flag", F.abs(F.col("c") - F.col("m")).alias("z")
    )
    g = z.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("q"),
    )
    term = (
        F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(F.col("s").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s_tot"),
        F.sum("q").cast("decimal(38,0)").alias("q_tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("flag"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, r: acc + r["t"],
        ).alias("sum_terms"),
    )
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ssb = (
        F.col("sum_terms")
        - dec_to_double("s_tot") * dec_to_double("s_tot") / F.col("n_tot")
    )
    ssw = dec_to_double("q_tot") - F.col("sum_terms")
    return tot.select(
        "k",
        "n_tot",
        ssb.alias("ssb_z"),
        ssw.alias("ssw_z"),
        (
            ssb / (F.col("k") - 1) / (ssw / (F.col("n_tot") - F.col("k")))
        ).alias("bf_stat"),
    )


# -- X395 Mahalanobis multivariate outliers ---------------------------------
#
# The principled generalization of the reference's per-column z-clamp
# (R16): distance d² = z'Σ⁻¹z over the 3-feature vector (quantity,
# price cents, discount bp) flags rows that are unusual in COMBINATION
# even when each coordinate is ordinary. Pipeline: one fact-scan
# aggregate of exact integer moments (Σx BIGINT, Σx·x' DECIMAL(38,0) —
# cross-products overflow int64 past ~sf1), covariance and its
# closed-form 3×3 cofactor inverse assembled in doubles with IDENTICAL
# expression trees on both engines, then a stateless per-row d² and a
# fixed d²>7.81 threshold filter (χ²₃ 95th pct; the synthetic
# uniform marginals compress the tail, so the conventional 99.9th-pct
# cut returns nothing here) — no global sort, no
# top-k window; the output set is plan-order independent. Both engines
# produce bit-identical d², so the flagged rows hash-match.

_MAHA_THRESHOLD = 7.81

_MAHA_MOMENTS = """
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
         CAST(SUM(d) AS BIGINT) AS sd,
         SUM(CAST(q AS DECIMAL(38,0)) * q) AS sqq,
         SUM(CAST(q AS DECIMAL(38,0)) * p) AS sqp,
         SUM(CAST(q AS DECIMAL(38,0)) * d) AS sqd,
         SUM(CAST(p AS DECIMAL(38,0)) * p) AS spp,
         SUM(CAST(p AS DECIMAL(38,0)) * d) AS spd,
         SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd
  FROM x
"""

_MAHA_ORACLE = f"""
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS d
  FROM lineitem),
m AS ({_MAHA_MOMENTS}),
c AS (
  SELECT n,
         CAST(sq AS DOUBLE) / n AS mq, CAST(sp AS DOUBLE) / n AS mp,
         CAST(sd AS DOUBLE) / n AS md,
         (CAST(((sqq) - (sqq) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((sqq) % 1073741824 AS DOUBLE)) / n - (CAST(sq AS DOUBLE) / n)
           * (CAST(sq AS DOUBLE) / n) AS a,
         (CAST(((sqp) - (sqp) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((sqp) % 1073741824 AS DOUBLE)) / n - (CAST(sq AS DOUBLE) / n)
           * (CAST(sp AS DOUBLE) / n) AS b,
         (CAST(((sqd) - (sqd) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((sqd) % 1073741824 AS DOUBLE)) / n - (CAST(sq AS DOUBLE) / n)
           * (CAST(sd AS DOUBLE) / n) AS cc,
         (CAST(((spp) - (spp) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((spp) % 1073741824 AS DOUBLE)) / n - (CAST(sp AS DOUBLE) / n)
           * (CAST(sp AS DOUBLE) / n) AS e,
         (CAST(((spd) - (spd) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((spd) % 1073741824 AS DOUBLE)) / n - (CAST(sp AS DOUBLE) / n)
           * (CAST(sd AS DOUBLE) / n) AS f,
         (CAST(((sdd) - (sdd) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((sdd) % 1073741824 AS DOUBLE)) / n - (CAST(sd AS DOUBLE) / n)
           * (CAST(sd AS DOUBLE) / n) AS g
  FROM m),
inv AS (
  SELECT *,
         a * (e * g - f * f) - b * (b * g - f * cc)
           + cc * (b * f - e * cc) AS det,
         (e * g - f * f) AS i11, (cc * f - b * g) AS i12,
         (b * f - cc * e) AS i13, (a * g - cc * cc) AS i22,
         (cc * b - a * f) AS i23, (a * e - b * b) AS i33
  FROM c)
SELECT x.l_orderkey, x.l_linenumber,
       ((x.q - mq) * ((x.q - mq) * i11 + (x.p - mp) * i12
                      + (x.d - md) * i13)
        + (x.p - mp) * ((x.q - mq) * i12 + (x.p - mp) * i22
                        + (x.d - md) * i23)
        + (x.d - md) * ((x.q - mq) * i13 + (x.p - mp) * i23
                        + (x.d - md) * i33)) / det AS d2
FROM x, inv
WHERE ((x.q - mq) * ((x.q - mq) * i11 + (x.p - mp) * i12
                     + (x.d - md) * i13)
       + (x.p - mp) * ((x.q - mq) * i12 + (x.p - mp) * i22
                       + (x.d - md) * i23)
       + (x.d - md) * ((x.q - mq) * i13 + (x.p - mp) * i23
                       + (x.d - md) * i33)) / det > {_MAHA_THRESHOLD}
"""


@query("q_ml_mahalanobis_outliers", _MAHA_ORACLE)
def q_ml_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("d"),
    )
    dec = "decimal(38,0)"
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("p").cast("bigint").alias("sp"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("q").cast(dec) * F.col("q")).alias("sqq"),
        F.sum(F.col("q").cast(dec) * F.col("p")).alias("sqp"),
        F.sum(F.col("q").cast(dec) * F.col("d")).alias("sqd"),
        F.sum(F.col("p").cast(dec) * F.col("p")).alias("spp"),
        F.sum(F.col("p").cast(dec) * F.col("d")).alias("spd"),
        F.sum(F.col("d").cast(dec) * F.col("d")).alias("sdd"),
    )
    from mini_etl_project_spark.queries.helpers import dec_to_double

    mean = lambda s: F.col(s).cast("double") / F.col("n")  # noqa: E731
    dmean = lambda s: dec_to_double(s) / F.col("n")  # noqa: E731
    c = m.select(
        "n",
        mean("sq").alias("mq"),
        mean("sp").alias("mp"),
        mean("sd").alias("md"),
        (dmean("sqq") - mean("sq") * mean("sq")).alias("a"),
        (dmean("sqp") - mean("sq") * mean("sp")).alias("b"),
        (dmean("sqd") - mean("sq") * mean("sd")).alias("cc"),
        (dmean("spp") - mean("sp") * mean("sp")).alias("e"),
        (dmean("spd") - mean("sp") * mean("sd")).alias("f"),
        (dmean("sdd") - mean("sd") * mean("sd")).alias("g"),
    )
    inv = c.select(
        "*",
        (
            F.col("a") * (F.col("e") * F.col("g") - F.col("f") * F.col("f"))
            - F.col("b")
            * (F.col("b") * F.col("g") - F.col("f") * F.col("cc"))
            + F.col("cc")
            * (F.col("b") * F.col("f") - F.col("e") * F.col("cc"))
        ).alias("det"),
        (F.col("e") * F.col("g") - F.col("f") * F.col("f")).alias("i11"),
        (F.col("cc") * F.col("f") - F.col("b") * F.col("g")).alias("i12"),
        (F.col("b") * F.col("f") - F.col("cc") * F.col("e")).alias("i13"),
        (F.col("a") * F.col("g") - F.col("cc") * F.col("cc")).alias("i22"),
        (F.col("cc") * F.col("b") - F.col("a") * F.col("f")).alias("i23"),
        (F.col("a") * F.col("e") - F.col("b") * F.col("b")).alias("i33"),
    )
    zq = F.col("q") - F.col("mq")
    zp = F.col("p") - F.col("mp")
    zd = F.col("d") - F.col("md")
    d2 = (
        zq * (zq * F.col("i11") + zp * F.col("i12") + zd * F.col("i13"))
        + zp * (zq * F.col("i12") + zp * F.col("i22") + zd * F.col("i23"))
        + zd * (zq * F.col("i13") + zp * F.col("i23") + zd * F.col("i33"))
    ) / F.col("det")
    return (
        x.crossJoin(F.broadcast(inv))
        .withColumn("d2", d2)
        .filter(F.col("d2") > _MAHA_THRESHOLD)
        .select("l_orderkey", "l_linenumber", "d2")
    )


# -- X397 time-decay attribution (exact dyadic weights) ----------------------
#
# The classic exponential time-decay credit model (half-life = 1 day)
# without a single libm call: a touch k days before the user's first
# purchase earns weight 2^-k, represented EXACTLY as the integer
# 2^(30-k) (k clamped to 30 — beyond that the credit is zero at x2^30
# scale). Both engines shift the same integers, sums stay in BIGINT, and
# the per-channel credit share lands in ppm. One keyed aggregate for
# first-purchase times, one broadcast join back, one channel aggregate.

_TIMEDECAY_ORACLE = """
WITH conv AS (
  SELECT user_id, MIN(ts) AS conv_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
touch AS (
  SELECT e.event_type AS channel,
         DATEDIFF('day', CAST(e.ts AS DATE), CAST(c.conv_ts AS DATE)) AS k
  FROM events e JOIN conv c ON c.user_id = e.user_id
  WHERE e.event_type <> 'purchase' AND e.ts <= c.conv_ts),
w AS (
  SELECT channel,
         CASE WHEN k > 30 THEN 0
              ELSE (1::BIGINT << (30 - k)) END AS wt
  FROM touch)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(wt) AS BIGINT) AS credit_x2_30,
       CAST(SUM(wt) * 1000000 // (SELECT SUM(wt) FROM w) AS BIGINT)
         AS share_ppm
FROM w GROUP BY channel
"""


@query("q_ml_timedecay_attribution", _TIMEDECAY_ORACLE)
def q_ml_timedecay_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touch = (
        e.filter(F.col("event_type") != "purchase")
        .join(conv, "user_id")
        .filter(F.col("ts") <= F.col("conv_ts"))
        .select(
            F.col("event_type").alias("channel"),
            F.datediff(
                F.col("conv_ts").cast("date"), F.col("ts").cast("date")
            ).alias("k"),
        )
    )
    w = touch.select(
        "channel",
        F.when(F.col("k") > 30, F.lit(0).cast("bigint"))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), 30 - k)"))
        .alias("wt"),
    )
    per = w.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("wt").cast("bigint").alias("credit_x2_30"),
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "channel",
        "n_touches",
        "credit_x2_30",
        F.expr("CAST(credit_x2_30 * 1000000 DIV t AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# -- X401 Fleiss' kappa (multi-rater agreement) -----------------------------
#
# The agreement statistic for MORE than two raters — the one a labeling
# pipeline needs when every item is annotated by a fixed-size panel
# (Cohen's kappa, X283, only handles two). Subjects are orders rated by
# exactly R=3 "raters" (their lineitems), categories are the return
# flags. Everything stays integer until the last two divisions:
# pair-agreements A = sum_i sum_j n_ij(n_ij-1) is a BIGINT, the
# category totals' square sum is DECIMAL(38,0) (c_j^2 overflows int64
# past ~sf500), and P_bar / P_e / kappa assemble through identical
# expression trees (dec_to_double for the >2^53-safe path), so the
# doubles hash-match. Plan: one (subject, category) groupBy with
# map-side combine, a subject-level roll-up, and two bounded follow-up
# aggregates — shuffles on the natural keys only, scale-safe.

_FLEISS_R = 3

_FLEISS_ORACLE = f"""
WITH cells AS (
  SELECT l_orderkey AS sid, l_returnflag AS cat,
         CAST(COUNT(*) AS BIGINT) AS nij
  FROM lineitem GROUP BY 1, 2),
subj AS (
  SELECT sid, SUM(nij) AS r, SUM(nij * (nij - 1)) AS pairs
  FROM cells GROUP BY sid),
kept AS (SELECT sid, pairs FROM subj WHERE r = {_FLEISS_R}),
top AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
         CAST(SUM(pairs) AS BIGINT) AS a_pairs
  FROM kept),
cat AS (
  SELECT CAST(SUM(CAST(cj AS DECIMAL(38,0)) * cj) AS DECIMAL(38,0)) AS c2
  FROM (SELECT SUM(cells.nij) AS cj
        FROM cells JOIN kept ON kept.sid = cells.sid
        GROUP BY cells.cat))
SELECT n_subjects,
       CAST({_FLEISS_R} AS BIGINT) AS n_raters,
       a_pairs,
       CAST(a_pairs AS DOUBLE)
         / CAST(n_subjects * {_FLEISS_R * (_FLEISS_R - 1)} AS DOUBLE)
         AS p_bar,
       {{pe}} AS p_e,
       (CAST(a_pairs AS DOUBLE)
          / CAST(n_subjects * {_FLEISS_R * (_FLEISS_R - 1)} AS DOUBLE)
        - {{pe}}) / (1.0 - {{pe}}) AS kappa
FROM top, cat
""".format(
    pe=(
        "(" + _sql_dec_to_double("c2")
        + f" / (CAST(n_subjects * {_FLEISS_R} AS DOUBLE)"
        f" * CAST(n_subjects * {_FLEISS_R} AS DOUBLE)))"
    )
)


@query("q_ml_fleiss_kappa", _FLEISS_ORACLE)
def q_ml_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    R = _FLEISS_R
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_orderkey").alias("sid"), F.col("l_returnflag").alias("cat")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    subj = cells.groupBy("sid").agg(
        F.sum("nij").alias("r"),
        F.sum(F.col("nij") * (F.col("nij") - 1)).alias("pairs"),
    )
    kept = subj.filter(F.col("r") == R).select("sid", "pairs")
    top = kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
        F.sum("pairs").cast("bigint").alias("a_pairs"),
    )
    cat = (
        cells.join(kept.select("sid"), "sid")
        .groupBy("cat")
        .agg(F.sum("nij").alias("cj"))
        .agg(
            F.sum(F.col("cj").cast("decimal(38,0)") * F.col("cj"))
            .cast("decimal(38,0)")
            .alias("c2")
        )
    )
    nr_d = (F.col("n_subjects") * R).cast("double")
    p_bar = F.col("a_pairs").cast("double") / (
        F.col("n_subjects") * (R * (R - 1))
    ).cast("double")
    p_e = dec_to_double("c2") / (nr_d * nr_d)
    return top.crossJoin(F.broadcast(cat)).select(
        "n_subjects",
        F.lit(R).cast("bigint").alias("n_raters"),
        "a_pairs",
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


# -- X407 Difference-in-differences -----------------------------------------
#
# The workhorse causal estimator when treatment switches on at a known
# time: DiD = (treated post - treated pre) - (control post - control
# pre) cancels both the group fixed effect and the common time trend.
# Cohort = user_id parity, the cut is the midpoint of the observed
# time range ((min+max) DIV 2 on epoch micros — integer, portable),
# outcomes are exact cents sums, and the 2x2 cell means + the DiD
# estimate assemble through identical double trees. Plan: one bounded
# min/max aggregate broadcast onto ONE conditional-sum pass over the
# fact scan — two scans, no shuffle beyond the 1-row aggregates.

_DID_ORACLE = """
WITH b AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
  FROM events),
c AS (
  SELECT
    CAST(COUNT(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) <  b.mid THEN 1 END) AS BIGINT) AS n_t_pre,
    CAST(COUNT(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) >= b.mid THEN 1 END) AS BIGINT) AS n_t_post,
    CAST(COUNT(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) <  b.mid THEN 1 END) AS BIGINT) AS n_c_pre,
    CAST(COUNT(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) >= b.mid THEN 1 END) AS BIGINT) AS n_c_post,
    CAST(SUM(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) <  b.mid THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS s_t_pre,
    CAST(SUM(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) >= b.mid THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS s_t_post,
    CAST(SUM(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) <  b.mid THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS s_c_pre,
    CAST(SUM(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) >= b.mid THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS s_c_post
  FROM events, b)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       CAST(s_t_pre AS DOUBLE) / n_t_pre AS m_t_pre,
       CAST(s_t_post AS DOUBLE) / n_t_post AS m_t_post,
       CAST(s_c_pre AS DOUBLE) / n_c_pre AS m_c_pre,
       CAST(s_c_post AS DOUBLE) / n_c_post AS m_c_post,
       (CAST(s_t_post AS DOUBLE) / n_t_post
          - CAST(s_t_pre AS DOUBLE) / n_t_pre)
         - (CAST(s_c_post AS DOUBLE) / n_c_post
              - CAST(s_c_pre AS DOUBLE) / n_c_pre) AS did_cents
FROM c
"""


@query("q_ml_did", _DID_ORACLE)
def q_ml_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("bigint")
        .alias("mid")
    )
    x = ev.crossJoin(F.broadcast(b)).select(
        (F.col("user_id") % 2 == 1).alias("treat"),
        (F.unix_micros("ts") < F.col("mid")).alias("pre"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    def cell(t: bool, pre: bool, what: str) -> F.Column:
        cond = (F.col("treat") == t) & (F.col("pre") == pre)
        if what == "n":
            return F.count(F.when(cond, 1)).cast("bigint")
        return F.sum(F.when(cond, F.col("cents"))).cast("bigint")

    c = x.agg(
        cell(True, True, "n").alias("n_t_pre"),
        cell(True, False, "n").alias("n_t_post"),
        cell(False, True, "n").alias("n_c_pre"),
        cell(False, False, "n").alias("n_c_post"),
        cell(True, True, "s").alias("s_t_pre"),
        cell(True, False, "s").alias("s_t_post"),
        cell(False, True, "s").alias("s_c_pre"),
        cell(False, False, "s").alias("s_c_post"),
    )
    m = {
        k: F.col(f"s_{k}").cast("double") / F.col(f"n_{k}")
        for k in ("t_pre", "t_post", "c_pre", "c_post")
    }
    return c.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        m["t_pre"].alias("m_t_pre"),
        m["t_post"].alias("m_t_post"),
        m["c_pre"].alias("m_c_pre"),
        m["c_post"].alias("m_c_post"),
        (
            (m["t_post"] - m["t_pre"]) - (m["c_post"] - m["c_pre"])
        ).alias("did_cents"),
    )


# -- X409 Cook's distance / regression influence ----------------------------
#
# Influence diagnostics for the simple OLS fit cents ~ quantity: which
# rows, if deleted, would move the fit the most? Cook's D_i =
# e_i^2 h_i / (p s^2 (1-h_i)^2) with leverage h_i = 1/n +
# (x_i-xbar)^2/Sxx. Everything derives from ONE exact integer moment
# aggregate (BIGINT sums, DECIMAL(38,0) cross moments — the X360/X395
# pattern), broadcast back over the fact scan for a stateless per-row
# score; rows with D > 4/n are flagged. No sort, no window — the
# output set is plan-order independent, and every double (slope,
# intercept, s^2, leverage, residual, D) assembles through identical
# expression trees in both engines, so values hash-match exactly.

_COOK_MOM = """
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM pts
"""


def _cook_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    nd = "CAST(m.n AS DOUBLE)"
    sxd, syd = "CAST(m.sx AS DOUBLE)", "CAST(m.sy AS DOUBLE)"
    sxx = sql_dec_to_double("m.sxx")
    sxy = sql_dec_to_double("m.sxy")
    syy = sql_dec_to_double("m.syy")
    sxx_c = f"({sxx} - {sxd} * {sxd} / {nd})"
    sxy_c = f"({sxy} - {sxd} * {syd} / {nd})"
    syy_c = f"({syy} - {syd} * {syd} / {nd})"
    b = f"({sxy_c} / {sxx_c})"
    a = f"({syd} / {nd} - {b} * {sxd} / {nd})"
    s2 = f"(({syy_c} - {b} * {sxy_c}) / ({nd} - 2.0))"
    h = (
        f"(1.0 / {nd} + (CAST(p.x AS DOUBLE) - {sxd} / {nd})"
        f" * (CAST(p.x AS DOUBLE) - {sxd} / {nd}) / {sxx_c})"
    )
    e = f"(CAST(p.y AS DOUBLE) - {a} - {b} * CAST(p.x AS DOUBLE))"
    d = f"({e} * {e} * {h} / (2.0 * {s2} * (1.0 - {h}) * (1.0 - {h})))"
    return f"""
WITH pts AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
m AS ({_COOK_MOM})
SELECT p.l_orderkey, p.l_linenumber,
       {h} AS leverage, {e} AS residual_cents, {d} AS cook_d
FROM pts p, m
WHERE {d} > 4.0 / CAST(m.n AS DOUBLE)
"""


_COOK_ORACLE = _cook_oracle()


@query("q_ml_cooks_distance", _COOK_ORACLE)
def q_ml_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    # Fold every data-independent scalar (slope, intercept, s2, xbar,
    # 1/n, threshold) on the 1-row moments side BEFORE the broadcast:
    # the per-row expression shrinks from a ~100-node tree (recomputed
    # for filter AND projection) to a handful of ops — 7.7x -> ~1x at
    # the 10x sweep. Same operations in the same order, so every
    # double is bit-identical to the unfactored form.
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxx_c = dec_to_double("sxx") - sxd * sxd / nd
    sxy_c = dec_to_double("sxy") - sxd * syd / nd
    syy_c = dec_to_double("syy") - syd * syd / nd
    b = sxy_c / sxx_c
    a = syd / nd - b * sxd / nd
    s2 = (syy_c - b * sxy_c) / (nd - F.lit(2.0))
    scalars = m.select(
        (F.lit(1.0) / nd).alias("inv_n"),
        (sxd / nd).alias("xbar"),
        sxx_c.alias("sxx_c"),
        b.alias("b"),
        a.alias("a"),
        s2.alias("s2"),
        (F.lit(4.0) / nd).alias("thr"),
    )
    j = pts.crossJoin(F.broadcast(scalars))
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    h = (
        F.col("inv_n")
        + (xd - F.col("xbar")) * (xd - F.col("xbar")) / F.col("sxx_c")
    )
    e = yd - F.col("a") - F.col("b") * xd
    d = (
        e * e * h
        / (
            F.lit(2.0)
            * F.col("s2")
            * (F.lit(1.0) - h)
            * (F.lit(1.0) - h)
        )
    )
    scored = j.select(
        "l_orderkey",
        "l_linenumber",
        h.alias("leverage"),
        e.alias("residual_cents"),
        d.alias("cook_d"),
        "thr",
    )
    return scored.filter(F.col("cook_d") > F.col("thr")).drop("thr")


# -- X413 Position-based (U-shaped) attribution -----------------------------
#
# The third classic multi-touch credit model alongside Shapley (X390)
# and time-decay (X397): 40 % to the first touch, 40 % to the last,
# 20 % split across the middle — the "position-based / U-shaped" rule
# every marketing stack ships. Credits stay EXACT integers in ppm:
# the middle split uses integer division with the remainder assigned
# to the earliest middle touch (a deterministic rule both engines
# apply identically), so per-journey credit sums to exactly 1e6 and
# the per-channel roll-up is pure BIGINT. Touch ordering is the keyed
# (user) window over (ts, event_id) — no unpartitioned window.

_POS_ORACLE = """
WITH conv AS (
  SELECT user_id, MIN(ts) AS conv_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
touch AS (
  SELECT e.user_id, e.event_type AS channel,
         ROW_NUMBER() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS pos,
         COUNT(*) OVER (PARTITION BY e.user_id) AS k
  FROM events e JOIN conv c ON c.user_id = e.user_id
  WHERE e.event_type <> 'purchase' AND e.ts <= c.conv_ts),
credit AS (
  SELECT channel,
         CASE
           WHEN k = 1 THEN 1000000
           WHEN k = 2 THEN 500000
           WHEN pos = 1 OR pos = k THEN 400000
           WHEN pos = 2 THEN 200000 // (k - 2) + 200000 % (k - 2)
           ELSE 200000 // (k - 2)
         END AS ppm
  FROM touch)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(ppm) AS BIGINT) AS credit_ppm_sum,
       CAST(SUM(ppm) * 1000000 // (SELECT SUM(ppm) FROM credit)
            AS BIGINT) AS share_ppm
FROM credit GROUP BY channel
"""


@query("q_ml_position_attribution", _POS_ORACLE)
def q_ml_position_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touch = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("ts") <= F.col("conv_ts"))
        )
        .select("user_id", F.col("event_type").alias("channel"), "ts",
                "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id")
    pos = touch.withColumn("pos", F.row_number().over(w)).withColumn(
        "k", F.count(F.lit(1)).over(wk)
    )
    ppm = (
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")),
            F.lit(400000),
        )
        .when(
            F.col("pos") == 2,
            F.expr("200000 DIV (k - 2) + 200000 % (k - 2)"),
        )
        .otherwise(F.expr("200000 DIV (k - 2)"))
    )
    credit = pos.select("channel", ppm.alias("ppm"))
    tot = credit.agg(F.sum("ppm").cast("bigint").alias("t"))
    return (
        credit.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("ppm").cast("bigint").alias("credit_ppm_sum"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_touches",
            "credit_ppm_sum",
            F.expr(
                "CAST(credit_ppm_sum * 1000000 DIV t AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


# -- X415 Simplified silhouette (clustering quality) ------------------------
#
# The standard "are these clusters real" score, in the simplified
# (centroid-distance) form that scales: a(i) = distance to the own
# centroid, b(i) = distance to the nearest OTHER centroid, s(i) =
# (b-a)/max(a,b). Full silhouette needs all-pairs point distances —
# O(n^2) and dead at 100 TB; the simplified form is one broadcast
# k-centroid scan, and empirically ranks clusterings the same way.
# Distances are the k-means operator's exact int64 micro-unit
# squared distances, s collapses to the integer ((b-a)*1e6) DIV b
# (b >= a always, so max = b), and the per-cluster mean is an exact
# integer DIV — no float accumulation anywhere. The oracle replays
# the full Lloyd fixed point (the X58 machinery) plus the
# second-nearest computation.

def _silhouette_oracle() -> str:
    parts = [
        f"""
WITH pts AS (
  SELECT vec_id AS id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * 1000 AS vmic
  FROM embeddings, generate_series(1, {_DIM}) g(i)),
c0 AS (
  SELECT CAST(id AS INT) AS cid, i, vmic AS c FROM pts WHERE id < {_K})"""
    ]
    prev = "c0"
    for it in range(1, _ITERS + 1):
        parts.append("," + _assign_sql("pts", prev, str(it)))
        parts.append("," + _update_sql("pts", f"a{it}", prev, str(it)))
        prev = f"c{it}"
    final = _ITERS + 1
    parts.append("," + _assign_sql("pts", prev, str(final)))
    parts.append(
        f""",
b AS (
  SELECT d.id, MIN(d.dist) AS b
  FROM d{final} d JOIN a{final} a
    ON a.id = d.id AND d.cid <> a.cid
  GROUP BY d.id),
s AS (
  SELECT a.cid, a.dist AS a, b.b,
         CASE WHEN b.b = 0 THEN 0
              ELSE ((b.b - a.dist) * 1000000) // b.b END AS s_ppm
  FROM a{final} a JOIN b ON b.id = a.id)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_s_ppm,
       CAST(MIN(s_ppm) AS BIGINT) AS min_s_ppm,
       CAST(MAX(s_ppm) AS BIGINT) AS max_s_ppm
FROM s GROUP BY cid"""
    )
    return "".join(parts)


@query("q_ml_silhouette", _silhouette_oracle())
def q_ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.kmeans import (
        _sq_dist,
        lloyd_fixed_point,
        quantize_points,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assign, cents = lloyd_fixed_point(
        emb, "vec_id", "embedding", k=_K, iters=_ITERS
    )
    pts = quantize_points(emb, "vec_id", "embedding")
    scored = pts.crossJoin(F.broadcast(cents)).select(
        "id", "cid", _sq_dist(F.col("varr"), F.col("carr")).alias("dist")
    )
    own = assign.select("id", F.col("cid").alias("own_cid"),
                        F.col("dist").alias("a"))
    b = (
        scored.join(own, "id")
        .filter(F.col("cid") != F.col("own_cid"))
        .groupBy("id")
        .agg(F.min("dist").alias("b"))
    )
    s = own.join(b, "id").select(
        F.col("own_cid").alias("cid"),
        F.when(F.col("b") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr("((b - a) * 1000000) DIV b")
        )
        .alias("s_ppm"),
    )
    return s.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.expr("CAST(SUM(s_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "mean_s_ppm"
        ),
        F.min("s_ppm").cast("bigint").alias("min_s_ppm"),
        F.max("s_ppm").cast("bigint").alias("max_s_ppm"),
    )


# -- X416 Double ML (cross-fit partially linear model) ----------------------
#
# The modern causal workhorse: estimate the effect of treatment d
# (discount basis points) on outcome y (price cents) controlling for
# x (quantity) by partialling BOTH out with nuisance fits trained on
# the OTHER folds (cross-fitting kills the own-fit bias). Everything
# reduces to ONE exact integer/decimal moment pass: per-fold (md5
# hash % 4) sums n,Sx,Sy,Sd,Sxx,Sxy,Sxd,Sdd,Syd; leave-fold-out OLS
# coefficients come from (total - fold) moments (the X392 jackknife
# trick), and the residual cross products expand algebraically into
# the SAME fold moments — no second scan, no per-row residual
# materialization. Numerator/denominator accumulate over the 4-row
# fold table in fold order; every double assembles through identical
# expression trees, so theta hash-matches.

_DML_K = 4


def _dml_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    mom = """
WITH x AS (
  SELECT CAST(('0x' || substr(md5('dml:' || CAST(l_orderkey AS VARCHAR)
           || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)
           % {k} AS fold,
         CAST(ROUND(l_quantity) AS BIGINT) AS xv,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yv,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS dv
  FROM lineitem),
m AS (
  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xv) AS BIGINT) AS sx, CAST(SUM(yv) AS BIGINT) AS sy,
         CAST(SUM(dv) AS BIGINT) AS sd,
         CAST(SUM(CAST(xv AS DECIMAL(38,0)) * xv) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(xv AS DECIMAL(38,0)) * yv) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(xv AS DECIMAL(38,0)) * dv) AS DECIMAL(38,0)) AS sxd,
         CAST(SUM(CAST(dv AS DECIMAL(38,0)) * dv) AS DECIMAL(38,0)) AS sdd,
         CAST(SUM(CAST(yv AS DECIMAL(38,0)) * dv) AS DECIMAL(38,0)) AS syd
  FROM x GROUP BY fold),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
         CAST(SUM(sy) AS BIGINT) AS sy, CAST(SUM(sd) AS BIGINT) AS sd,
         CAST(SUM(sxx) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(sxy) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(sxd) AS DECIMAL(38,0)) AS sxd,
         CAST(SUM(sdd) AS DECIMAL(38,0)) AS sdd,
         CAST(SUM(syd) AS DECIMAL(38,0)) AS syd
  FROM m)""".format(k=_DML_K)
    # leave-fold-out scalars (doubles; primes = total - fold)
    np = "(CAST(t.n AS DOUBLE) - CAST(m.n AS DOUBLE))"
    sxp = "(CAST(t.sx AS DOUBLE) - CAST(m.sx AS DOUBLE))"
    syp = "(CAST(t.sy AS DOUBLE) - CAST(m.sy AS DOUBLE))"
    sdp = "(CAST(t.sd AS DOUBLE) - CAST(m.sd AS DOUBLE))"
    sxxp = f"(({dd('t.sxx')}) - ({dd('m.sxx')}))"
    sxyp = f"(({dd('t.sxy')}) - ({dd('m.sxy')}))"
    sxdp = f"(({dd('t.sxd')}) - ({dd('m.sxd')}))"
    den_x = f"({np} * {sxxp} - {sxp} * {sxp})"
    by = f"(({np} * {sxyp} - {sxp} * {syp}) / {den_x})"
    bd = f"(({np} * {sxdp} - {sxp} * {sdp}) / {den_x})"
    ay = f"(({syp} - {by} * {sxp}) / {np})"
    ad = f"(({sdp} - {bd} * {sxp}) / {np})"
    nf = "CAST(m.n AS DOUBLE)"
    sxf, syf, sdf = (
        "CAST(m.sx AS DOUBLE)",
        "CAST(m.sy AS DOUBLE)",
        "CAST(m.sd AS DOUBLE)",
    )
    sxxf, sxyf, sxdf = dd("m.sxx"), dd("m.sxy"), dd("m.sxd")
    sddf, sydf = dd("m.sdd"), dd("m.syd")
    num_k = (
        f"({sydf} - {ad} * {syf} - {bd} * {sxyf} - {ay} * {sdf}"
        f" + {nf} * {ay} * {ad} + {ay} * {bd} * {sxf}"
        f" - {by} * {sxdf} + {by} * {ad} * {sxf}"
        f" + {by} * {bd} * {sxxf})"
    )
    den_k = (
        f"({sddf} + {nf} * {ad} * {ad} + {bd} * {bd} * {sxxf}"
        f" - 2.0 * {ad} * {sdf} - 2.0 * {bd} * {sxdf}"
        f" + 2.0 * {ad} * {bd} * {sxf})"
    )
    return f"""{mom},
folds AS (
  SELECT m.fold, m.n AS n_fold,
         {by} AS by_k, {bd} AS bd_k,
         {num_k} AS num_k, {den_k} AS den_k
  FROM m, t),
acc AS (
  SELECT list_aggregate(list(num_k ORDER BY fold), 'sum') AS num,
         list_aggregate(list(den_k ORDER BY fold), 'sum') AS den
  FROM folds)
SELECT f.fold, f.n_fold, f.by_k, f.bd_k, f.num_k, f.den_k,
       acc.num / acc.den AS theta
FROM folds f, acc
"""


@query("q_ml_double_ml", _dml_oracle())
def q_ml_double_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double
    from mini_etl_project_spark.queries.sampling_q import hash60

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat(
        F.lit("dml:"),
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    x = li.select(
        (hash60(key) % _DML_K).alias("fold"),
        F.round("l_quantity").cast("bigint").alias("xv"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("yv"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("dv"),
    )

    def moments(g):
        return g.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xv").cast("bigint").alias("sx"),
            F.sum("yv").cast("bigint").alias("sy"),
            F.sum("dv").cast("bigint").alias("sd"),
            *[
                F.sum(F.col(a).cast("decimal(38,0)") * F.col(b))
                .cast("decimal(38,0)")
                .alias(nm)
                for a, b, nm in (
                    ("xv", "xv", "sxx"),
                    ("xv", "yv", "sxy"),
                    ("xv", "dv", "sxd"),
                    ("dv", "dv", "sdd"),
                    ("yv", "dv", "syd"),
                )
            ],
        )

    m = moments(x.groupBy("fold"))
    t = m.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").cast("bigint").alias("tsx"),
        F.sum("sy").cast("bigint").alias("tsy"),
        F.sum("sd").cast("bigint").alias("tsd"),
        F.sum("sxx").cast("decimal(38,0)").alias("tsxx"),
        F.sum("sxy").cast("decimal(38,0)").alias("tsxy"),
        F.sum("sxd").cast("decimal(38,0)").alias("tsxd"),
        F.sum("sdd").cast("decimal(38,0)").alias("tsdd"),
        F.sum("syd").cast("decimal(38,0)").alias("tsyd"),
    )
    j = m.crossJoin(F.broadcast(t))
    np = F.col("tn").cast("double") - F.col("n").cast("double")
    sxp = F.col("tsx").cast("double") - F.col("sx").cast("double")
    syp = F.col("tsy").cast("double") - F.col("sy").cast("double")
    sdp = F.col("tsd").cast("double") - F.col("sd").cast("double")
    sxxp = dec_to_double("tsxx") - dec_to_double("sxx")
    sxyp = dec_to_double("tsxy") - dec_to_double("sxy")
    sxdp = dec_to_double("tsxd") - dec_to_double("sxd")
    den_x = np * sxxp - sxp * sxp
    by = (np * sxyp - sxp * syp) / den_x
    bd = (np * sxdp - sxp * sdp) / den_x
    ay = (syp - by * sxp) / np
    ad = (sdp - bd * sxp) / np
    nf = F.col("n").cast("double")
    sxf = F.col("sx").cast("double")
    syf = F.col("sy").cast("double")
    sdf = F.col("sd").cast("double")
    sxxf, sxyf, sxdf = (
        dec_to_double("sxx"),
        dec_to_double("sxy"),
        dec_to_double("sxd"),
    )
    sddf, sydf = dec_to_double("sdd"), dec_to_double("syd")
    num_k = (
        sydf - ad * syf - bd * sxyf - ay * sdf
        + nf * ay * ad + ay * bd * sxf
        - by * sxdf + by * ad * sxf
        + by * bd * sxxf
    )
    den_k = (
        sddf + nf * ad * ad + bd * bd * sxxf
        - F.lit(2.0) * ad * sdf - F.lit(2.0) * bd * sxdf
        + F.lit(2.0) * ad * bd * sxf
    )
    folds = j.select(
        "fold",
        F.col("n").alias("n_fold"),
        by.alias("by_k"),
        bd.alias("bd_k"),
        num_k.alias("num_k"),
        den_k.alias("den_k"),
    )
    acc = folds.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("fold", F.col("num_k").alias("v")))
            ),
            F.lit(0.0),
            lambda a, r: a + r["v"],
        ).alias("num"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("fold", F.col("den_k").alias("v")))
            ),
            F.lit(0.0),
            lambda a, r: a + r["v"],
        ).alias("den"),
    )
    return folds.crossJoin(F.broadcast(acc)).select(
        "fold",
        "n_fold",
        "by_k",
        "bd_k",
        "num_k",
        "den_k",
        (F.col("num") / F.col("den")).alias("theta"),
    )


# -- X417 Quantile treatment effect -----------------------------------------
#
# Average effects (X289 ATE, X374 CUPED, X407 DiD) hide distributional
# shifts; the QTE compares treated-vs-control at each quantile of the
# OUTCOME distribution — the estimator regulators ask for when a
# treatment helps the median but hurts the tail. Treatment = deep
# discount (>= 6 %), outcome = price cents, quantiles = discrete
# p25/p50/p75 via the grouped global_rank (the percentile_disc
# machinery: range partitions + bounded offsets, NEVER a 2-partition
# fact sort), selection rule rn = ceil(p*n) identical in both
# engines. Integer outputs end to end.

_QTE_ORACLE = """
WITH x AS (
  SELECT CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS treated,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem),
ranked AS (
  SELECT treated, cents,
         ROW_NUMBER() OVER (PARTITION BY treated
                            ORDER BY cents, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY treated) AS n
  FROM x),
q AS (
  SELECT treated, CAST(MIN(n) AS BIGINT) AS n,
         MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                  THEN cents END) AS p25,
         MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                  THEN cents END) AS p50,
         MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
                  THEN cents END) AS p75
  FROM ranked GROUP BY treated)
SELECT t.n AS n_treated, c.n AS n_control,
       CAST(t.p25 AS BIGINT) AS p25_treated,
       CAST(c.p25 AS BIGINT) AS p25_control,
       CAST(t.p25 - c.p25 AS BIGINT) AS qte_p25,
       CAST(t.p50 - c.p50 AS BIGINT) AS qte_p50,
       CAST(t.p75 - c.p75 AS BIGINT) AS qte_p75
FROM (SELECT * FROM q WHERE treated = 1) t,
     (SELECT * FROM q WHERE treated = 0) c
"""


@query("q_ml_qte", _QTE_ORACLE)
def q_ml_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.when(F.col("l_discount") >= 0.06, 1).otherwise(0).alias(
            "treated"
        ),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_rank(
        x,
        order=[F.col("cents"), F.col("l_orderkey"), F.col("l_linenumber")],
        rank_col="rn",
        n_col="n",
        group=["treated"],
    )

    def pick(p: float, alias: str) -> F.Column:
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias(alias)

    q = ranked.groupBy("treated").agg(
        F.min("n").cast("bigint").alias("n"),
        pick(0.25, "p25"),
        pick(0.5, "p50"),
        pick(0.75, "p75"),
    )
    t = q.filter(F.col("treated") == 1).select(
        F.col("n").alias("n_treated"),
        F.col("p25").alias("tp25"),
        F.col("p50").alias("tp50"),
        F.col("p75").alias("tp75"),
    )
    c = q.filter(F.col("treated") == 0).select(
        F.col("n").alias("n_control"),
        F.col("p25").alias("cp25"),
        F.col("p50").alias("cp50"),
        F.col("p75").alias("cp75"),
    )
    return t.crossJoin(F.broadcast(c)).select(
        "n_treated",
        "n_control",
        F.col("tp25").cast("bigint").alias("p25_treated"),
        F.col("cp25").cast("bigint").alias("p25_control"),
        (F.col("tp25") - F.col("cp25")).cast("bigint").alias("qte_p25"),
        (F.col("tp50") - F.col("cp50")).cast("bigint").alias("qte_p50"),
        (F.col("tp75") - F.col("cp75")).cast("bigint").alias("qte_p75"),
    )


# -- X419 Instrumental-variable (Wald) estimator ----------------------------
#
# When the treatment is endogenous (discount levels correlate with
# unobserved deal quality), regressions lie; the IV estimator rescues
# identification from an exogenous instrument. With a binary
# instrument (a deterministic hash of the part key — exogenous to the
# order by construction) the 2SLS collapses to the Wald ratio:
# theta = (E[y|z=1] - E[y|z=0]) / (E[d|z=1] - E[d|z=0]).
# One conditional-sum pass produces the four exact integer cell sums;
# the first stage (instrument-treatment covariance) is emitted too so
# weak-instrument screening rides along. Identical double trees.

_IV_ORACLE = """
WITH x AS (
  SELECT CAST(('0x' || substr(md5('iv:' || CAST(l_partkey AS VARCHAR)),
               1, 15)) AS BIGINT) % 2 AS z,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS d
  FROM lineitem),
c AS (
  SELECT
    CAST(COUNT(CASE WHEN z = 1 THEN 1 END) AS BIGINT) AS n1,
    CAST(COUNT(CASE WHEN z = 0 THEN 1 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN z = 1 THEN y END) AS BIGINT) AS sy1,
    CAST(SUM(CASE WHEN z = 0 THEN y END) AS BIGINT) AS sy0,
    CAST(SUM(CASE WHEN z = 1 THEN d END) AS BIGINT) AS sd1,
    CAST(SUM(CASE WHEN z = 0 THEN d END) AS BIGINT) AS sd0
  FROM x)
SELECT n1, n0,
       CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0 AS itt_y,
       CAST(sd1 AS DOUBLE) / n1 - CAST(sd0 AS DOUBLE) / n0
         AS first_stage_d,
       (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
         / (CAST(sd1 AS DOUBLE) / n1 - CAST(sd0 AS DOUBLE) / n0)
         AS theta_iv
FROM c
"""


@query("q_ml_iv_wald", _IV_ORACLE)
def q_ml_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.sampling_q import hash60

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        (
            hash60(F.concat(F.lit("iv:"), F.col("l_partkey").cast("string")))
            % 2
        ).alias("z"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("d"),
    )
    c = x.agg(
        F.count(F.when(F.col("z") == 1, 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("z") == 0, 1)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("z") == 1, F.col("y"))).cast("bigint").alias("sy1"),
        F.sum(F.when(F.col("z") == 0, F.col("y"))).cast("bigint").alias("sy0"),
        F.sum(F.when(F.col("z") == 1, F.col("d"))).cast("bigint").alias("sd1"),
        F.sum(F.when(F.col("z") == 0, F.col("d"))).cast("bigint").alias("sd0"),
    )
    itt = (
        F.col("sy1").cast("double") / F.col("n1")
        - F.col("sy0").cast("double") / F.col("n0")
    )
    fs = (
        F.col("sd1").cast("double") / F.col("n1")
        - F.col("sd0").cast("double") / F.col("n0")
    )
    return c.select(
        "n1",
        "n0",
        itt.alias("itt_y"),
        fs.alias("first_stage_d"),
        (itt / fs).alias("theta_iv"),
    )


# -- X420 Regression discontinuity (sharp, local linear) --------------------
#
# The design that turns an arbitrary threshold rule into a natural
# experiment: units just below vs just above the cutoff are
# comparable, so the outcome jump AT the cutoff is the causal effect.
# Running variable = quantity, cutoff c = 25, bandwidth h = 10; a
# separate local-linear OLS on each side (centered u = x - c) gives
# effect = intercept_right - intercept_left. Both fits come from ONE
# conditional-moment pass (exact BIGINT/DECIMAL sums per side — the
# X409/X416 moment pattern), and the slopes/intercepts/effect
# assemble through identical double trees. No sort, no window.

_RDD_C = 25
_RDD_H = 10


def _rdd_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double

    def side(tag: str) -> dict[str, str]:
        return {
            "n": f"CAST(m.n_{tag} AS DOUBLE)",
            "su": f"CAST(m.su_{tag} AS DOUBLE)",
            "sy": f"CAST(m.sy_{tag} AS DOUBLE)",
            "suu": dd(f"m.suu_{tag}"),
            "suy": dd(f"m.suy_{tag}"),
        }

    def fit(s: dict[str, str]) -> tuple[str, str]:
        den = f"({s['n']} * {s['suu']} - {s['su']} * {s['su']})"
        b = f"(({s['n']} * {s['suy']} - {s['su']} * {s['sy']}) / {den})"
        a = f"(({s['sy']} - {b} * {s['su']}) / {s['n']})"
        return a, b

    al, bl = fit(side("l"))
    ar, br = fit(side("r"))
    conds = {
        "l": f"u >= -{_RDD_H} AND u < 0",
        "r": f"u >= 0 AND u <= {_RDD_H}",
    }
    aggs = []
    for tag, cond in conds.items():
        aggs += [
            f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT) AS n_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN u END) AS BIGINT) AS su_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN y END) AS BIGINT) AS sy_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(u AS DECIMAL(38,0)) * u END)"
            f" AS DECIMAL(38,0)) AS suu_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(u AS DECIMAL(38,0)) * y END)"
            f" AS DECIMAL(38,0)) AS suy_{tag}",
        ]
    return f"""
WITH x AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) - {_RDD_C} AS u,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
m AS (SELECT {", ".join(aggs)} FROM x)
SELECT m.n_l, m.n_r,
       {al} AS intercept_left, {bl} AS slope_left,
       {ar} AS intercept_right, {br} AS slope_right,
       ({ar}) - ({al}) AS rdd_effect
FROM m
"""


@query("q_ml_rdd", _rdd_oracle())
def q_ml_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        (F.round("l_quantity").cast("bigint") - _RDD_C).alias("u"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    conds = {
        "l": (F.col("u") >= -_RDD_H) & (F.col("u") < 0),
        "r": (F.col("u") >= 0) & (F.col("u") <= _RDD_H),
    }
    aggs = []
    for tag, cond in conds.items():
        aggs += [
            F.count(F.when(cond, 1)).cast("bigint").alias(f"n_{tag}"),
            F.sum(F.when(cond, F.col("u"))).cast("bigint").alias(f"su_{tag}"),
            F.sum(F.when(cond, F.col("y"))).cast("bigint").alias(f"sy_{tag}"),
            F.sum(F.when(cond, F.col("u").cast("decimal(38,0)") * F.col("u")))
            .cast("decimal(38,0)")
            .alias(f"suu_{tag}"),
            F.sum(F.when(cond, F.col("u").cast("decimal(38,0)") * F.col("y")))
            .cast("decimal(38,0)")
            .alias(f"suy_{tag}"),
        ]
    m = x.agg(*aggs)

    def fit(tag: str) -> tuple[F.Column, F.Column]:
        n = F.col(f"n_{tag}").cast("double")
        su = F.col(f"su_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        suu = dec_to_double(f"suu_{tag}")
        suy = dec_to_double(f"suy_{tag}")
        den = n * suu - su * su
        b = (n * suy - su * sy) / den
        a = (sy - b * su) / n
        return a, b

    al, bl = fit("l")
    ar, br = fit("r")
    return m.select(
        "n_l",
        "n_r",
        al.alias("intercept_left"),
        bl.alias("slope_left"),
        ar.alias("intercept_right"),
        br.alias("slope_right"),
        (ar - al).alias("rdd_effect"),
    )


# -- X421 Wilcoxon signed-rank test -----------------------------------------
#
# The PAIRED nonparametric test (X323 Mann-Whitney handles unpaired):
# per user the paired difference d = clicks - views, zeros dropped,
# |d| ranked with midranks, W+ = sum of ranks of the positive side.
# The bounded-domain trick from X393: |d| values aggregate to a tiny
# (value, count, pos_count) table, 2x-midranks come from a running
# sum over that BOUNDED table (never a fact-scale window), and the
# normal-approximation z uses the exact tie-corrected variance
# 48*Var = 2n(n+1)(2n+1) - sum(t^3 - t) held in DECIMAL integers
# until one sqrt/division pair with identical trees in both engines.

_WSR_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
           - CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
           AS d
  FROM events GROUP BY user_id),
nz AS (SELECT d, ABS(d) AS ad FROM u WHERE d <> 0),
v AS (
  SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(CASE WHEN d > 0 THEN 1 END) AS BIGINT) AS pos
  FROM nz GROUP BY ad),
r AS (
  SELECT ad, t, pos,
         2 * (SUM(t) OVER (ORDER BY ad) - t) + t + 1 AS midrank2
  FROM v),
s AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(pos * midrank2) AS BIGINT) AS w2,
         CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DECIMAL(38,0))
           AS tie3
  FROM r)
SELECT n, w2,
       CAST(CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie3
            AS DECIMAL(38,0)) AS VARCHAR) AS var48,
       (CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
          / 2.0)
         / (2.0 * sqrt((CAST(((CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie3 AS DECIMAL(38,0))) - (CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie3 AS DECIMAL(38,0))) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie3 AS DECIMAL(38,0))) % 1073741824 AS DOUBLE)) / 48.0))
         AS z_stat
FROM s
"""


@query("q_ml_wilcoxon_signed", _WSR_ORACLE)
def q_ml_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "click", 1)).cast("bigint")
            - F.count(F.when(F.col("event_type") == "view", 1)).cast(
                "bigint"
            )
        ).alias("d")
    )
    nz = u.filter(F.col("d") != 0).select("d", F.abs("d").alias("ad"))
    v = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.count(F.when(F.col("d") > 0, 1)).cast("bigint").alias("pos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    r = v.withColumn(
        "midrank2",
        2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1,
    )
    s = r.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("pos") * F.col("midrank2")).cast("bigint").alias("w2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    var48 = (
        2 * F.col("n").cast("decimal(38,0)")
        * (F.col("n") + 1)
        * (2 * F.col("n") + 1)
        - F.col("tie3")
    ).cast("decimal(38,0)")
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        "w2",
        # VARCHAR transport for DECIMAL(38,0) (pvm_bridge class).
        var48.cast("string").alias("var48"),
        (
            (F.col("w2").cast("double") - nd * (nd + F.lit(1.0)) / F.lit(2.0))
            / (F.lit(2.0) * F.sqrt(dec_to_double(var48) / F.lit(48.0)))
        ).alias("z_stat"),
    )


# -- X422 Friedman test (k related samples) ---------------------------------
#
# The blocked nonparametric ANOVA: does per-user activity differ
# across the k=5 event types when each user is their own block?
# Within-block midranks over the 5 zero-filled counts come from
# UNROLLED pairwise comparisons (2x-midrank = 2*#less + #equal + 1 —
# all integers, no per-block sort), and the tie-corrected statistic
# uses the general form chi2 = (k-1) * sum_j (R2_j - n(k+1))^2 /
# (sum_{u,j} r2_uj^2 - n k (k+1)^2), which is a ratio of two EXACT
# integers (2x scaling cancels) — one division total. Single
# conditional-count aggregate per user, then one bounded roll-up.

_FRIED_TYPES = ("click", "error", "purchase", "signup", "view")


def _fried_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    k = len(_FRIED_TYPES)
    cnts = ", ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
        f" AS c{i}"
        for i, t in enumerate(_FRIED_TYPES)
    )
    r2 = []
    for j in range(k):
        less = " + ".join(
            f"CASE WHEN c{i} < c{j} THEN 1 ELSE 0 END"
            for i in range(k) if i != j
        )
        eq = " + ".join(
            f"CASE WHEN c{i} = c{j} THEN 1 ELSE 0 END" for i in range(k)
        )
        r2.append(f"(2 * ({less}) + ({eq}) + 1)")
    r2cols = ", ".join(f"{e} AS r2_{j}" for j, e in enumerate(r2))
    sq = " + ".join(
        f"CAST(r2_{j} AS DECIMAL(38,0)) * r2_{j}" for j in range(k)
    )
    rsums = ", ".join(
        f"CAST(SUM(r2_{j}) AS BIGINT) AS rr{j}" for j in range(k)
    )
    num_terms = " + ".join(
        f"CAST((rr{j} - n * {k + 1}) AS DECIMAL(38,0))"
        f" * (rr{j} - n * {k + 1})"
        for j in range(k)
    )
    num = f"CAST({k - 1} * ({num_terms}) AS DECIMAL(38,0))"
    den = (
        f"CAST(sq_sum - CAST(n AS DECIMAL(38,0)) * {k} * {(k + 1) ** 2}"
        f" AS DECIMAL(38,0))"
    )
    return f"""
WITH u AS (
  SELECT user_id, {cnts}
  FROM events GROUP BY user_id),
r AS (
  SELECT user_id, {r2cols}
  FROM u),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {rsums},
         CAST(SUM({sq}) AS DECIMAL(38,0)) AS sq_sum
  FROM r)
SELECT n, {", ".join(f"rr{j}" for j in range(k))},
       {sql_dec_to_double(num)} / {sql_dec_to_double(den)} AS chi2_f
FROM s
"""


@query("q_ml_friedman", _fried_oracle())
def q_ml_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    k = len(_FRIED_TYPES)
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1))
            .cast("bigint")
            .alias(f"c{i}")
            for i, t in enumerate(_FRIED_TYPES)
        ]
    )
    r2cols = []
    for j in range(k):
        less = None
        for i in range(k):
            if i == j:
                continue
            term = F.when(F.col(f"c{i}") < F.col(f"c{j}"), 1).otherwise(0)
            less = term if less is None else less + term
        eq = None
        for i in range(k):
            term = F.when(F.col(f"c{i}") == F.col(f"c{j}"), 1).otherwise(0)
            eq = term if eq is None else eq + term
        r2cols.append((2 * less + eq + 1).alias(f"r2_{j}"))
    r = u.select("user_id", *r2cols)
    sq = None
    for j in range(k):
        term = F.col(f"r2_{j}").cast("decimal(38,0)") * F.col(f"r2_{j}")
        sq = term if sq is None else sq + term
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(f"r2_{j}").cast("bigint").alias(f"rr{j}")
            for j in range(k)
        ],
        F.sum(sq).cast("decimal(38,0)").alias("sq_sum"),
    )
    num = None
    for j in range(k):
        dev = F.col(f"rr{j}") - F.col("n") * (k + 1)
        term = dev.cast("decimal(38,0)") * dev
        num = term if num is None else num + term
    num = ((k - 1) * num).cast("decimal(38,0)")
    den = (
        F.col("sq_sum")
        - F.col("n").cast("decimal(38,0)") * k * (k + 1) ** 2
    ).cast("decimal(38,0)")
    return s.select(
        "n",
        *[f"rr{j}" for j in range(k)],
        (dec_to_double(num) / dec_to_double(den)).alias("chi2_f"),
    )


# -- X424 Empirical-Bayes (beta-binomial) rate shrinkage --------------------
#
# Small suppliers have noisy return rates; the empirical-Bayes fix
# shrinks each rate toward the population prior with strength
# proportional to evidence: shrunk = (k + alpha) / (n + alpha + beta),
# with (alpha, beta) from method-of-moments on the per-supplier rate
# distribution. Portability: raw rates quantize to EXACT integer ppm
# (k*1e6 DIV n), so the cross-supplier mean/variance are exact
# BIGINT/DECIMAL sums (a float rate variance would be partition-order
# dependent); alpha/beta and each shrunk rate assemble through
# identical double trees. Two keyed aggregates + one broadcast —
# every supplier scored statelessly.

_EB_ORACLE = """
WITH s AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
           AS k,
         (1000000 * CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END)
                         AS BIGINT)) // COUNT(*) AS rate_ppm
  FROM lineitem GROUP BY l_suppkey),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ns,
         CAST(SUM(rate_ppm) AS BIGINT) AS sr,
         CAST(SUM(CAST(rate_ppm AS DECIMAL(38,0)) * rate_ppm)
              AS DECIMAL(38,0)) AS srr
  FROM s),
prior AS (
  SELECT ns, sr, srr,
         CAST(sr AS DOUBLE) / ns / 1000000.0 AS m,
         ((CAST(((srr) - (srr) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((srr) % 1073741824 AS DOUBLE))
            / ns / 1000000.0 / 1000000.0)
           - (CAST(sr AS DOUBLE) / ns / 1000000.0)
             * (CAST(sr AS DOUBLE) / ns / 1000000.0) AS v
  FROM g),
ab AS (
  SELECT m, v,
         m * (m * (1.0 - m) / v - 1.0) AS alpha,
         (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
  FROM prior)
SELECT s.l_suppkey, s.n, s.k, s.rate_ppm,
       ab.alpha, ab.beta,
       (CAST(s.k AS DOUBLE) + ab.alpha)
         / (CAST(s.n AS DOUBLE) + ab.alpha + ab.beta) AS shrunk_rate
FROM s, ab
"""


@query("q_ml_eb_shrinkage", _EB_ORACLE)
def q_ml_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("bigint")
        .alias("k"),
    ).withColumn("rate_ppm", F.expr("(1000000 * k) DIV n"))
    g = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("rate_ppm").cast("bigint").alias("sr"),
        F.sum(F.col("rate_ppm").cast("decimal(38,0)") * F.col("rate_ppm"))
        .cast("decimal(38,0)")
        .alias("srr"),
    )
    m = F.col("sr").cast("double") / F.col("ns") / 1000000.0
    v = (
        dec_to_double("srr") / F.col("ns") / 1000000.0 / 1000000.0
    ) - m * m
    kappa = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    ab = g.select(
        (m * kappa).alias("alpha"),
        ((F.lit(1.0) - m) * kappa).alias("beta"),
    )
    return s.crossJoin(F.broadcast(ab)).select(
        "l_suppkey",
        "n",
        "k",
        "rate_ppm",
        "alpha",
        "beta",
        (
            (F.col("k").cast("double") + F.col("alpha"))
            / (F.col("n").cast("double") + F.col("alpha") + F.col("beta"))
        ).alias("shrunk_rate"),
    )


# -- X425 Cochran's Q (binary repeated measures) ----------------------------
#
# Did the error-hit probability change across the three thirds of the
# observation window, measured on the SAME users? Cochran's Q is the
# binary-outcome Friedman: Q = (k-1) * (k*sum C_j^2 - (sum C_j)^2) /
# (k*sum R_u - sum R_u^2) — a ratio of two exact integers here (cell
# indicators come from one conditional pass, window boundaries are
# integer-micros tertiles of the broadcast min/max). One fact scan.

_COQ_ORACLE = """
WITH b AS (
  SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events),
u AS (
  SELECT e.user_id,
         MAX(CASE WHEN (epoch_us(e.ts) - b.lo) * 3 < (b.hi - b.lo)
                  AND e.event_type = 'error' THEN 1 ELSE 0 END) AS w1,
         MAX(CASE WHEN (epoch_us(e.ts) - b.lo) * 3 >= (b.hi - b.lo)
                  AND (epoch_us(e.ts) - b.lo) * 3 < 2 * (b.hi - b.lo)
                  AND e.event_type = 'error' THEN 1 ELSE 0 END) AS w2,
         MAX(CASE WHEN (epoch_us(e.ts) - b.lo) * 3 >= 2 * (b.hi - b.lo)
                  AND e.event_type = 'error' THEN 1 ELSE 0 END) AS w3
  FROM events e, b GROUP BY e.user_id),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(w1) AS BIGINT) AS c1, CAST(SUM(w2) AS BIGINT) AS c2,
         CAST(SUM(w3) AS BIGINT) AS c3,
         CAST(SUM(3 * (w1 + w2 + w3)
                  - (w1 + w2 + w3) * (w1 + w2 + w3)) AS BIGINT) AS den
  FROM u)
SELECT n_users, c1, c2, c3,
       CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
                      - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DOUBLE)
                 / den END AS q_stat
FROM s
"""


@query("q_ml_cochran_q", _COQ_ORACLE)
def q_ml_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    x = ev.crossJoin(F.broadcast(b))
    off = (F.unix_micros("ts") - F.col("lo")) * 3
    span = F.col("hi") - F.col("lo")
    is_err = F.col("event_type") == "error"
    u = x.groupBy("user_id").agg(
        F.max(F.when((off < span) & is_err, 1).otherwise(0)).alias("w1"),
        F.max(
            F.when((off >= span) & (off < 2 * span) & is_err, 1).otherwise(0)
        ).alias("w2"),
        F.max(F.when((off >= 2 * span) & is_err, 1).otherwise(0)).alias(
            "w3"
        ),
    )
    rsum = F.col("w1") + F.col("w2") + F.col("w3")
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("w1").cast("bigint").alias("c1"),
        F.sum("w2").cast("bigint").alias("c2"),
        F.sum("w3").cast("bigint").alias("c3"),
        F.sum(3 * rsum - rsum * rsum).cast("bigint").alias("den"),
    )
    num = (
        3
        * (
            F.col("c1") * F.col("c1")
            + F.col("c2") * F.col("c2")
            + F.col("c3") * F.col("c3")
        )
        - (F.col("c1") + F.col("c2") + F.col("c3"))
        * (F.col("c1") + F.col("c2") + F.col("c3"))
    )
    return s.select(
        "n_users",
        "c1",
        "c2",
        "c3",
        F.when(F.col("den") == 0, F.lit(None).cast("double"))
        .otherwise((2 * num).cast("double") / F.col("den"))
        .alias("q_stat"),
    )


# -- X426 Log-rank test (two-group survival comparison) ---------------------
#
# The standard censored-data companion to Kaplan-Meier (X266): do
# urgent orders ship on a different timetable than the rest? Time =
# order-to-ship days, administratively censored at 30; at each
# distinct event day t the observed group-1 events O1_t compare to
# the hypergeometric expectation E1_t = O_t*N1_t/N_t with variance
# O_t*(N1/N)*(1-N1/N)*(N-O)/(N-1), summed over the BOUNDED (<=31 row)
# day table. Risk sets come from suffix sums over that table (one
# fact aggregate feeds it); the O-E and V accumulations fold in day
# order so the doubles hash-match; the chi-square is one division.

_LOGRANK_CENSOR = 30

_LOGRANK_ORACLE = f"""
WITH x AS (
  SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS grp,
         LEAST(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)),
               {_LOGRANK_CENSOR}) AS t,
         CASE WHEN DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE))
                   <= {_LOGRANK_CENSOR} THEN 1 ELSE 0 END AS ev
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
d AS (
  SELECT t,
         CAST(SUM(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS o1,
         CAST(SUM(ev) AS BIGINT) AS o_tot,
         CAST(SUM(grp) AS BIGINT) AS a1,
         CAST(COUNT(*) AS BIGINT) AS a_tot
  FROM x GROUP BY t),
r AS (
  SELECT t, o1, o_tot,
         SUM(a1) OVER (ORDER BY t DESC) AS n1,
         SUM(a_tot) OVER (ORDER BY t DESC) AS n_tot
  FROM d),
terms AS (
  SELECT t, o1, o_tot, n1, n_tot,
         CAST(o1 AS DOUBLE)
           - CAST(o_tot AS DOUBLE) * n1 / n_tot AS oe,
         CASE WHEN n_tot > 1 THEN
           CAST(o_tot AS DOUBLE) * (CAST(n1 AS DOUBLE) / n_tot)
             * (1.0 - CAST(n1 AS DOUBLE) / n_tot)
             * (CAST(n_tot AS DOUBLE) - o_tot)
             / (CAST(n_tot AS DOUBLE) - 1.0)
           ELSE 0.0 END AS v
  FROM r WHERE o_tot > 0),
s AS (
  SELECT list_aggregate(list(oe ORDER BY t), 'sum') AS oe_sum,
         list_aggregate(list(v ORDER BY t), 'sum') AS v_sum,
         CAST(SUM(o1) AS BIGINT) AS o1_sum,
         CAST(SUM(o_tot) AS BIGINT) AS o_sum
  FROM terms)
SELECT o1_sum, o_sum, oe_sum, v_sum,
       (oe_sum * oe_sum) / v_sum AS logrank_chi2
FROM s
"""


@query("q_ml_logrank", _LOGRANK_ORACLE)
def q_ml_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    x = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("grp"),
        F.least(lag, F.lit(_LOGRANK_CENSOR)).alias("t"),
        F.when(lag <= _LOGRANK_CENSOR, 1).otherwise(0).alias("ev"),
    )
    d = x.groupBy("t").agg(
        F.sum(F.when((F.col("grp") == 1) & (F.col("ev") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("o1"),
        F.sum("ev").cast("bigint").alias("o_tot"),
        F.sum("grp").cast("bigint").alias("a1"),
        F.count(F.lit(1)).cast("bigint").alias("a_tot"),
    )
    # suffix sums over the bounded day table (<= censor+1 rows)
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = d.withColumn("n1", F.sum("a1").over(w)).withColumn(
        "n_tot", F.sum("a_tot").over(w)
    )
    n1d = F.col("n1").cast("double")
    ntd = F.col("n_tot").cast("double")
    otd = F.col("o_tot").cast("double")
    terms = r.filter(F.col("o_tot") > 0).select(
        "t",
        "o1",
        "o_tot",
        (F.col("o1").cast("double") - otd * F.col("n1") / F.col("n_tot")).alias(
            "oe"
        ),
        F.when(
            F.col("n_tot") > 1,
            otd
            * (n1d / F.col("n_tot"))
            * (F.lit(1.0) - n1d / F.col("n_tot"))
            * (ntd - F.col("o_tot"))
            / (ntd - F.lit(1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    s = terms.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("t", F.col("oe").alias("x")))
            ),
            F.lit(0.0),
            lambda a, row: a + row["x"],
        ).alias("oe_sum"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("t", F.col("v").alias("x")))
            ),
            F.lit(0.0),
            lambda a, row: a + row["x"],
        ).alias("v_sum"),
        F.sum("o1").cast("bigint").alias("o1_sum"),
        F.sum("o_tot").cast("bigint").alias("o_sum"),
    )
    return s.select(
        "o1_sum",
        "o_sum",
        "oe_sum",
        "v_sum",
        ((F.col("oe_sum") * F.col("oe_sum")) / F.col("v_sum")).alias(
            "logrank_chi2"
        ),
    )

# -- X428 Restricted mean survival time (RMST) ------------------------------
#
# The trial-world summary when hazards aren't proportional: the area
# under the Kaplan-Meier curve up to tau — "average days retained in
# the first tau days". Built directly on the X266 KM curve (integer
# ppm survival via floor-divided cumulative products, recursive-CTE
# oracle): RMST*1e6 = t1*1e6 + sum_i s_ppm_i * (t_{i+1} - t_i) with
# the tail running to tau — EXACT integer ppm-day arithmetic, the
# only windows sit on the bounded event-time table.

_RMST_TAU = 29

_RMST_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(MIN(CAST(ts AS DATE)) - DATE '2024-01-01' AS BIGINT)
           AS first_day,
         CAST(MIN(CASE WHEN event_type = 'purchase'
                       THEN CAST(ts AS DATE) END) - DATE '2024-01-01'
              AS BIGINT) AS first_purchase
  FROM events GROUP BY user_id),
durations AS (
  SELECT user_id,
         CASE WHEN first_purchase IS NOT NULL
              THEN first_purchase - first_day ELSE 29 - first_day END AS t,
         CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS d
  FROM per_user),
risk AS (
  SELECT t,
         CAST(SUM(d) AS BIGINT) AS d_events,
         CAST((SELECT COUNT(*) FROM durations du WHERE du.t >= r.t)
              AS BIGINT) AS n_at_risk
  FROM durations r GROUP BY t HAVING SUM(d) > 0),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM risk),
curve AS (
  WITH RECURSIVE k(rn, t, n_at_risk, d_events, s_ppm) AS (
    SELECT rn, t, n_at_risk, d_events,
           CAST(1000000 AS BIGINT) * (n_at_risk - d_events) // n_at_risk
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT r.rn, r.t, r.n_at_risk, r.d_events,
           k.s_ppm * (r.n_at_risk - r.d_events) // r.n_at_risk
    FROM k JOIN ranked r ON r.rn = k.rn + 1)
  SELECT * FROM k),
seg AS (
  SELECT t, s_ppm,
         COALESCE(LEAD(t) OVER (ORDER BY t), 29) AS t_next
  FROM curve
  WHERE t < 29),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
         CAST(COALESCE(MIN(t), 29) AS BIGINT) AS t_first,
         CAST(COALESCE(SUM(s_ppm * (t_next - t)), 0) AS BIGINT)
           AS area_after
  FROM seg)
SELECT n_event_times,
       CAST(t_first * 1000000 + area_after AS BIGINT) AS rmst_ppm_days,
       CAST(t_first * 1000000 + area_after AS DOUBLE) / 29000000.0
         AS mean_survival_frac
FROM s
"""


@query("q_ml_rmst", _RMST_ORACLE)
def q_ml_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    km = q_ml_kaplan_meier(spark, sf_dir)
    w = Window.orderBy("t")
    seg = (
        km.filter(F.col("t") < _RMST_TAU)
        .withColumn(
            "t_next", F.coalesce(F.lead("t").over(w), F.lit(_RMST_TAU))
        )
    )
    s = seg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.coalesce(F.min("t"), F.lit(_RMST_TAU))
        .cast("bigint")
        .alias("t_first"),
        F.coalesce(
            F.sum(F.col("surv_ppm") * (F.col("t_next") - F.col("t"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("area_after"),
    )
    rmst = F.col("t_first") * 1000000 + F.col("area_after")
    return s.select(
        "n_event_times",
        rmst.cast("bigint").alias("rmst_ppm_days"),
        (rmst.cast("double") / (1000000.0 * _RMST_TAU)).alias(
            "mean_survival_frac"
        ),
    )


# -- X429 Mantel-Haenszel pooled odds ratio ---------------------------------
#
# The stratified 2x2 classic: does deep discounting associate with
# returns once supplier nation is held fixed? Pooling naively invites
# Simpson's paradox; Mantel-Haenszel weights each stratum's odds
# ratio by b*c/n: OR_MH = sum_k(a_k d_k / n_k) / sum_k(b_k c_k / n_k).
# Cell counts are one conditional pass per (nation) stratum; each
# cross product a*d rides DECIMAL(38,0) (overflows int64 at scale)
# through dec_to_double, the per-stratum ratios fold in nation order
# (the bounded-fold pattern), and the crude OR is emitted beside the
# pooled one so the confounding gap is visible in the output.

_MH_ORACLE = """
WITH x AS (
  SELECT s.s_nationkey AS nk,
         CASE WHEN l.l_discount >= 0.06 THEN 1 ELSE 0 END AS e,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey),
k AS (
  SELECT nk,
         CAST(SUM(e * y) AS BIGINT) AS a,
         CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
         CAST(SUM((1 - e) * y) AS BIGINT) AS c,
         CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM x GROUP BY nk),
f AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(a) AS BIGINT) AS at, CAST(SUM(b) AS BIGINT) AS bt,
         CAST(SUM(c) AS BIGINT) AS ct, CAST(SUM(d) AS BIGINT) AS dt,
         list_aggregate(list(
           (CAST(((CAST(a AS DECIMAL(38,0)) * d) - (CAST(a AS DECIMAL(38,0)) * d) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((CAST(a AS DECIMAL(38,0)) * d) % 1073741824 AS DOUBLE)) / n
           ORDER BY nk), 'sum') AS num,
         list_aggregate(list(
           (CAST(((CAST(b AS DECIMAL(38,0)) * c) - (CAST(b AS DECIMAL(38,0)) * c) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((CAST(b AS DECIMAL(38,0)) * c) % 1073741824 AS DOUBLE)) / n
           ORDER BY nk), 'sum') AS den
  FROM k)
SELECT n_strata, num, den, num / den AS or_mh,
       (CAST(at AS DOUBLE) * dt) / (CAST(bt AS DOUBLE) * ct) AS or_crude
FROM f
"""


@query("q_ml_mantel_haenszel", _MH_ORACLE)
def q_ml_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    e = F.when(F.col("l_discount") >= 0.06, 1).otherwise(0)
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    x = li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey).select(
        F.col("s_nationkey").alias("nk"), e.alias("e"), y.alias("y")
    )
    k = x.groupBy("nk").agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    num_t = dec_to_double(F.col("a").cast("decimal(38,0)") * F.col("d")) / F.col("n")
    den_t = dec_to_double(F.col("b").cast("decimal(38,0)") * F.col("c")) / F.col("n")
    f = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("at"),
        F.sum("b").cast("bigint").alias("bt"),
        F.sum("c").cast("bigint").alias("ct"),
        F.sum("d").cast("bigint").alias("dt"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("nk", num_t.alias("v")))),
            F.lit(0.0),
            lambda a_, r: a_ + r["v"],
        ).alias("num"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("nk", den_t.alias("v")))),
            F.lit(0.0),
            lambda a_, r: a_ + r["v"],
        ).alias("den"),
    )
    return f.select(
        "n_strata",
        "num",
        "den",
        (F.col("num") / F.col("den")).alias("or_mh"),
        (
            (F.col("at").cast("double") * F.col("dt"))
            / (F.col("bt").cast("double") * F.col("ct"))
        ).alias("or_crude"),
    )


# -- X432 Power analysis / required sample size -----------------------------
#
# The planning half of every A/B program: how many observations per
# arm does a two-sample z-test need to detect a delta of x % of the
# mean with alpha = 0.05 and power = 0.80? The normal quantiles are
# LITERAL constants (1.959963984540054, 0.8416212335729143 — fixed
# library numbers, not runtime transcendentals), sigma^2 comes from
# the exact DECIMAL moment pass, and n = 2(z_a + z_b)^2 sigma^2 /
# delta^2 assembles through identical double trees; ceil makes it an
# integer. One scan; one row per candidate effect size (literal
# spine).

_PWR_Z_ALPHA = 1.959963984540054   # Phi^-1(0.975)
_PWR_Z_BETA = 0.8416212335729143   # Phi^-1(0.80)
_PWR_EFFECTS_PCT = (1, 2, 5, 10)


def _power_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = "CAST(m.n AS DOUBLE)"
    mean = f"(CAST(m.s AS DOUBLE) / {n})"
    var = f"(({dd('m.q')}) / {n} - {mean} * {mean})"
    rows = ", ".join(str(p) for p in _PWR_EFFECTS_PCT)
    delta = f"({mean} * e.pct / 100.0)"
    nreq = (
        f"CEIL(2.0 * (({_PWR_Z_ALPHA} + {_PWR_Z_BETA})"
        f" * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})) * {var}"
        f" / ({delta} * {delta}))"
    )
    return f"""
WITH x AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q
  FROM x),
e AS (SELECT UNNEST([{rows}]) AS pct)
SELECT e.pct AS effect_pct, m.n AS n_observed,
       {mean} AS mean_cents, {var} AS var_cents,
       CAST({nreq} AS BIGINT) AS n_required_per_arm,
       CASE WHEN {nreq} <= m.n THEN 1 ELSE 0 END AS detectable_now
FROM m, e
"""


@query("q_ml_power_analysis", _power_oracle())
def q_ml_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.select(c.alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    e = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in _PWR_EFFECTS_PCT])
        ).alias("pct")
    )
    j = m.crossJoin(e)
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = dec_to_double("q") / n - mean * mean
    delta = mean * F.col("pct") / F.lit(100.0)
    z2 = (_PWR_Z_ALPHA + _PWR_Z_BETA) * (_PWR_Z_ALPHA + _PWR_Z_BETA)
    nreq = F.ceil(F.lit(2.0) * F.lit(z2) * var / (delta * delta))
    return j.select(
        F.col("pct").alias("effect_pct"),
        F.col("n").alias("n_observed"),
        mean.alias("mean_cents"),
        var.alias("var_cents"),
        nreq.cast("bigint").alias("n_required_per_arm"),
        F.when(nreq <= F.col("n"), 1).otherwise(0).alias(
            "detectable_now"
        ),
    )


# -- X433 Variance inflation factors ----------------------------------------
#
# The multicollinearity screen before trusting any multi-feature fit:
# VIF_j = 1/(1 - R^2_j) where R^2_j regresses feature j on the other
# two. With three features everything collapses to the pairwise
# correlations (computed from the SAME exact integer moment pass the
# Mahalanobis/X427-cov path uses): R^2_x.yz = (r_xy^2 + r_xz^2 -
# 2 r_xy r_xz r_yz)/(1 - r_yz^2). Identical double trees both sides;
# one scan, three output rows from a literal spine.

def _vif_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = "CAST(m.n AS DOUBLE)"

    def cor(sab: str, sa: str, sb: str, saa: str, sbb: str) -> str:
        cov = f"(({dd('m.' + sab)}) / {n} - (CAST(m.{sa} AS DOUBLE) / {n}) * (CAST(m.{sb} AS DOUBLE) / {n}))"
        va = f"(({dd('m.' + saa)}) / {n} - (CAST(m.{sa} AS DOUBLE) / {n}) * (CAST(m.{sa} AS DOUBLE) / {n}))"
        vb = f"(({dd('m.' + sbb)}) / {n} - (CAST(m.{sb} AS DOUBLE) / {n}) * (CAST(m.{sb} AS DOUBLE) / {n}))"
        return f"({cov} / sqrt({va} * {vb}))"

    rqp = cor("sqp", "sq", "sp", "sqq", "spp")
    rqd = cor("sqd", "sq", "sd", "sqq", "sdd")
    rpd = cor("spd", "sp", "sd", "spp", "sdd")

    def r2(rab: str, rac: str, rbc: str) -> str:
        return (
            f"(({rab} * {rab} + {rac} * {rac}"
            f" - 2.0 * {rab} * {rac} * {rbc}) / (1.0 - {rbc} * {rbc}))"
        )

    r2q = r2(rqp, rqd, rpd)
    r2p = r2(rqp, rpd, rqd)
    r2d = r2(rqd, rpd, rqp)
    return f"""
WITH x AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS d
  FROM lineitem),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
         CAST(SUM(d) AS BIGINT) AS sd,
         SUM(CAST(q AS DECIMAL(38,0)) * q) AS sqq,
         SUM(CAST(q AS DECIMAL(38,0)) * p) AS sqp,
         SUM(CAST(q AS DECIMAL(38,0)) * d) AS sqd,
         SUM(CAST(p AS DECIMAL(38,0)) * p) AS spp,
         SUM(CAST(p AS DECIMAL(38,0)) * d) AS spd,
         SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd
  FROM x)
SELECT 'quantity' AS feature, {r2q} AS r2_on_others,
       1.0 / (1.0 - {r2q}) AS vif FROM m
UNION ALL
SELECT 'price_cents', {r2p}, 1.0 / (1.0 - {r2p}) FROM m
UNION ALL
SELECT 'discount_bp', {r2d}, 1.0 / (1.0 - {r2d}) FROM m
"""


@query("q_ml_vif", _vif_oracle())
def q_ml_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.round("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("d"),
    )
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("p").cast("bigint").alias("sp"),
        F.sum("d").cast("bigint").alias("sd"),
        *[
            F.sum(F.col(a).cast("decimal(38,0)") * F.col(b)).alias(nm)
            for a, b, nm in (
                ("q", "q", "sqq"), ("q", "p", "sqp"), ("q", "d", "sqd"),
                ("p", "p", "spp"), ("p", "d", "spd"), ("d", "d", "sdd"),
            )
        ],
    )
    n = F.col("n").cast("double")

    def mean(s):
        return F.col(s).cast("double") / n

    def cor(sab, sa, sb, saa, sbb):
        cov = dec_to_double(sab) / n - mean(sa) * mean(sb)
        va = dec_to_double(saa) / n - mean(sa) * mean(sa)
        vb = dec_to_double(sbb) / n - mean(sb) * mean(sb)
        return cov / F.sqrt(va * vb)

    rqp = cor("sqp", "sq", "sp", "sqq", "spp")
    rqd = cor("sqd", "sq", "sd", "sqq", "sdd")
    rpd = cor("spd", "sp", "sd", "spp", "sdd")

    def r2(rab, rac, rbc):
        return (
            rab * rab + rac * rac - F.lit(2.0) * rab * rac * rbc
        ) / (F.lit(1.0) - rbc * rbc)

    rows = [
        ("quantity", r2(rqp, rqd, rpd)),
        ("price_cents", r2(rqp, rpd, rqd)),
        ("discount_bp", r2(rqd, rpd, rqp)),
    ]
    out = None
    for name, rr in rows:
        part = m.select(
            F.lit(name).alias("feature"),
            rr.alias("r2_on_others"),
            (F.lit(1.0) / (F.lit(1.0) - rr)).alias("vif"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# -- X434 Partial correlation -----------------------------------------------
#
# Does quantity correlate with price once discount is held fixed?
# First-order partial correlation r_ab.c = (r_ab - r_ac r_bc) /
# sqrt((1-r_ac^2)(1-r_bc^2)) for each pair controlling the third —
# the screen that separates direct association from a shared driver.
# Same single exact-moment pass as X433; identical double trees.

def _pcorr_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = "CAST(m.n AS DOUBLE)"

    def cor(sab, sa, sb, saa, sbb):
        cov = f"(({dd('m.' + sab)}) / {n} - (CAST(m.{sa} AS DOUBLE) / {n}) * (CAST(m.{sb} AS DOUBLE) / {n}))"
        va = f"(({dd('m.' + saa)}) / {n} - (CAST(m.{sa} AS DOUBLE) / {n}) * (CAST(m.{sa} AS DOUBLE) / {n}))"
        vb = f"(({dd('m.' + sbb)}) / {n} - (CAST(m.{sb} AS DOUBLE) / {n}) * (CAST(m.{sb} AS DOUBLE) / {n}))"
        return f"({cov} / sqrt({va} * {vb}))"

    rqp = cor("sqp", "sq", "sp", "sqq", "spp")
    rqd = cor("sqd", "sq", "sd", "sqq", "sdd")
    rpd = cor("spd", "sp", "sd", "spp", "sdd")

    def pc(rab, rac, rbc):
        return (
            f"(({rab} - {rac} * {rbc})"
            f" / sqrt((1.0 - {rac} * {rac}) * (1.0 - {rbc} * {rbc})))"
        )

    return f"""
WITH x AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS d
  FROM lineitem),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
         CAST(SUM(d) AS BIGINT) AS sd,
         SUM(CAST(q AS DECIMAL(38,0)) * q) AS sqq,
         SUM(CAST(q AS DECIMAL(38,0)) * p) AS sqp,
         SUM(CAST(q AS DECIMAL(38,0)) * d) AS sqd,
         SUM(CAST(p AS DECIMAL(38,0)) * p) AS spp,
         SUM(CAST(p AS DECIMAL(38,0)) * d) AS spd,
         SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd
  FROM x)
SELECT 'qty_price_given_disc' AS pair, {rqp} AS r_raw,
       {pc(rqp, rqd, rpd)} AS r_partial FROM m
UNION ALL
SELECT 'qty_disc_given_price', {rqd}, {pc(rqd, rqp, rpd)} FROM m
UNION ALL
SELECT 'price_disc_given_qty', {rpd}, {pc(rpd, rqp, rqd)} FROM m
"""


@query("q_ml_partial_corr", _pcorr_oracle())
def q_ml_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.round("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("d"),
    )
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("p").cast("bigint").alias("sp"),
        F.sum("d").cast("bigint").alias("sd"),
        *[
            F.sum(F.col(a).cast("decimal(38,0)") * F.col(b)).alias(nm)
            for a, b, nm in (
                ("q", "q", "sqq"), ("q", "p", "sqp"), ("q", "d", "sqd"),
                ("p", "p", "spp"), ("p", "d", "spd"), ("d", "d", "sdd"),
            )
        ],
    )
    n = F.col("n").cast("double")

    def mean(s):
        return F.col(s).cast("double") / n

    def cor(sab, sa, sb, saa, sbb):
        cov = dec_to_double(sab) / n - mean(sa) * mean(sb)
        va = dec_to_double(saa) / n - mean(sa) * mean(sa)
        vb = dec_to_double(sbb) / n - mean(sb) * mean(sb)
        return cov / F.sqrt(va * vb)

    rqp = cor("sqp", "sq", "sp", "sqq", "spp")
    rqd = cor("sqd", "sq", "sd", "sqq", "sdd")
    rpd = cor("spd", "sp", "sd", "spp", "sdd")

    def pc(rab, rac, rbc):
        return (rab - rac * rbc) / F.sqrt(
            (F.lit(1.0) - rac * rac) * (F.lit(1.0) - rbc * rbc)
        )

    rows = [
        ("qty_price_given_disc", rqp, pc(rqp, rqd, rpd)),
        ("qty_disc_given_price", rqd, pc(rqd, rqp, rpd)),
        ("price_disc_given_qty", rpd, pc(rpd, rqp, rqd)),
    ]
    out = None
    for name, raw, part_c in rows:
        part = m.select(
            F.lit(name).alias("pair"),
            raw.alias("r_raw"),
            part_c.alias("r_partial"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# -- X436/X437 Structural-break and heteroskedasticity tests ----------------
#
# Completing the regression-diagnostics shelf (X409 Cook, X433 VIF,
# X434 partial corr): the Chow test asks whether cents ~ quantity has
# the SAME coefficients in the early and late shipping periods
# (structural break), and Goldfeld-Quandt asks whether the residual
# variance grows with the regressor (heteroskedasticity, via low-x vs
# high-x fits). Both reduce to side-by-side simple-OLS SSEs, and
# every SSE comes from the ONE conditional-moment pass: SSE = Syy_c -
# b*Sxy_c with primes per segment — exact BIGINT/DECIMAL sums,
# identical double trees, one F ratio each.


def _ols_sse_sql(tag: str) -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    n = f"CAST(m.n_{tag} AS DOUBLE)"
    sx, sy = f"CAST(m.sx_{tag} AS DOUBLE)", f"CAST(m.sy_{tag} AS DOUBLE)"
    sxx, sxy, syy = (
        dd(f"m.sxx_{tag}"), dd(f"m.sxy_{tag}"), dd(f"m.syy_{tag}"),
    )
    sxx_c = f"({sxx} - {sx} * {sx} / {n})"
    sxy_c = f"({sxy} - {sx} * {sy} / {n})"
    syy_c = f"({syy} - {sy} * {sy} / {n})"
    return f"({syy_c} - ({sxy_c} / {sxx_c}) * {sxy_c})"


def _seg_moments_sql(tag: str, cond: str) -> str:
    return ", ".join(
        [
            f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT) AS n_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN x END) AS BIGINT) AS sx_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN y END) AS BIGINT) AS sy_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(x AS DECIMAL(38,0)) * x END) AS DECIMAL(38,0)) AS sxx_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(x AS DECIMAL(38,0)) * y END) AS DECIMAL(38,0)) AS sxy_{tag}",
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(y AS DECIMAL(38,0)) * y END) AS DECIMAL(38,0)) AS syy_{tag}",
        ]
    )


def _chow_oracle() -> str:
    sse_p = _ols_sse_sql("p")
    sse_1 = _ols_sse_sql("a")
    sse_2 = _ols_sse_sql("b")
    n = "CAST(m.n_p AS DOUBLE)"
    f_stat = (
        f"((({sse_p}) - (({sse_1}) + ({sse_2}))) / 2.0)"
        f" / (((({sse_1}) + ({sse_2}))) / ({n} - 4.0))"
    )
    return f"""
WITH b0 AS (
  SELECT (epoch_us(MIN(l_shipdate)) + epoch_us(MAX(l_shipdate))) // 2
           AS mid
  FROM lineitem),
pts AS (
  SELECT CAST(ROUND(l.l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS y,
         CASE WHEN epoch_us(l.l_shipdate) < b0.mid THEN 1 ELSE 0 END
           AS early
  FROM lineitem l, b0),
m AS (
  SELECT {_seg_moments_sql("p", "1=1")},
         {_seg_moments_sql("a", "early = 1")},
         {_seg_moments_sql("b", "early = 0")}
  FROM pts)
SELECT m.n_a, m.n_b,
       {sse_p} AS sse_pooled,
       ({sse_1}) + ({sse_2}) AS sse_split,
       {f_stat} AS chow_f
FROM m
"""


def _gq_oracle() -> str:
    sse_1 = _ols_sse_sql("a")
    sse_2 = _ols_sse_sql("b")
    f_stat = (
        f"(({sse_2}) / (CAST(m.n_b AS DOUBLE) - 2.0))"
        f" / (({sse_1}) / (CAST(m.n_a AS DOUBLE) - 2.0))"
    )
    return f"""
WITH pts AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT {_seg_moments_sql("a", "x <= 17")},
         {_seg_moments_sql("b", "x >= 34")}
  FROM pts)
SELECT m.n_a AS n_low, m.n_b AS n_high,
       ({sse_1}) / (CAST(m.n_a AS DOUBLE) - 2.0) AS mse_low,
       ({sse_2}) / (CAST(m.n_b AS DOUBLE) - 2.0) AS mse_high,
       {f_stat} AS gq_f
FROM m
"""


def _seg_moments_spark(df_cols, tag: str, cond):
    x, y = F.col("x"), F.col("y")
    return [
        F.count(F.when(cond, 1)).cast("bigint").alias(f"n_{tag}"),
        F.sum(F.when(cond, x)).cast("bigint").alias(f"sx_{tag}"),
        F.sum(F.when(cond, y)).cast("bigint").alias(f"sy_{tag}"),
        F.sum(F.when(cond, x.cast("decimal(38,0)") * x))
        .cast("decimal(38,0)")
        .alias(f"sxx_{tag}"),
        F.sum(F.when(cond, x.cast("decimal(38,0)") * y))
        .cast("decimal(38,0)")
        .alias(f"sxy_{tag}"),
        F.sum(F.when(cond, y.cast("decimal(38,0)") * y))
        .cast("decimal(38,0)")
        .alias(f"syy_{tag}"),
    ]


def _ols_sse_spark(tag: str):
    from mini_etl_project_spark.queries.helpers import dec_to_double

    n = F.col(f"n_{tag}").cast("double")
    sx = F.col(f"sx_{tag}").cast("double")
    sy = F.col(f"sy_{tag}").cast("double")
    sxx = dec_to_double(f"sxx_{tag}")
    sxy = dec_to_double(f"sxy_{tag}")
    syy = dec_to_double(f"syy_{tag}")
    sxx_c = sxx - sx * sx / n
    sxy_c = sxy - sx * sy / n
    syy_c = syy - sy * sy / n
    return syy_c - (sxy_c / sxx_c) * sxy_c


@query("q_ml_chow_test", _chow_oracle())
def q_ml_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ship_us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    b0 = li.agg(
        ((F.min(ship_us) + F.max(ship_us)) / F.lit(2))
        .cast("bigint")
        .alias("mid")
    )
    pts = li.crossJoin(F.broadcast(b0)).select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.when(
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            < F.col("mid"),
            1,
        )
        .otherwise(0)
        .alias("early"),
    )
    m = pts.agg(
        *_seg_moments_spark(None, "p", F.lit(True)),
        *_seg_moments_spark(None, "a", F.col("early") == 1),
        *_seg_moments_spark(None, "b", F.col("early") == 0),
    )
    sse_p = _ols_sse_spark("p")
    sse_1 = _ols_sse_spark("a")
    sse_2 = _ols_sse_spark("b")
    n = F.col("n_p").cast("double")
    return m.select(
        "n_a",
        "n_b",
        sse_p.alias("sse_pooled"),
        (sse_1 + sse_2).alias("sse_split"),
        (
            ((sse_p - (sse_1 + sse_2)) / F.lit(2.0))
            / ((sse_1 + sse_2) / (n - F.lit(4.0)))
        ).alias("chow_f"),
    )


@query("q_ml_goldfeld_quandt", _gq_oracle())
def q_ml_goldfeld_quandt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = pts.agg(
        *_seg_moments_spark(None, "a", F.col("x") <= 17),
        *_seg_moments_spark(None, "b", F.col("x") >= 34),
    )
    sse_1 = _ols_sse_spark("a")
    sse_2 = _ols_sse_spark("b")
    mse_low = sse_1 / (F.col("n_a").cast("double") - F.lit(2.0))
    mse_high = sse_2 / (F.col("n_b").cast("double") - F.lit(2.0))
    return m.select(
        F.col("n_a").alias("n_low"),
        F.col("n_b").alias("n_high"),
        mse_low.alias("mse_low"),
        mse_high.alias("mse_high"),
        (mse_high / mse_low).alias("gq_f"),
    )


# -- X441 Cronbach's alpha (internal consistency) ---------------------------
#
# The reliability coefficient for a k-item instrument: do the five
# per-user event-type activity counts move together? alpha =
# k/(k-1) * (1 - sum item variances / variance of the total). Every
# variance comes from exact BIGINT/DECIMAL moments of the per-user
# item matrix (one conditional-count pass + one bounded roll-up);
# population (1/n) variances on both sides keep the trees identical.

_CRONBACH_ITEMS = ("click", "error", "purchase", "signup", "view")


def _cronbach_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    k = len(_CRONBACH_ITEMS)
    cnts = ", ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
        f" AS c{i}"
        for i, t in enumerate(_CRONBACH_ITEMS)
    )
    n = "CAST(s.n AS DOUBLE)"

    def var(i):
        mu = f"(CAST(s.s{i} AS DOUBLE) / {n})"
        return f"(({dd(f's.q{i}')}) / {n} - {mu} * {mu})"

    item_vars = " + ".join(var(i) for i in range(k))
    mu_t = f"(CAST(s.st AS DOUBLE) / {n})"
    var_t = f"(({dd('s.qt')}) / {n} - {mu_t} * {mu_t})"
    moments = ", ".join(
        f"CAST(SUM(c{i}) AS BIGINT) AS s{i}, "
        f"CAST(SUM(CAST(c{i} AS DECIMAL(38,0)) * c{i}) AS DECIMAL(38,0))"
        f" AS q{i}"
        for i in range(k)
    )
    tot = " + ".join(f"c{i}" for i in range(k))
    return f"""
WITH u AS (
  SELECT user_id, {cnts}
  FROM events GROUP BY user_id),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {moments},
         CAST(SUM({tot}) AS BIGINT) AS st,
         CAST(SUM(CAST(({tot}) AS DECIMAL(38,0)) * ({tot}))
              AS DECIMAL(38,0)) AS qt
  FROM u)
SELECT s.n, {item_vars} AS sum_item_vars, {var_t} AS var_total,
       {k}.0 / {k - 1}.0 * (1.0 - ({item_vars}) / ({var_t}))
         AS cronbach_alpha
FROM s
"""


@query("q_ml_cronbach_alpha", _cronbach_oracle())
def q_ml_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    k = len(_CRONBACH_ITEMS)
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1))
            .cast("bigint")
            .alias(f"c{i}")
            for i, t in enumerate(_CRONBACH_ITEMS)
        ]
    )
    tot = None
    for i in range(k):
        tot = F.col(f"c{i}") if tot is None else tot + F.col(f"c{i}")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i in range(k):
        aggs.append(F.sum(f"c{i}").cast("bigint").alias(f"s{i}"))
        aggs.append(
            F.sum(F.col(f"c{i}").cast("decimal(38,0)") * F.col(f"c{i}"))
            .cast("decimal(38,0)")
            .alias(f"q{i}")
        )
    aggs.append(F.sum(tot).cast("bigint").alias("st"))
    aggs.append(
        F.sum(tot.cast("decimal(38,0)") * tot)
        .cast("decimal(38,0)")
        .alias("qt")
    )
    s = u.agg(*aggs)
    n = F.col("n").cast("double")

    def var(sc, qc):
        mu = F.col(sc).cast("double") / n
        return dec_to_double(qc) / n - mu * mu

    item_vars = None
    for i in range(k):
        v = var(f"s{i}", f"q{i}")
        item_vars = v if item_vars is None else item_vars + v
    var_t = var("st", "qt")
    return s.select(
        "n",
        item_vars.alias("sum_item_vars"),
        var_t.alias("var_total"),
        (
            F.lit(float(k) / (k - 1))
            * (F.lit(1.0) - item_vars / var_t)
        ).alias("cronbach_alpha"),
    )


# -- X442 Intraclass correlation ICC(1,1) -----------------------------------
#
# How much of the line-price variation is BETWEEN orders vs within
# them? ICC(1,1) = (MSB - MSW) / (MSB + (k-1) MSW) on the balanced
# k=3-line orders (the X401 Fleiss subjects) — the agreement
# continuum's continuous-outcome member. MSB/MSW derive from the
# X391 ANOVA identity: exact per-order sums feed SSB and SSW in
# DECIMAL, one conditional pass + a bounded roll-up, identical double
# trees for the two mean squares and the ratio.

_ICC_K = 3


def _icc_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    dd = sql_dec_to_double
    k = _ICC_K
    n = "CAST(s.n_grp AS DOUBLE)"
    ssb = (
        f"(({dd('s.sum_g2')}) / {k}.0"
        f" - (CAST(s.st AS DOUBLE) / ({n} * {k}.0))"
        f" * CAST(s.st AS DOUBLE))"
    )
    ssw = f"(({dd('s.qt')}) - ({dd('s.sum_g2')}) / {k}.0)"
    msb = f"({ssb} / ({n} - 1.0))"
    msw = f"({ssw} / ({n} * {k - 1}.0))"
    return f"""
WITH g AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS r,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS gs,
         CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       AS DECIMAL(38,0))
                  * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS gq
  FROM lineitem GROUP BY l_orderkey),
k3 AS (SELECT * FROM g WHERE r = {k}),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_grp,
         CAST(SUM(gs) AS BIGINT) AS st,
         CAST(SUM(gq) AS DECIMAL(38,0)) AS qt,
         CAST(SUM(CAST(gs AS DECIMAL(38,0)) * gs) AS DECIMAL(38,0))
           AS sum_g2
  FROM k3)
SELECT s.n_grp, {msb} AS msb, {msw} AS msw,
       ({msb} - {msw}) / ({msb} + {k - 1}.0 * {msw}) AS icc_1_1
FROM s
"""


@query("q_ml_icc", _icc_oracle())
def q_ml_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    k = _ICC_K
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    g = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("r"),
        F.sum(cents).cast("bigint").alias("gs"),
        F.sum(cents.cast("decimal(38,0)") * cents)
        .cast("decimal(38,0)")
        .alias("gq"),
    )
    k3 = g.filter(F.col("r") == k)
    s = k3.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grp"),
        F.sum("gs").cast("bigint").alias("st"),
        F.sum("gq").cast("decimal(38,0)").alias("qt"),
        F.sum(F.col("gs").cast("decimal(38,0)") * F.col("gs"))
        .cast("decimal(38,0)")
        .alias("sum_g2"),
    )
    n = F.col("n_grp").cast("double")
    ssb = dec_to_double("sum_g2") / float(k) - (
        F.col("st").cast("double") / (n * float(k))
    ) * F.col("st").cast("double")
    ssw = dec_to_double("qt") - dec_to_double("sum_g2") / float(k)
    msb = ssb / (n - F.lit(1.0))
    msw = ssw / (n * float(k - 1))
    return s.select(
        "n_grp",
        msb.alias("msb"),
        msw.alias("msw"),
        ((msb - msw) / (msb + float(k - 1) * msw)).alias("icc_1_1"),
    )


# -- X446 Krippendorff's alpha (nominal) -------------------------------------
#
# The most general annotation-agreement coefficient — unlike Fleiss
# (X401) it needs NO fixed panel size: every order with >= 2 lineitems
# contributes, weighted 1/(m-1). The trick that keeps it portable:
# subjects aggregate to their COMPOSITION vector (nA, nN, nR), a
# bounded table (compositions of m <= ~17 into 3 parts), so the
# observed-disagreement sum folds over that bounded set in
# composition order — the only non-integer arithmetic in the plan.
# D_o = (1/n) sum_u [m(m-1) - sum_c n_c(n_c-1)]/(m-1), D_e =
# (n^2 - sum_c n_c^2)/(n(n-1)), alpha = 1 - D_o/D_e with identical
# double trees; n and the per-category totals stay exact integers.

_KRIPP_ORACLE = """
WITH subj AS (
  SELECT l_orderkey,
         CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT)
           AS na,
         CAST(COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS BIGINT)
           AS nn,
         CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
           AS nr
  FROM lineitem GROUP BY l_orderkey
  HAVING COUNT(*) >= 2),
comp AS (
  SELECT na, nn, nr, na + nn + nr AS m,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM subj GROUP BY na, nn, nr),
tot AS (
  SELECT CAST(SUM(cnt * m) AS BIGINT) AS n,
         CAST(SUM(cnt) AS BIGINT) AS n_subjects,
         CAST(SUM(cnt * na) AS BIGINT) AS ta,
         CAST(SUM(cnt * nn) AS BIGINT) AS tn,
         CAST(SUM(cnt * nr) AS BIGINT) AS tr,
         list_aggregate(list(
           CAST(cnt AS DOUBLE)
             * (CAST(m * (m - 1) - (na * (na - 1) + nn * (nn - 1)
                                    + nr * (nr - 1)) AS DOUBLE)
                / (m - 1))
           ORDER BY na, nn, nr), 'sum') AS do_num
  FROM comp)
SELECT n, n_subjects, ta, tn, tr,
       do_num / n AS d_obs,
       (CAST(n AS DOUBLE) * n
          - (CAST(ta AS DOUBLE) * ta + CAST(tn AS DOUBLE) * tn
             + CAST(tr AS DOUBLE) * tr))
         / (CAST(n AS DOUBLE) * (n - 1)) AS d_exp,
       1.0 - (do_num / n)
             / ((CAST(n AS DOUBLE) * n
                 - (CAST(ta AS DOUBLE) * ta + CAST(tn AS DOUBLE) * tn
                    + CAST(tr AS DOUBLE) * tr))
                / (CAST(n AS DOUBLE) * (n - 1))) AS kripp_alpha
FROM tot
"""


@query("q_ml_krippendorff", _KRIPP_ORACLE)
def q_ml_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    subj = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.when(F.col("l_returnflag") == "A", 1))
            .cast("bigint")
            .alias("na"),
            F.count(F.when(F.col("l_returnflag") == "N", 1))
            .cast("bigint")
            .alias("nn"),
            F.count(F.when(F.col("l_returnflag") == "R", 1))
            .cast("bigint")
            .alias("nr"),
            F.count(F.lit(1)).alias("cnt_all"),
        )
        .filter(F.col("cnt_all") >= 2)
        .drop("cnt_all")
    )
    comp = subj.groupBy("na", "nn", "nr").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).withColumn("m", F.col("na") + F.col("nn") + F.col("nr"))
    offdiag = (
        F.col("m") * (F.col("m") - 1)
        - (
            F.col("na") * (F.col("na") - 1)
            + F.col("nn") * (F.col("nn") - 1)
            + F.col("nr") * (F.col("nr") - 1)
        )
    ).cast("double")
    term = F.col("cnt").cast("double") * (offdiag / (F.col("m") - 1))
    tot = comp.agg(
        F.sum(F.col("cnt") * F.col("m")).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("n_subjects"),
        F.sum(F.col("cnt") * F.col("na")).cast("bigint").alias("ta"),
        F.sum(F.col("cnt") * F.col("nn")).cast("bigint").alias("tn"),
        F.sum(F.col("cnt") * F.col("nr")).cast("bigint").alias("tr"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct("na", "nn", "nr", term.alias("t"))
                )
            ),
            F.lit(0.0),
            lambda a, r: a + r["t"],
        ).alias("do_num"),
    )
    nd = F.col("n").cast("double")
    tad = F.col("ta").cast("double")
    tnd = F.col("tn").cast("double")
    trd = F.col("tr").cast("double")
    d_obs = F.col("do_num") / F.col("n")
    d_exp = (nd * F.col("n") - (tad * F.col("ta") + tnd * F.col("tn")
                                + trd * F.col("tr"))) / (
        nd * (F.col("n") - 1)
    )
    return tot.select(
        "n",
        "n_subjects",
        "ta",
        "tn",
        "tr",
        d_obs.alias("d_obs"),
        d_exp.alias("d_exp"),
        (F.lit(1.0) - d_obs / d_exp).alias("kripp_alpha"),
    )


# -- X447 permutation test (hash-sign randomization) ------------------------
#
# The assumption-free twin of the paired t-test / Wilcoxon stack: per-user
# paired difference d_u = #clicks − #views, observed statistic T = Σ d_u,
# and a null distribution from B sign-flip permutations. Portability: the
# flip for (perm b, user u) derives from md5(b || ':' || user_id) — both
# engines re-create the identical permutation matrix, so every T_b and
# the exceedance count are EXACT BIGINTs (no RNG, no float). Scale: the
# user aggregate is one keyed pass over the facts; the permutation stage
# explodes the BOUNDED per-user table ×B with map-side partial aggregation
# on b — at 100 TB the fact scan dominates and B×users stays linear.

_PERM_B = 200

_PERM_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
           - CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
           AS d
  FROM events GROUP BY user_id),
obs AS (
  SELECT CAST(SUM(d) AS BIGINT) AS t_obs, CAST(COUNT(*) AS BIGINT) AS n
  FROM u),
perms AS (
  SELECT b.b,
         CAST(SUM(CASE WHEN ('0x' || substr(md5(b.b || ':' || u.user_id),
                             1, 1))::INT % 2 = 0
                       THEN u.d ELSE -u.d END) AS BIGINT) AS t_b
  FROM u, unnest(generate_series(1, {_PERM_B})) b(b)
  GROUP BY b.b)
SELECT obs.n, obs.t_obs,
       CAST({_PERM_B} AS BIGINT) AS n_perms,
       CAST(COUNT(CASE WHEN ABS(perms.t_b) >= ABS(obs.t_obs) THEN 1 END)
            AS BIGINT) AS n_exceed,
       CAST(COUNT(CASE WHEN ABS(perms.t_b) >= ABS(obs.t_obs) THEN 1 END)
            * 1000000 // {_PERM_B} AS BIGINT) AS p_ppm
FROM perms, obs
GROUP BY obs.n, obs.t_obs
"""


@query("q_ml_permutation_test", _PERM_ORACLE)
def q_ml_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            (
                F.count(F.when(F.col("event_type") == "click", 1)).cast(
                    "bigint"
                )
                - F.count(F.when(F.col("event_type") == "view", 1)).cast(
                    "bigint"
                )
            ).alias("d")
        )
        # two consumers (obs + the B-way explode) — materialize the
        # bounded per-user table once so the fact scan runs once
        .localCheckpoint(eager=False)
    )
    obs = u.agg(
        F.sum("d").cast("bigint").alias("t_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # hex digit parity of md5(b:user) — same derivation in the oracle
    flip = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("b"), F.col("user_id"))), 1, 1
            ),
            16,
            10,
        ).cast("int")
        % 2
        == 0
    )
    perms = (
        u.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))))
        .groupBy("b")
        .agg(
            F.sum(F.when(flip, F.col("d")).otherwise(-F.col("d")))
            .cast("bigint")
            .alias("t_b")
        )
    )
    return (
        perms.crossJoin(F.broadcast(obs))
        .groupBy("n", "t_obs")
        .agg(
            F.lit(_PERM_B).cast("bigint").alias("n_perms"),
            F.count(F.when(F.abs("t_b") >= F.abs("t_obs"), 1))
            .cast("bigint")
            .alias("n_exceed"),
            F.expr(
                f"CAST(COUNT(CASE WHEN ABS(t_b) >= ABS(t_obs) THEN 1 END)"
                f" * 1000000 DIV {_PERM_B} AS BIGINT)"
            ).alias("p_ppm"),
        )
        .select("n", "t_obs", "n_perms", "n_exceed", "p_ppm")
    )


# -- X448 Jonckheere-Terpstra ordered-alternative trend test -----------------
#
# "Does order value trend with priority?" — the k-sample test whose
# alternative is an ORDERING, not any difference (more powerful than
# Kruskal-Wallis when the direction is hypothesized). Statistic: 2·JT =
# Σ_{a<b} (2·#{x_a < x_b} + #{x_a = x_b}) over all priority pairs a<b.
# Distributed exactness: values live on a BOUNDED grid (order month,
# ≤ ~90 distinct), so the fact scan collapses to a (month × priority)
# count table in one keyed pass, and the pair counting runs over that
# broadcast-size table — never over row pairs. 2·E[JT] = Σ_{a<b} n_a·n_b
# rides along for the direction read-out.

_JT_ORACLE = """
WITH g AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS grp,
         CAST(EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
pairs AS (
  SELECT CAST(SUM(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                       WHEN a.v = b.v THEN a.c * b.c
                       ELSE 0 END) AS BIGINT) AS jt2
  FROM g a JOIN g b ON a.grp < b.grp),
sizes AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g FROM g GROUP BY grp),
e AS (
  SELECT CAST(SUM(a.n_g * b.n_g) AS BIGINT) AS e_jt2,
         CAST((SELECT SUM(n_g) FROM sizes) AS BIGINT) AS n
  FROM sizes a JOIN sizes b ON a.grp < b.grp)
SELECT e.n, pairs.jt2, e.e_jt2,
       CAST(pairs.jt2 - e.e_jt2 AS BIGINT) AS jt2_centered
FROM pairs, e
"""


@query("q_ml_jonckheere", _JT_ORACLE)
def q_ml_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.groupBy(
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("grp"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # bounded month×priority table, three consumers — one fact scan
        .localCheckpoint(eager=False)
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.grp") < F.col("b.grp"))
        .agg(
            F.sum(
                F.when(
                    F.col("a.v") < F.col("b.v"),
                    2 * F.col("a.c") * F.col("b.c"),
                )
                .when(F.col("a.v") == F.col("b.v"), F.col("a.c") * F.col("b.c"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("jt2")
        )
    )
    sizes = g.groupBy("grp").agg(F.sum("c").cast("bigint").alias("n_g"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    tot = sizes.agg(F.sum("n_g").cast("bigint").alias("n"))
    e = (
        sa.join(F.broadcast(sb), F.col("sa.grp") < F.col("sb.grp"))
        .agg(
            F.sum(F.col("sa.n_g") * F.col("sb.n_g"))
            .cast("bigint")
            .alias("e_jt2")
        )
        .crossJoin(F.broadcast(tot))
    )
    return pairs.crossJoin(F.broadcast(e)).select(
        "n",
        "jt2",
        "e_jt2",
        (F.col("jt2") - F.col("e_jt2")).cast("bigint").alias("jt2_centered"),
    )


# -- X449 Page's trend test (ordered blocked alternative) --------------------
#
# Friedman (X422) asks "any difference across the k event types per
# user-block?"; Page's L asks the sharper ordered question "do the
# within-block ranks INCREASE along a hypothesized treatment order?".
# Same unrolled-midrank machinery as X422 (2×midrank = 2·#less + #equal
# + 1 — integers, no per-block sort), then L2 = Σ_j j·R2_j against its
# null mean 2·E[L] = n·k(k+1)²/2... kept as the pair (l2_stat, e_l2)
# of exact BIGINTs. One keyed conditional-count pass + bounded roll-up.

def _page_oracle() -> str:
    k = len(_FRIED_TYPES)
    cnts = ", ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
        f" AS c{i}"
        for i, t in enumerate(_FRIED_TYPES)
    )
    r2 = []
    for j in range(k):
        less = " + ".join(
            f"CASE WHEN c{i} < c{j} THEN 1 ELSE 0 END"
            for i in range(k) if i != j
        )
        eq = " + ".join(
            f"CASE WHEN c{i} = c{j} THEN 1 ELSE 0 END" for i in range(k)
        )
        r2.append(f"(2 * ({less}) + ({eq}) + 1)")
    r2cols = ", ".join(f"{e} AS r2_{j}" for j, e in enumerate(r2))
    rsums = ", ".join(
        f"CAST(SUM(r2_{j}) AS BIGINT) AS rr{j}" for j in range(k)
    )
    l2 = " + ".join(f"{j + 1} * rr{j}" for j in range(k))
    return f"""
WITH u AS (
  SELECT user_id, {cnts}
  FROM events GROUP BY user_id),
r AS (SELECT user_id, {r2cols} FROM u),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {rsums} FROM r)
SELECT n, {", ".join(f"rr{j}" for j in range(k))},
       CAST({l2} AS BIGINT) AS l2_stat,
       CAST(n * {k} * {(k + 1) ** 2} // 2 AS BIGINT) AS e_l2
FROM s
"""


@query("q_ml_page_trend", _page_oracle())
def q_ml_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = len(_FRIED_TYPES)
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1))
            .cast("bigint")
            .alias(f"c{i}")
            for i, t in enumerate(_FRIED_TYPES)
        ]
    )
    r2cols = []
    for j in range(k):
        less = None
        for i in range(k):
            if i == j:
                continue
            term = F.when(F.col(f"c{i}") < F.col(f"c{j}"), 1).otherwise(0)
            less = term if less is None else less + term
        eq = None
        for i in range(k):
            term = F.when(F.col(f"c{i}") == F.col(f"c{j}"), 1).otherwise(0)
            eq = term if eq is None else eq + term
        r2cols.append((2 * less + eq + 1).alias(f"r2_{j}"))
    r = u.select(*r2cols)
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(f"r2_{j}").cast("bigint").alias(f"rr{j}")
            for j in range(k)
        ],
    )
    l2 = None
    for j in range(k):
        term = (j + 1) * F.col(f"rr{j}")
        l2 = term if l2 is None else l2 + term
    return s.select(
        "n",
        *[f"rr{j}" for j in range(k)],
        l2.cast("bigint").alias("l2_stat"),
        F.expr(f"CAST(n * {k} * {(k + 1) ** 2} DIV 2 AS BIGINT)").alias(
            "e_l2"
        ),
    )


# -- X450 Cohen's d effect size (pooled SD) ----------------------------------
#
# The missing companion to the test-statistic stack: HOW BIG is the
# click-vs-view difference in per-event value, in SD units. Exactness:
# values quantize to integer cents at the scan, all four moments are
# exact BIGINT/DECIMAL sums, and the final d assembles through one
# deterministic double expression tree (dec_to_double on the
# non-negative sum-of-squares pieces; single sqrt/division — identical
# IEEE ops in both engines). One conditional-moment pass over the facts.

_COHEND_ORACLE = f"""
WITH m AS (
  SELECT CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n1,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(ROUND(value * 100) AS BIGINT) END)
              AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(ROUND(value * 100) AS BIGINT) END)
              AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                            * CAST(ROUND(value * 100) AS BIGINT) END)
              AS DECIMAL(38,0)) AS q1,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                            * CAST(ROUND(value * 100) AS BIGINT) END)
              AS DECIMAL(38,0)) AS q2
  FROM events)
SELECT n1, n2, s1, s2,
       (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
         / sqrt((
             ({_sql_dec_to_double('CAST(q1 AS DECIMAL(38,0)) * n1'
                                  ' - CAST(s1 AS DECIMAL(38,0)) * s1')} / n1
              + {_sql_dec_to_double('CAST(q2 AS DECIMAL(38,0)) * n2'
                                    ' - CAST(s2 AS DECIMAL(38,0)) * s2')} / n2)
             / (n1 + n2 - 2))) AS cohens_d
FROM m
"""


@query("q_ml_cohens_d", _COHEND_ORACLE)
def q_ml_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    m = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("event_type") == "click", cents))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("event_type") == "view", cents))
        .cast("bigint")
        .alias("s2"),
        # promote the product to DECIMAL before the SUM (the oracle sums
        # into HUGEINT; a LongType sum overflows under ANSI at scale —
        # same lane as q_fn_regr_family)
        F.sum(
            F.when(
                F.col("event_type") == "click",
                cents.cast("decimal(28,0)") * cents,
            )
        )
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(
            F.when(
                F.col("event_type") == "view",
                cents.cast("decimal(28,0)") * cents,
            )
        )
        .cast("decimal(38,0)")
        .alias("q2"),
    )
    # n·Σx² − (Σx)² = n·(n−1)·s² in cents² — non-negative by Cauchy-Schwarz,
    # so dec_to_double applies directly.
    ss1 = dec_to_double(
        (F.col("q1") * F.col("n1") - F.col("s1").cast("decimal(38,0)") * F.col("s1"))
        .cast("decimal(38,0)")
    )
    ss2 = dec_to_double(
        (F.col("q2") * F.col("n2") - F.col("s2").cast("decimal(38,0)") * F.col("s2"))
        .cast("decimal(38,0)")
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    return m.select(
        "n1",
        "n2",
        "s1",
        "s2",
        (
            (F.col("s1").cast("double") / n1d - F.col("s2").cast("double") / n2d)
            / F.sqrt(
                (ss1 / n1d + ss2 / n2d) / (F.col("n1") + F.col("n2") - 2)
            )
        ).alias("cohens_d"),
    )


# -- X451 Goodman-Kruskal gamma (ordinal association) ------------------------
#
# The ordinal-vs-ordinal association the chi-square family can't see:
# gamma = (C − D)/(C + D) over concordant/discordant pairs of
# (quantity decile, linenumber). Both variables live on BOUNDED ordinal
# grids, so the fact scan collapses to a ≤ 6×7-cell contingency table
# in one keyed pass and the pair counting is a bounded self-join of
# cells (n_ij · n_kl with i<k,j<l concordant; i<k,j>l discordant) —
# exact BIGINTs at any SF, never row pairs.

_GKGAMMA_ORACLE = """
WITH cells AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) // 10 AS qd,
         CAST(l_linenumber AS BIGINT) AS ln,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
cd AS (
  SELECT
    CAST(SUM(CASE WHEN a.qd < b.qd AND a.ln < b.ln
                  THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
    CAST(SUM(CASE WHEN a.qd < b.qd AND a.ln > b.ln
                  THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
  FROM cells a JOIN cells b ON NOT (a.qd = b.qd AND a.ln = b.ln))
SELECT conc, disc,
       CAST(conc - disc AS DOUBLE) / (conc + disc) AS gk_gamma
FROM cd
"""


@query("q_ml_gk_gamma", _GKGAMMA_ORACLE)
def q_ml_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.expr("CAST(ROUND(l_quantity) AS BIGINT) DIV 10").alias("qd"),
            F.col("l_linenumber").cast("bigint").alias("ln"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # bounded ≤42-cell contingency, consumed as both join sides
        .localCheckpoint(eager=False)
    )
    a, b = cells.alias("a"), cells.alias("b")
    cd = a.join(
        F.broadcast(b),
        ~((F.col("a.qd") == F.col("b.qd")) & (F.col("a.ln") == F.col("b.ln"))),
    ).agg(
        F.sum(
            F.when(
                (F.col("a.qd") < F.col("b.qd")) & (F.col("a.ln") < F.col("b.ln")),
                F.col("a.c") * F.col("b.c"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("a.qd") < F.col("b.qd")) & (F.col("a.ln") > F.col("b.ln")),
                F.col("a.c") * F.col("b.c"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
    )
    return cd.select(
        "conc",
        "disc",
        (
            (F.col("conc") - F.col("disc")).cast("double")
            / (F.col("conc") + F.col("disc"))
        ).alias("gk_gamma"),
    )


# -- X454 precision/recall@k (retrieval eval) --------------------------------
#
# The set-overlap half of the ranking-eval stack (NDCG X?? and MRR read
# graded/first-hit quality; P@k / R@k read the raw retrieved-set
# quality): per order, "retrieved" = the k highest-priced lineitems,
# "relevant" = quantity ≥ 10. Exact integer ppm per query, exact roll-up
# by priority. One windowed rank inside the order partition (keyed — the
# natural 100 TB shape), one conditional aggregate, broadcast join to
# the orders dim.

_PRK_K = 5

_PRK_ORACLE = f"""
WITH r AS (
  SELECT l_orderkey,
         CASE WHEN CAST(ROUND(l_quantity) AS BIGINT) >= 10
              THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber)
           AS rk
  FROM lineitem),
per_q AS (
  SELECT l_orderkey,
         CAST(SUM(CASE WHEN rk <= {_PRK_K} THEN rel ELSE 0 END) AS BIGINT)
           AS hits,
         CAST(SUM(rel) AS BIGINT) AS n_rel
  FROM r GROUP BY l_orderkey),
scored AS (
  SELECT l_orderkey,
         hits * 1000000 // {_PRK_K} AS p_ppm,
         CASE WHEN n_rel > 0 THEN hits * 1000000 // n_rel END AS r_ppm
  FROM per_q)
SELECT o.o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(s.p_ppm) AS BIGINT) AS sum_p_ppm,
       CAST(SUM(s.r_ppm) AS BIGINT) AS sum_r_ppm,
       CAST(COUNT(s.r_ppm) AS BIGINT) AS n_with_rel
FROM scored s JOIN orders o ON o.o_orderkey = s.l_orderkey
GROUP BY pri
"""


@query("q_ml_precision_recall_at_k", _PRK_ORACLE)
def q_ml_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    r = li.select(
        "l_orderkey",
        F.when(F.expr("CAST(ROUND(l_quantity) AS BIGINT) >= 10"), 1)
        .otherwise(0)
        .alias("rel"),
        F.row_number().over(w).alias("rk"),
    )
    per_q = r.groupBy("l_orderkey").agg(
        F.sum(F.when(F.col("rk") <= _PRK_K, F.col("rel")).otherwise(0))
        .cast("bigint")
        .alias("hits"),
        F.sum("rel").cast("bigint").alias("n_rel"),
    )
    scored = per_q.select(
        "l_orderkey",
        F.expr(f"hits * 1000000 DIV {_PRK_K}").alias("p_ppm"),
        F.when(
            F.col("n_rel") > 0, F.expr("hits * 1000000 DIV n_rel")
        ).alias("r_ppm"),
    )
    return (
        scored.join(
            o.select("o_orderkey", "o_orderpriority"),
            scored["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("p_ppm").cast("bigint").alias("sum_p_ppm"),
            F.sum("r_ppm").cast("bigint").alias("sum_r_ppm"),
            F.count("r_ppm").cast("bigint").alias("n_with_rel"),
        )
    )


# -- X463 Tukey fences (IQR outlier audit) ------------------------------------
#
# The box-plot outlier rule as a per-group audit: Q1/Q3 by linear
# interpolation (Spark percentile ≡ DuckDB quantile_cont — same
# definition, and on integer-cents inputs the interpolated value is
# a + frac·(b−a) with frac ∈ {0, .25, .5, .75}: one exact subtraction,
# one exact-dyadic multiply, one add — identical IEEE doubles), fences
# at 1.5·IQR, outlier counts as exact BIGINTs. Two passes over the
# facts (quantiles, then a broadcast-joined conditional count) — the
# same shape the R16 outlier clamp already runs at scale.

_TUKEY_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.25) AS q1,
         quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.75) AS q3,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY event_type)
SELECT q.event_type, q.q1, q.q3, q.n,
       CAST((SELECT COUNT(*) FROM events e
             WHERE e.event_type = q.event_type
               AND CAST(ROUND(e.value * 100) AS BIGINT)
                   < q.q1 - 1.5 * (q.q3 - q.q1)) AS BIGINT) AS n_low,
       CAST((SELECT COUNT(*) FROM events e
             WHERE e.event_type = q.event_type
               AND CAST(ROUND(e.value * 100) AS BIGINT)
                   > q.q3 + 1.5 * (q.q3 - q.q1)) AS BIGINT) AS n_high
FROM q
"""


@query("q_ml_tukey_fences", _TUKEY_ORACLE)
def q_ml_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the NULL group key survives the oracle's correlated COUNT (0 hits)
    # but vanishes at Spark's equi-join — excluded on both engines (r12
    # NULL audit); NULL values need no pin (percentile and the fence
    # comparisons skip them identically).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    q = ev.groupBy("event_type").agg(
        F.percentile(cents, 0.25).alias("q1"),
        F.percentile(cents, 0.75).alias("q3"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    scored = ev.select("event_type", cents.alias("cents")).join(
        F.broadcast(
            q.select(
                F.col("event_type").alias("qt"), "q1", "q3"
            )
        ),
        F.col("event_type") == F.col("qt"),
    )
    counts = scored.groupBy("event_type").agg(
        F.count(
            F.when(
                F.col("cents") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")),
                1,
            )
        )
        .cast("bigint")
        .alias("n_low"),
        F.count(
            F.when(
                F.col("cents") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")),
                1,
            )
        )
        .cast("bigint")
        .alias("n_high"),
    )
    return q.join(counts, "event_type").select(
        "event_type", "q1", "q3", "n", "n_low", "n_high"
    )


# -- X471 Somers' D (asymmetric ordinal association) --------------------------
#
# The directional refinement of GK gamma (X451): D_yx = (C − D)/(C + D +
# T_y) penalizes ties on the DEPENDENT variable only — the statistic
# behind rank-based model discrimination (D_yx of score vs outcome =
# 2·AUC − 1). Same bounded contingency self-join as gamma, one extra
# tie bucket; exact BIGINTs at any SF.

_SOMERS_ORACLE = """
WITH cells AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) // 10 AS x,
         CAST(l_linenumber AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
cd AS (
  SELECT
    CAST(SUM(CASE WHEN a.x < b.x AND a.y < b.y THEN a.c * b.c ELSE 0 END)
         AS BIGINT) AS conc,
    CAST(SUM(CASE WHEN a.x < b.x AND a.y > b.y THEN a.c * b.c ELSE 0 END)
         AS BIGINT) AS disc,
    CAST(SUM(CASE WHEN a.x < b.x AND a.y = b.y THEN a.c * b.c ELSE 0 END)
         AS BIGINT) AS tie_y
  FROM cells a JOIN cells b ON NOT (a.x = b.x AND a.y = b.y))
SELECT conc, disc, tie_y,
       CAST(conc - disc AS DOUBLE) / (conc + disc + tie_y) AS somers_d
FROM cd
"""


@query("q_ml_somers_d", _SOMERS_ORACLE)
def q_ml_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.expr("CAST(ROUND(l_quantity) AS BIGINT) DIV 10").alias("x"),
            F.col("l_linenumber").cast("bigint").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # both join sides
    )
    a, b = cells.alias("a"), cells.alias("b")
    cd = a.join(
        F.broadcast(b),
        ~((F.col("a.x") == F.col("b.x")) & (F.col("a.y") == F.col("b.y"))),
    ).agg(
        F.sum(
            F.when(
                (F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
                F.col("a.c") * F.col("b.c"),
            ).otherwise(0)
        ).cast("bigint").alias("conc"),
        F.sum(
            F.when(
                (F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y")),
                F.col("a.c") * F.col("b.c"),
            ).otherwise(0)
        ).cast("bigint").alias("disc"),
        F.sum(
            F.when(
                (F.col("a.x") < F.col("b.x")) & (F.col("a.y") == F.col("b.y")),
                F.col("a.c") * F.col("b.c"),
            ).otherwise(0)
        ).cast("bigint").alias("tie_y"),
    )
    return cd.select(
        "conc",
        "disc",
        "tie_y",
        (
            (F.col("conc") - F.col("disc")).cast("double")
            / (F.col("conc") + F.col("disc") + F.col("tie_y"))
        ).alias("somers_d"),
    )


# -- X472 SQL:2016 regr_* family from exact moments ---------------------------
#
# regr_slope/intercept/r2/sxx/sxy/syy/avgx/avgy/count over (quantity,
# price-cents). The BUILT-IN regr_* aggregates accumulate in floats —
# partition-order dependent, so they can never hash-match a sequential
# oracle; this surface computes the identical definitions from exact
# integer moments (the engine's standard OLS recipe, cf. q_ml_iv_wald)
# and assembles doubles through dec_to_double with one division per
# output — the same numbers regr_* converges to, reproducibly.

_REGR_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sy,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                  * CAST(ROUND(l_quantity) AS BIGINT)) AS DECIMAL(38,0))
           AS sxx,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                  * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS syy
  FROM lineitem),
d AS (
  SELECT n, sx, sy,
         CAST(sxx * n - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0))
           AS dxx,
         CAST(sxy * n - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
           AS dxy,
         CAST(syy * n - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
           AS dyy
  FROM m)
SELECT n AS regr_count,
       CAST(sx AS DOUBLE) / n AS regr_avgx,
       CAST(sy AS DOUBLE) / n AS regr_avgy,
       (CASE WHEN dxy < 0 THEN -1.0 ELSE 1.0 END * {dtd_adxy}) / {dtd_dxx}
         AS regr_slope,
       (CAST(sy AS DOUBLE)
        - (CASE WHEN dxy < 0 THEN -1.0 ELSE 1.0 END * {dtd_adxy})
          / {dtd_dxx} * sx) / n AS regr_intercept,
       ({dtd_adxy} / {dtd_dxx}) * ({dtd_adxy} / {dtd_dyy}) AS regr_r2
FROM d
"""


def _regr_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    return _REGR_ORACLE.format(
        dtd_adxy=sql_dec_to_double("ABS(dxy)"),
        dtd_dxx=sql_dec_to_double("dxx"),
        dtd_dyy=sql_dec_to_double("dyy"),
    )


@query("q_fn_regr_family", _regr_oracle())
def q_fn_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    x = F.round("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    # products promote to DECIMAL BEFORE the sum — a long accumulator
    # overflows on y² cents at sf0.1 already (ANSI raises; caught by the
    # cross-SF gate), let alone at 100 TB
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x.cast("decimal(28,0)") * x).cast("decimal(38,0)").alias("sxx"),
        F.sum(x.cast("decimal(28,0)") * y).cast("decimal(38,0)").alias("sxy"),
        F.sum(y.cast("decimal(28,0)") * y).cast("decimal(38,0)").alias("syy"),
    )
    d = m.select(
        "n",
        "sx",
        "sy",
        (F.col("sxx") * F.col("n") - F.col("sx").cast("decimal(38,0)") * F.col("sx"))
        .cast("decimal(38,0)")
        .alias("dxx"),
        (F.col("sxy") * F.col("n") - F.col("sx").cast("decimal(38,0)") * F.col("sy"))
        .cast("decimal(38,0)")
        .alias("dxy"),
        (F.col("syy") * F.col("n") - F.col("sy").cast("decimal(38,0)") * F.col("sy"))
        .cast("decimal(38,0)")
        .alias("dyy"),
    )
    sgn = F.when(F.col("dxy") < 0, -1.0).otherwise(1.0)
    adxy = dec_to_double(F.abs(F.col("dxy")))
    dxx = dec_to_double(F.col("dxx"))
    dyy = dec_to_double(F.col("dyy"))
    slope = sgn * adxy / dxx
    return d.select(
        F.col("n").alias("regr_count"),
        (F.col("sx").cast("double") / F.col("n")).alias("regr_avgx"),
        (F.col("sy").cast("double") / F.col("n")).alias("regr_avgy"),
        slope.alias("regr_slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
        ).alias("regr_intercept"),
        ((adxy / dxx) * (adxy / dyy)).alias("regr_r2"),
    )


# -- X475 Mood's median test (k samples) --------------------------------------
#
# The quick-and-robust k-sample location test: does each event type
# split evenly around the GRAND median of per-event value? One exact
# interpolated grand median (percentile ≡ quantile_cont on integer
# cents), then a single conditional-count pass per group — above /
# not-above counts as exact BIGINTs, plus each group's expected-above
# numerator for the chi-square the caller assembles. Two fact passes
# total, both keyed.

_MOOD_ORACLE = """
WITH med AS (
  SELECT quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.5) AS gm
  FROM events),
g AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN CAST(ROUND(value * 100) AS BIGINT) > med.gm
                         THEN 1 END) AS BIGINT) AS n_above,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events, med GROUP BY event_type),
tot AS (
  SELECT CAST(SUM(n_above) AS BIGINT) AS a_tot, CAST(SUM(n) AS BIGINT) AS n_tot
  FROM g)
SELECT g.event_type, g.n, g.n_above,
       CAST(g.n * tot.a_tot AS BIGINT) AS expected_above_num,
       tot.n_tot
FROM g, tot
"""


@query("q_ml_mood_median", _MOOD_ORACLE)
def q_ml_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    med = ev.agg(F.percentile(cents, 0.5).alias("gm"))
    g = (
        ev.select("event_type", cents.alias("c"))
        .crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("c") > F.col("gm"), 1))
            .cast("bigint")
            .alias("n_above"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .localCheckpoint(eager=False)  # feeds tot and the final select
    )
    tot = g.agg(
        F.sum("n_above").cast("bigint").alias("a_tot"),
        F.sum("n").cast("bigint").alias("n_tot"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "n_above",
        (F.col("n") * F.col("a_tot")).cast("bigint").alias(
            "expected_above_num"
        ),
        "n_tot",
    )


# -- X476 exact Shapley values (bounded feature lattice) -----------------------
#
# Model explainability with NO sampling: for a 3-feature conditional-
# mean model over lineitem (f1 = qty ≥ 25, f2 = discount ≥ 3%, f3 =
# returned), the Shapley value of each feature at the probe instance
# (1,1,1) is exact — v(S) = E[price-cents | features in S are 1] for all
# 8 coalitions comes from ONE conditional-aggregate pass, and the
# classic weights over 3 features reduce to sixths:
#   6·φ_i = 2[v(i)−v(∅)] + [v(ij)−v(j)] + [v(ik)−v(k)] + 2[v(123)−v(jk)].
# Every v is an exact DECIMAL sum / BIGINT count assembled via
# dec_to_double — the full formula tree is identical in both engines.
# At 100 TB: one fact pass with 16 conditional aggregates, zero joins.

def _shap_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    conds = {
        "0": "TRUE",
        "1": "f1 = 1", "2": "f2 = 1", "3": "f3 = 1",
        "12": "f1 = 1 AND f2 = 1", "13": "f1 = 1 AND f3 = 1",
        "23": "f2 = 1 AND f3 = 1",
        "123": "f1 = 1 AND f2 = 1 AND f3 = 1",
    }
    aggs = []
    for k, c in conds.items():
        aggs.append(
            f"CAST(SUM(CASE WHEN {c} THEN cents END) AS DECIMAL(38,0))"
            f" AS s{k}"
        )
        aggs.append(
            f"CAST(COUNT(CASE WHEN {c} THEN 1 END) AS BIGINT) AS n{k}"
        )
    vs = {
        k: f"({sql_dec_to_double(f's{k}')} / n{k})" for k in conds
    }
    rows = []
    for i, j, k in (("1", "2", "3"), ("2", "1", "3"), ("3", "1", "2")):
        ij = "".join(sorted(i + j))
        ik = "".join(sorted(i + k))
        jk = "".join(sorted(j + k))
        phi6 = (
            f"2.0 * ({vs[i]} - {vs['0']})"
            f" + ({vs[ij]} - {vs[j]})"
            f" + ({vs[ik]} - {vs[k]})"
            f" + 2.0 * ({vs['123']} - {vs[jk]})"
        )
        rows.append(
            f"SELECT 'f{i}' AS feature, {phi6} AS phi6,"
            f" {vs[i]} AS v_solo, {vs['123']} AS v_full, n{i} AS n_solo"
            f" FROM m"
        )
    return f"""
WITH base AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CASE WHEN CAST(ROUND(l_quantity) AS BIGINT) >= 25 THEN 1 ELSE 0 END AS f1,
         CASE WHEN CAST(ROUND(l_discount * 1000) AS BIGINT) >= 30 THEN 1 ELSE 0 END AS f2,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS f3
  FROM lineitem),
m AS (SELECT {", ".join(aggs)} FROM base)
{" UNION ALL ".join(rows)}
"""


@query("q_ml_shapley_exact", _shap_oracle())
def q_ml_shapley_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.when(F.expr("CAST(ROUND(l_quantity) AS BIGINT) >= 25"), 1)
        .otherwise(0)
        .alias("f1"),
        F.when(F.expr("CAST(ROUND(l_discount * 1000) AS BIGINT) >= 30"), 1)
        .otherwise(0)
        .alias("f2"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("f3"),
    )
    conds = {
        "0": F.lit(True),
        "1": F.col("f1") == 1,
        "2": F.col("f2") == 1,
        "3": F.col("f3") == 1,
        "12": (F.col("f1") == 1) & (F.col("f2") == 1),
        "13": (F.col("f1") == 1) & (F.col("f3") == 1),
        "23": (F.col("f2") == 1) & (F.col("f3") == 1),
        "123": (F.col("f1") == 1) & (F.col("f2") == 1) & (F.col("f3") == 1),
    }
    aggs = []
    for k, c in conds.items():
        aggs.append(
            F.sum(F.when(c, F.col("cents")))
            .cast("decimal(38,0)")
            .alias(f"s{k}")
        )
        aggs.append(F.count(F.when(c, 1)).cast("bigint").alias(f"n{k}"))
    m = base.agg(*aggs).localCheckpoint(eager=False)  # three row-consumers

    def v(k: str):
        return dec_to_double(F.col(f"s{k}")) / F.col(f"n{k}")

    parts = []
    for i, j, k in (("1", "2", "3"), ("2", "1", "3"), ("3", "1", "2")):
        ij = "".join(sorted(i + j))
        ik = "".join(sorted(i + k))
        jk = "".join(sorted(j + k))
        phi6 = (
            F.lit(2.0) * (v(i) - v("0"))
            + (v(ij) - v(j))
            + (v(ik) - v(k))
            + F.lit(2.0) * (v("123") - v(jk))
        )
        parts.append(
            m.select(
                F.lit(f"f{i}").alias("feature"),
                phi6.alias("phi6"),
                v(i).alias("v_solo"),
                v("123").alias("v_full"),
                F.col(f"n{i}").alias("n_solo"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# -- X480 A/B sample-ratio-mismatch check ---------------------------------------
#
# The first diagnostic of any experiment readout: does the observed
# assignment split match the design? Users hash-assign 50/50 (md5 —
# both engines re-derive the same arms), and the SRM chi-square on the
# 2-cell contingency is exact-rational: chi2 = (a − b)²/(a + b) for a
# balanced design. Emitted as exact integers (a, b, (a−b)²) plus the
# double chi2 via one division — the caller compares to 3.84 (95%).

_SRM_ORACLE = """
WITH u AS (
  SELECT DISTINCT user_id,
         CASE WHEN ('0x' || substr(md5('srm:' || user_id), 1, 1))::INT % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM events),
c AS (
  SELECT CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b
  FROM u)
SELECT n_a, n_b,
       CAST((n_a - n_b) * (n_a - n_b) AS BIGINT) AS diff_sq,
       CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) AS srm_chi2
FROM c
"""


@query("q_ml_ab_srm", _SRM_ORACLE)
def q_ml_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("srm:"), F.col("user_id"))), 1, 1),
            16,
            10,
        ).cast("int")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    u = ev.select("user_id").distinct().select(arm.alias("arm"))
    c = u.agg(
        F.count(F.when(F.col("arm") == "A", 1)).cast("bigint").alias("n_a"),
        F.count(F.when(F.col("arm") == "B", 1)).cast("bigint").alias("n_b"),
    )
    return c.select(
        "n_a",
        "n_b",
        ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b")))
        .cast("bigint")
        .alias("diff_sq"),
        (
            ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b")))
            .cast("double")
            / (F.col("n_a") + F.col("n_b"))
        ).alias("srm_chi2"),
    )


# -- X481 TOST equivalence test -------------------------------------------------
#
# The readout A/B stacks get wrong: "are click and view values
# EQUIVALENT within ±delta?" needs two one-sided tests, not a failed
# difference test. Same exact integer-cents moment pass as Cohen's d
# (X450); the margin is 5 cents; both z statistics assemble through
# dec_to_double + a single sqrt/division — identical IEEE trees in both
# engines. Equivalence holds when min(z_lower, -z_upper) > 1.645.

_TOST_DELTA_CENTS = 5.0

_TOST_ORACLE = f"""
WITH m AS (
  SELECT CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n1,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(ROUND(value * 100) AS BIGINT) END)
              AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(ROUND(value * 100) AS BIGINT) END)
              AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                            * CAST(ROUND(value * 100) AS BIGINT) END)
              AS DECIMAL(38,0)) AS q1,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                            * CAST(ROUND(value * 100) AS BIGINT) END)
              AS DECIMAL(38,0)) AS q2
  FROM events),
d AS (
  SELECT n1, n2, s1, s2,
         CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS diff,
         sqrt({{ss1}} / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
              + {{ss2}} / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))) AS se
  FROM m)
SELECT n1, n2, diff,
       (diff + {_TOST_DELTA_CENTS}) / se AS z_lower,
       (diff - {_TOST_DELTA_CENTS}) / se AS z_upper,
       CAST(CASE WHEN (diff + {_TOST_DELTA_CENTS}) / se > 1.645
                  AND (diff - {_TOST_DELTA_CENTS}) / se < -1.645
                 THEN 1 ELSE 0 END AS INTEGER) AS equivalent_90
FROM d
"""


def _tost_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    return _TOST_ORACLE.format(
        ss1=sql_dec_to_double(
            "CAST(q1 AS DECIMAL(38,0)) * n1 - CAST(s1 AS DECIMAL(38,0)) * s1"
        ),
        ss2=sql_dec_to_double(
            "CAST(q2 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * s2"
        ),
    )


@query("q_ml_equivalence_tost", _tost_oracle())
def q_ml_equivalence_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    m = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("event_type") == "click", cents))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("event_type") == "view", cents))
        .cast("bigint")
        .alias("s2"),
        # promote the product to DECIMAL before the SUM (the oracle sums
        # into HUGEINT; a LongType sum overflows under ANSI at scale —
        # same lane as q_fn_regr_family)
        F.sum(
            F.when(
                F.col("event_type") == "click",
                cents.cast("decimal(28,0)") * cents,
            )
        )
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(
            F.when(
                F.col("event_type") == "view",
                cents.cast("decimal(28,0)") * cents,
            )
        )
        .cast("decimal(38,0)")
        .alias("q2"),
    )
    ss1 = dec_to_double(
        (F.col("q1") * F.col("n1") - F.col("s1").cast("decimal(38,0)") * F.col("s1"))
        .cast("decimal(38,0)")
    )
    ss2 = dec_to_double(
        (F.col("q2") * F.col("n2") - F.col("s2").cast("decimal(38,0)") * F.col("s2"))
        .cast("decimal(38,0)")
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    diff = F.col("s1").cast("double") / n1d - F.col("s2").cast("double") / n2d
    se = F.sqrt(
        ss1 / (n1d * F.col("n1") * (F.col("n1") - 1))
        + ss2 / (n2d * F.col("n2") * (F.col("n2") - 1))
    )
    d = m.select("n1", "n2", diff.alias("diff"), se.alias("se"))
    zl = (F.col("diff") + _TOST_DELTA_CENTS) / F.col("se")
    zu = (F.col("diff") - _TOST_DELTA_CENTS) / F.col("se")
    return d.select(
        "n1",
        "n2",
        "diff",
        zl.alias("z_lower"),
        zu.alias("z_upper"),
        ((zl > 1.645) & (zu < -1.645)).cast("int").alias("equivalent_90"),
    )


# -- X483 Cliff's delta (ordinal dominance effect size) ----------------------
#
# The effect-size companion the Mann-Whitney U (X323) reports alongside:
# delta = (#{x>y} - #{x<y}) / (n1*n2) over returned-vs-kept l_quantity.
# Derived EXACTLY from the same doubled-midrank machinery — with
# tie-as-half U, #gt - #lt = 2*U1 - n1*n2 = u1_x2 - n1*n2 — so the
# bounded (<=50-value) quantity grid carries everything and no pair is
# ever materialized. The final ratio is computed as three IEEE ops over
# exactly-cast integers (n1, n2 < 2^53), identical on both engines;
# integer-ppm division is avoided because delta can be negative and
# Spark's DIV truncates toward zero while DuckDB's // floors.

_CLIFFS_ORACLE = """
WITH v AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
  FROM lineitem),
cnt AS (
  SELECT q, COUNT(*) AS c,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
  FROM v GROUP BY q),
mid AS (
  SELECT q, c, c1,
         2 * (COALESCE(SUM(c) OVER (ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) + c + 1
           AS mr2
  FROM cnt),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c - c1) AS BIGINT) AS n2,
         CAST(SUM(c1 * mr2) AS BIGINT) AS r1x2
  FROM mid)
SELECT n1, n2,
       r1x2 - n1 * (n1 + 1) - n1 * n2 AS gt_minus_lt,
       CAST(r1x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cliffs_delta
FROM tot
"""


@query("q_ml_cliffs_delta", _CLIFFS_ORACLE)
def q_ml_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
    )
    cnt = v.groupBy("q").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("grp").alias("c1"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    mid = cnt.withColumn(
        "mr2",
        2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1,
    )
    tot = mid.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("mr2")).cast("bigint").alias("r1x2"),
    )
    num = (
        F.col("r1x2")
        - F.col("n1") * (F.col("n1") + 1)
        - F.col("n1") * F.col("n2")
    )
    return tot.select(
        "n1",
        "n2",
        num.alias("gt_minus_lt"),
        (
            num.cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
        ).alias("cliffs_delta"),
    )


# -- X484 Hellinger / Bhattacharyya distribution drift -----------------------
#
# The bounded-support drift metric the TVD (X?) and EMD (X?) rows don't
# give: BC = sum_i sqrt(p_i * q_i), H = sqrt(1 - BC) between the
# event-type distributions of two deterministic halves of the events
# stream (event_id parity — content-keyed, partitioning-independent).
# Each cell's sqrt((a/A)*(b/B)) is 4 IEEE ops over exactly-cast BIGINTs
# (deterministic on both engines); the cross-cell sum rides the
# order-independent QUANTIZED lane (helpers.qsum) — sqrt terms are
# full-precision irrationals, and the DECIMAL(38,6) cast itself can
# diverge between engines on those (the round-9 qsum finding), so the
# floor-quantized lane is the structurally sound one.

_HELLINGER_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS a,
         CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS b
  FROM events GROUP BY event_type),
tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cells),
contrib AS (
  SELECT SQRT((CAST(a AS DOUBLE) / ta) * (CAST(b AS DOUBLE) / tb)) AS bc_c
  FROM cells, tot),
s AS (
  SELECT {QSUM_BC}
  FROM contrib)
SELECT tot.n_cells, tot.ta AS n_a, tot.tb AS n_b, s.bc,
       SQRT(1.0 - s.bc) AS hellinger
FROM tot, s
""".replace("{QSUM_BC}", _sql_qsum("bc_c", "bc"))


@query("q_ml_hellinger_drift", _HELLINGER_ORACLE)
def q_ml_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import qsum

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.groupBy("event_type")
        .agg(
            F.sum((F.col("event_id") % 2 == 0).cast("long"))
            .cast("bigint")
            .alias("a"),
            F.sum((F.col("event_id") % 2 == 1).cast("long"))
            .cast("bigint")
            .alias("b"),
        )
        # 5-row cell table feeds tot + contrib — checkpoint so the
        # events scan runs once (plan audit showed 4 scans)
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    contrib = cells.crossJoin(F.broadcast(tot)).select(
        "n_cells",
        "ta",
        "tb",
        F.sqrt(
            (F.col("a").cast("double") / F.col("ta"))
            * (F.col("b").cast("double") / F.col("tb"))
        ).alias("bc_c"),
    )
    s = contrib.groupBy("n_cells", "ta", "tb").agg(qsum("bc_c", "bc"))
    return s.select(
        "n_cells",
        F.col("ta").alias("n_a"),
        F.col("tb").alias("n_b"),
        "bc",
        F.sqrt(1.0 - F.col("bc")).alias("hellinger"),
    )


# -- X485 paired sign test (day-over-day revenue direction) ------------------
#
# The assumption-free cousin of the Wilcoxon signed-rank row (X?): count
# day-over-day revenue increases vs decreases over the daily order
# totals. Daily sums are exact BIGINT cents via one keyed aggregate; the
# lag and the sign counts run over the bounded per-day table; z =
# (pos - neg)/sqrt(pos + neg) is 3 IEEE ops over exactly-cast counts.

_SIGN_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY o_orderdate),
diffs AS (
  SELECT rev - LAG(rev) OVER (ORDER BY d) AS df
  FROM daily),
c AS (
  SELECT CAST(SUM(CASE WHEN df > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN df < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(SUM(CASE WHEN df = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM diffs WHERE df IS NOT NULL)
SELECT n_pos, n_neg, n_zero,
       CAST(n_pos - n_neg AS DOUBLE) / SQRT(CAST(n_pos + n_neg AS DOUBLE))
         AS z_stat
FROM c
"""


@query("q_ml_sign_test", _SIGN_ORACLE)
def q_ml_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w = Window.orderBy("d")
    diffs = daily.select(
        (F.col("rev") - F.lag("rev").over(w)).alias("df")
    ).filter(F.col("df").isNotNull())
    c = diffs.agg(
        F.sum((F.col("df") > 0).cast("long")).cast("bigint").alias("n_pos"),
        F.sum((F.col("df") < 0).cast("long")).cast("bigint").alias("n_neg"),
        F.sum((F.col("df") == 0).cast("long")).cast("bigint").alias("n_zero"),
    )
    return c.select(
        "n_pos",
        "n_neg",
        "n_zero",
        (
            (F.col("n_pos") - F.col("n_neg")).cast("double")
            / F.sqrt((F.col("n_pos") + F.col("n_neg")).cast("double"))
        ).alias("z_stat"),
    )


# =============================================================================
# Information-theory wave (X487-X489, X492) — consumers of the portable
# natural-log kernel (helpers.pln_*). Every ln argument is a PROBABILITY
# (or a small category count), so it always lands inside the kernel's
# [0.75*2^-60, 1.5*2^6) domain, and every ln is bit-identical between
# Spark and DuckDB by construction. Cross-term sums of doubles are
# order-sensitive, so they run as LEFT FOLDS over bounded sorted arrays
# (array_sort+aggregate / list(ORDER BY)+list_reduce — the X458 EWMA
# lane), never as a distributed SUM. The fact scans stay one keyed
# exact-integer aggregate each; all double work happens on bounded
# category tables.
#
# Staging discipline: pln_finish references its `red` argument ~50x, so
# red/kk are materialized as projection columns FIRST (one select
# boundary) and pln_finish consumes the column refs — Catalyst's
# CollapseProject keeps non-cheap multi-referenced aliases staged, and
# the SQL twin mirrors the same two-layer shape to keep the oracle
# string compact (one sql_ln_layer per query via the unpivot-ln trick:
# stack every ln argument into rows, ln once, pivot back).
# =============================================================================

from mini_etl_project_spark.queries.helpers import (  # noqa: E402
    pln_finish as _pln_finish,
    pln_k as _pln_k,
    pln_red as _pln_red,
)


from mini_etl_project_spark.queries.helpers import (  # noqa: E402
    fold_sum as _fold_sum,
)


from mini_etl_project_spark.queries.helpers import (  # noqa: E402
    sql_ln_layer as _sql_ln_layer,
)


# -- X487 Shannon entropy by month --------------------------------------------
#
# Per-month Shannon entropy (nats) + normalized entropy of the order
# priority mix — the classic category-balance monitor. Cells are exact
# BIGINT counts from one keyed pass over the facts; probabilities and
# both lns (ln p per cell, ln k per month for the normalizer) ride the
# portable kernel; the <=5-term cross-category sum folds in priority
# order. Bounded 12x5 cell table at any SF.

_ENTROPY_ORACLE = f"""
WITH cells AS (
  SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
         o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
tot AS (
  SELECT m AS tm, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
  FROM cells GROUP BY 1),
stack AS (
  SELECT 'p' AS which, m, pr, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS v
  FROM cells JOIN tot ON m = tm
  UNION ALL
  SELECT 'k', tm, NULL, CAST(k AS DOUBLE) FROM tot),
lns AS ({_sql_ln_layer('stack', 'which, m, pr')}),
folds AS (
  SELECT m, list_reduce(list(v * lnv ORDER BY pr), (a, x) -> a + x) AS s
  FROM lns WHERE which = 'p' GROUP BY m)
SELECT f.m, t.n AS n_orders, t.k AS k_cats,
       -(f.s) AS entropy_nats,
       CASE WHEN t.k > 1 THEN -(f.s) / l.lnv END AS entropy_norm
FROM folds f
JOIN tot t ON f.m = t.tm
JOIN (SELECT m, lnv FROM lns WHERE which = 'k') l ON f.m = l.m
"""


@query("q_ml_entropy_monthly", _ENTROPY_ORACLE)
def q_ml_entropy_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # the bounded 12x5 cell table feeds tot + the two stack branches —
    # checkpoint once so the facts scan runs exactly once (the BLEU-fix
    # lane from round 8)
    cells = (
        o.groupBy(
            F.month("o_orderdate").cast("bigint").alias("m"),
            F.col("o_orderpriority").alias("pr"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = cells.groupBy(F.col("m").alias("tm")).agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    stack = (
        cells.join(F.broadcast(tot), cells["m"] == F.col("tm"))
        .select(
            F.lit("p").alias("which"),
            "m",
            "pr",
            (F.col("c").cast("double") / F.col("n").cast("double")).alias("v"),
        )
        .unionAll(
            tot.select(
                F.lit("k"),
                F.col("tm"),
                F.lit(None).cast("string"),
                F.col("k").cast("double"),
            )
        )
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "m",
            "pr",
            "v",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    folds = (
        lns.filter(F.col("which") == "p")
        .groupBy("m")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("pr", (F.col("v") * F.col("lnv")).alias("t"))
                )
            ).alias("pairs")
        )
        .select("m", _fold_sum(F.transform("pairs", lambda p: p["t"])).alias("s"))
    )
    lnk = lns.filter(F.col("which") == "k").select(
        F.col("m").alias("lm"), F.col("lnv").alias("lnk")
    )
    return (
        folds.join(F.broadcast(tot), folds["m"] == F.col("tm"))
        .join(F.broadcast(lnk), folds["m"] == F.col("lm"))
        .select(
            "m",
            F.col("n").alias("n_orders"),
            F.col("k").alias("k_cats"),
            (-F.col("s")).alias("entropy_nats"),
            F.when(F.col("k") > 1, (-F.col("s")) / F.col("lnk")).alias(
                "entropy_norm"
            ),
        )
    )


# -- X488 KL / Jensen-Shannon divergence --------------------------------------
#
# Distribution drift between the high-value order segment
# (o_totalprice > 150000) and the full book, over the priority mix:
# forward KL, reverse KL, and the symmetric bounded JS divergence.
# Laplace-smoothed (+1 / +k) on BOTH sides so every probability is
# strictly positive at any SF; the three lns per category (ln p, ln q,
# ln m) ride one staged kernel via the unpivot; the <=5-term folds run
# in priority order. One conditional-count pass over the facts.

_KL_ORACLE = f"""
WITH seg AS (
  SELECT o_orderpriority AS pr,
         CAST(COUNT(CASE WHEN o_totalprice > 150000 THEN 1 END) AS BIGINT) AS cs,
         CAST(COUNT(*) AS BIGINT) AS ca
  FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cs) AS BIGINT) AS ns, CAST(SUM(ca) AS BIGINT) AS na,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM seg),
pq AS (
  SELECT pr, ns, na,
         (CAST(cs AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(ns AS DOUBLE) + CAST(k AS DOUBLE)) AS p,
         (CAST(ca AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(na AS DOUBLE) + CAST(k AS DOUBLE)) AS q
  FROM seg CROSS JOIN tot),
stack AS (
  SELECT 'p' AS which, pr, p AS v FROM pq
  UNION ALL SELECT 'q', pr, q FROM pq
  UNION ALL SELECT 'm', pr, (p + q) / CAST(2.0 AS DOUBLE) FROM pq),
lns AS ({_sql_ln_layer('stack', 'which, pr')}),
piv AS (
  SELECT pr,
         MAX(CASE WHEN which = 'p' THEN v END) AS p,
         MAX(CASE WHEN which = 'q' THEN v END) AS q,
         MAX(CASE WHEN which = 'p' THEN lnv END) AS lp,
         MAX(CASE WHEN which = 'q' THEN lnv END) AS lq,
         MAX(CASE WHEN which = 'm' THEN lnv END) AS lm
  FROM lns GROUP BY 1),
folds AS (
  SELECT list_reduce(list(p * (lp - lq) ORDER BY pr), (a, x) -> a + x) AS kl_pq,
         list_reduce(list(q * (lq - lp) ORDER BY pr), (a, x) -> a + x) AS kl_qp,
         list_reduce(list(CAST(0.5 AS DOUBLE) * p * (lp - lm)
                          + CAST(0.5 AS DOUBLE) * q * (lq - lm)
                          ORDER BY pr), (a, x) -> a + x) AS js
  FROM piv)
SELECT t.ns, t.na, f.kl_pq AS kl_pq_nats, f.kl_qp AS kl_qp_nats,
       f.js AS js_nats
FROM folds f CROSS JOIN tot t
"""


@query("q_ml_kl_divergence", _KL_ORACLE)
def q_ml_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # <=5-row segment table feeds tot + three stack branches: checkpoint
    # so the facts scan runs once
    seg = (
        o.groupBy(F.col("o_orderpriority").alias("pr"))
        .agg(
            F.count(F.when(F.col("o_totalprice") > 150000, 1))
            .cast("bigint")
            .alias("cs"),
            F.count(F.lit(1)).cast("bigint").alias("ca"),
        )
        .localCheckpoint(eager=True)
    )
    tot = seg.agg(
        F.sum("cs").cast("bigint").alias("ns"),
        F.sum("ca").cast("bigint").alias("na"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    pq = seg.crossJoin(F.broadcast(tot)).select(
        "pr",
        "ns",
        "na",
        (
            (F.col("cs").cast("double") + F.lit(1.0))
            / (F.col("ns").cast("double") + F.col("k").cast("double"))
        ).alias("p"),
        (
            (F.col("ca").cast("double") + F.lit(1.0))
            / (F.col("na").cast("double") + F.col("k").cast("double"))
        ).alias("q"),
    )
    stack = (
        pq.select(F.lit("p").alias("which"), "pr", F.col("p").alias("v"))
        .unionAll(pq.select(F.lit("q"), "pr", F.col("q")))
        .unionAll(
            pq.select(F.lit("m"), "pr", (F.col("p") + F.col("q")) / F.lit(2.0))
        )
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which", "pr", "v", _pln_finish("red", "kk").alias("lnv")
        )
    )
    piv = lns.groupBy("pr").agg(
        F.max(F.when(F.col("which") == "p", F.col("v"))).alias("p"),
        F.max(F.when(F.col("which") == "q", F.col("v"))).alias("q"),
        F.max(F.when(F.col("which") == "p", F.col("lnv"))).alias("lp"),
        F.max(F.when(F.col("which") == "q", F.col("lnv"))).alias("lq"),
        F.max(F.when(F.col("which") == "m", F.col("lnv"))).alias("lm"),
    )

    # all three divergences fold from ONE sorted collect_list so piv (and
    # everything under it) executes once
    t_pq = F.col("p") * (F.col("lp") - F.col("lq"))
    t_qp = F.col("q") * (F.col("lq") - F.col("lp"))
    t_js = F.lit(0.5) * F.col("p") * (F.col("lp") - F.col("lm")) + F.lit(
        0.5
    ) * F.col("q") * (F.col("lq") - F.col("lm"))
    folds = piv.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "pr",
                    t_pq.alias("t1"),
                    t_qp.alias("t2"),
                    t_js.alias("t3"),
                )
            )
        ).alias("ps")
    ).select(
        _fold_sum(F.transform("ps", lambda x: x["t1"])).alias("kl_pq_nats"),
        _fold_sum(F.transform("ps", lambda x: x["t2"])).alias("kl_qp_nats"),
        _fold_sum(F.transform("ps", lambda x: x["t3"])).alias("js_nats"),
    )
    return tot.select("ns", "na").crossJoin(F.broadcast(folds))


# -- X489 mutual information + G-test -----------------------------------------
#
# MI(returnflag; linestatus) in nats and the G log-likelihood-ratio
# statistic (= 2*N*MI) — the information-theoretic companion to the
# chi-square family (X44/X451): G is additive across partitions of the
# table and is what hierarchical log-linear models decompose. The 3x2
# contingency table is exact BIGINTs from one keyed pass; the three lns
# per cell ride one staged kernel; the 6-term fold runs in (flag,
# status) order.

_MI_ORACLE = f"""
WITH cells AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
mx AS (SELECT rf AS xrf, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
my AS (SELECT ls AS yls, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
j AS (
  SELECT rf, ls, c, n, cx, cy
  FROM cells CROSS JOIN tot
  JOIN mx ON rf = xrf JOIN my ON ls = yls),
stack AS (
  SELECT 'xy' AS which, rf, ls, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS v FROM j
  UNION ALL
  SELECT 'x', rf, ls, CAST(cx AS DOUBLE) / CAST(n AS DOUBLE) FROM j
  UNION ALL
  SELECT 'y', rf, ls, CAST(cy AS DOUBLE) / CAST(n AS DOUBLE) FROM j),
lns AS ({_sql_ln_layer('stack', 'which, rf, ls')}),
piv AS (
  SELECT rf, ls,
         MAX(CASE WHEN which = 'xy' THEN v END) AS pxy,
         MAX(CASE WHEN which = 'xy' THEN lnv END) AS lxy,
         MAX(CASE WHEN which = 'x' THEN lnv END) AS lx,
         MAX(CASE WHEN which = 'y' THEN lnv END) AS ly
  FROM lns GROUP BY 1, 2),
fold AS (
  SELECT list_reduce(list(pxy * ((lxy - lx) - ly) ORDER BY rf, ls),
                     (a, x) -> a + x) AS mi
  FROM piv)
SELECT t.n, f.mi AS mi_nats,
       CAST(2.0 AS DOUBLE) * CAST(t.n AS DOUBLE) * f.mi AS g_stat
FROM fold f CROSS JOIN tot t
"""


@query("q_ml_mutual_information", _MI_ORACLE)
def q_ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # 3x2 cell table feeds tot/mx/my + three stack branches: checkpoint
    # so the lineitem scan runs once
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    mx = cells.groupBy(F.col("rf").alias("xrf")).agg(
        F.sum("c").cast("bigint").alias("cx")
    )
    my = cells.groupBy(F.col("ls").alias("yls")).agg(
        F.sum("c").cast("bigint").alias("cy")
    )
    j = (
        cells.crossJoin(F.broadcast(tot))
        .join(F.broadcast(mx), F.col("rf") == F.col("xrf"))
        .join(F.broadcast(my), F.col("ls") == F.col("yls"))
        .select("rf", "ls", "c", "n", "cx", "cy")
    )
    nd = F.col("n").cast("double")
    stack = (
        j.select(
            F.lit("xy").alias("which"),
            "rf",
            "ls",
            (F.col("c").cast("double") / nd).alias("v"),
        )
        .unionAll(
            j.select(F.lit("x"), "rf", "ls", F.col("cx").cast("double") / nd)
        )
        .unionAll(
            j.select(F.lit("y"), "rf", "ls", F.col("cy").cast("double") / nd)
        )
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "rf",
            "ls",
            "v",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.groupBy("rf", "ls").agg(
        F.max(F.when(F.col("which") == "xy", F.col("v"))).alias("pxy"),
        F.max(F.when(F.col("which") == "xy", F.col("lnv"))).alias("lxy"),
        F.max(F.when(F.col("which") == "x", F.col("lnv"))).alias("lx"),
        F.max(F.when(F.col("which") == "y", F.col("lnv"))).alias("ly"),
    )
    term = F.col("pxy") * ((F.col("lxy") - F.col("lx")) - F.col("ly"))
    fold = piv.agg(
        F.array_sort(
            F.collect_list(F.struct("rf", "ls", term.alias("t")))
        ).alias("triples")
    ).select(_fold_sum(F.transform("triples", lambda x: x["t"])).alias("mi"))
    return fold.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("mi").alias("mi_nats"),
        (F.lit(2.0) * F.col("n").cast("double") * F.col("mi")).alias("g_stat"),
    )


# -- X492 binary log-loss of a segment-rate predictor -------------------------
#
# The training-pipeline loss readout: cross-entropy (nats) of the
# Laplace-smoothed per-segment purchase-rate predictor, evaluated on
# the same events. Segments are the bounded user_id % 16 grid, so the
# per-row sum collapses algebraically to counts-times-term per segment:
# loss = -(1/N) * fold_g [ c_g*ln(p_g) + (n_g - c_g)*ln(1 - p_g) ] —
# exact integers times two portably-computed lns, folded over 16 sorted
# groups. One conditional-count pass over the facts, no per-row doubles.

_LOGLOSS_ORACLE = f"""
WITH seg AS (
  SELECT CAST(user_id % 16 AS BIGINT) AS g,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS cp,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(cp) AS BIGINT) AS npos
  FROM seg),
pr AS (
  SELECT g, cp, n,
         (CAST(cp AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(n AS DOUBLE) + CAST(2.0 AS DOUBLE)) AS p
  FROM seg),
stack AS (
  SELECT 'p' AS which, g, cp, n, p AS v FROM pr
  UNION ALL
  SELECT 'q', g, cp, n, CAST(1.0 AS DOUBLE) - p FROM pr),
lns AS ({_sql_ln_layer('stack', 'which, g, cp, n')}),
piv AS (
  SELECT g, MAX(cp) AS cp, MAX(n) AS n,
         MAX(CASE WHEN which = 'p' THEN lnv END) AS lp,
         MAX(CASE WHEN which = 'q' THEN lnv END) AS lq
  FROM lns GROUP BY 1),
fold AS (
  SELECT list_reduce(
           list(CAST(cp AS DOUBLE) * lp + CAST(n - cp AS DOUBLE) * lq
                ORDER BY g),
           (a, x) -> a + x) AS s
  FROM piv)
SELECT t.nt AS n_events, t.npos AS n_pos,
       -(f.s) / CAST(t.nt AS DOUBLE) AS log_loss_nats
FROM fold f CROSS JOIN tot t
"""


@query("q_ml_log_loss", _LOGLOSS_ORACLE)
def q_ml_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # 16-row segment table feeds tot + two stack branches: checkpoint so
    # the events scan runs once
    seg = (
        ev.groupBy((F.col("user_id") % 16).cast("bigint").alias("g"))
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("cp"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    tot = seg.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("cp").cast("bigint").alias("npos"),
    )
    pr = seg.select(
        "g",
        "cp",
        "n",
        (
            (F.col("cp").cast("double") + F.lit(1.0))
            / (F.col("n").cast("double") + F.lit(2.0))
        ).alias("p"),
    )
    stack = pr.select(
        F.lit("p").alias("which"), "g", "cp", "n", F.col("p").alias("v")
    ).unionAll(pr.select(F.lit("q"), "g", "cp", "n", F.lit(1.0) - F.col("p")))
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "g",
            "cp",
            "n",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.groupBy("g").agg(
        F.max("cp").alias("cp"),
        F.max("n").alias("n"),
        F.max(F.when(F.col("which") == "p", F.col("lnv"))).alias("lp"),
        F.max(F.when(F.col("which") == "q", F.col("lnv"))).alias("lq"),
    )
    term = (
        F.col("cp").cast("double") * F.col("lp")
        + (F.col("n") - F.col("cp")).cast("double") * F.col("lq")
    )
    fold = piv.agg(
        F.array_sort(F.collect_list(F.struct("g", term.alias("t")))).alias(
            "pairs"
        )
    ).select(_fold_sum(F.transform("pairs", lambda x: x["t"])).alias("s"))
    return fold.crossJoin(F.broadcast(tot)).select(
        F.col("nt").alias("n_events"),
        F.col("npos").alias("n_pos"),
        ((-F.col("s")) / F.col("nt").cast("double")).alias("log_loss_nats"),
    )


# -- X495 AIC / BIC model comparison ------------------------------------------
#
# Information-criterion comparison of the 1-predictor OLS
# (price-cents ~ quantity, the X472 moment lane) against the
# intercept-only null: AIC = n*ln(RSS/n) + 2k, BIC = n*ln(RSS/n) +
# k*ln(n) with k = #regression params (1 vs 2). RSS/n assembles from the
# exact DECIMAL moments (RSS0/n = dyy/n^2, RSS1/n =
# (dxx*dyy - dxy^2)/(n^2*dxx)); the three lns (two MSEs + ln n) ride one
# staged portable kernel, with arguments INVERTED into the kernel
# domain (ln x = -ln(1/x) for x >= 1 — 1/x is always in domain). One
# exact-moment pass over the facts.

_AICBIC_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sy,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                  * CAST(ROUND(l_quantity) AS BIGINT)) AS DECIMAL(38,0))
           AS sxx,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                  * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS syy
  FROM lineitem),
d AS (
  SELECT n,
         CAST(sxx * n - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0))
           AS dxx,
         CAST(sxy * n - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
           AS dxy,
         CAST(syy * n - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
           AS dyy
  FROM m),
mse AS (
  SELECT n,
         {dtd_dyy} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS mse0,
         ({dtd_dxx} * {dtd_dyy} - {dtd_adxy} * {dtd_adxy})
           / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * {dtd_dxx}) AS mse1
  FROM d),
stack AS (
  SELECT 'm0' AS which, n, mse0, mse1,
         CAST(1.0 AS DOUBLE) / mse0 AS v FROM mse
  UNION ALL SELECT 'm1', n, mse0, mse1, CAST(1.0 AS DOUBLE) / mse1 FROM mse
  UNION ALL SELECT 'n', n, mse0, mse1,
         CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) FROM mse),
lns AS ({LN_LAYER}),
piv AS (
  SELECT MAX(n) AS n, MAX(mse0) AS mse0, MAX(mse1) AS mse1,
         -(MAX(CASE WHEN which = 'm0' THEN lnv END)) AS l0,
         -(MAX(CASE WHEN which = 'm1' THEN lnv END)) AS l1,
         -(MAX(CASE WHEN which = 'n' THEN lnv END)) AS ln_n
  FROM lns)
SELECT n, mse0, mse1,
       CAST(n AS DOUBLE) * l0 + CAST(2.0 AS DOUBLE) AS aic0,
       CAST(n AS DOUBLE) * l1 + CAST(4.0 AS DOUBLE) AS aic1,
       CAST(n AS DOUBLE) * l0 + CAST(1.0 AS DOUBLE) * ln_n AS bic0,
       CAST(n AS DOUBLE) * l1 + CAST(2.0 AS DOUBLE) * ln_n AS bic1,
       (CAST(n AS DOUBLE) * l0 + CAST(2.0 AS DOUBLE))
         - (CAST(n AS DOUBLE) * l1 + CAST(4.0 AS DOUBLE)) AS delta_aic
FROM piv
"""


def _aicbic_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    return _AICBIC_ORACLE.replace(
        "{dtd_adxy}", sql_dec_to_double("ABS(dxy)")
    ).replace("{dtd_dxx}", sql_dec_to_double("dxx")).replace(
        "{dtd_dyy}", sql_dec_to_double("dyy")
    ).replace("{LN_LAYER}", _sql_ln_layer("stack", "which, n, mse0, mse1"))


@query("q_ml_aic_bic", _aicbic_oracle())
def q_ml_aic_bic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    x = F.round("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x.cast("decimal(28,0)") * x).cast("decimal(38,0)").alias("sxx"),
        F.sum(x.cast("decimal(28,0)") * y).cast("decimal(38,0)").alias("sxy"),
        F.sum(y.cast("decimal(28,0)") * y).cast("decimal(38,0)").alias("syy"),
    )
    d = m.select(
        "n",
        (F.col("sxx") * F.col("n") - F.col("sx").cast("decimal(38,0)") * F.col("sx"))
        .cast("decimal(38,0)")
        .alias("dxx"),
        (F.col("sxy") * F.col("n") - F.col("sx").cast("decimal(38,0)") * F.col("sy"))
        .cast("decimal(38,0)")
        .alias("dxy"),
        (F.col("syy") * F.col("n") - F.col("sy").cast("decimal(38,0)") * F.col("sy"))
        .cast("decimal(38,0)")
        .alias("dyy"),
    )
    nd = F.col("n").cast("double")
    adxy = dec_to_double(F.abs(F.col("dxy")))
    dxx = dec_to_double(F.col("dxx"))
    dyy = dec_to_double(F.col("dyy"))
    mse = d.select(
        "n",
        (dyy / (nd * nd)).alias("mse0"),
        ((dxx * dyy - adxy * adxy) / ((nd * nd) * dxx)).alias("mse1"),
    ).localCheckpoint(eager=True)  # 1 row feeding three stack branches
    stack = (
        mse.select(
            F.lit("m0").alias("which"),
            "n",
            "mse0",
            "mse1",
            (F.lit(1.0) / F.col("mse0")).alias("v"),
        )
        .unionAll(
            mse.select(
                F.lit("m1"), "n", "mse0", "mse1", F.lit(1.0) / F.col("mse1")
            )
        )
        .unionAll(
            mse.select(
                F.lit("n"),
                "n",
                "mse0",
                "mse1",
                F.lit(1.0) / F.col("n").cast("double"),
            )
        )
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "n",
            "mse0",
            "mse1",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.agg(
        F.max("n").alias("n"),
        F.max("mse0").alias("mse0"),
        F.max("mse1").alias("mse1"),
        (-F.max(F.when(F.col("which") == "m0", F.col("lnv")))).alias("l0"),
        (-F.max(F.when(F.col("which") == "m1", F.col("lnv")))).alias("l1"),
        (-F.max(F.when(F.col("which") == "n", F.col("lnv")))).alias("ln_n"),
    )
    nd2 = F.col("n").cast("double")
    aic0 = nd2 * F.col("l0") + F.lit(2.0)
    aic1 = nd2 * F.col("l1") + F.lit(4.0)
    return piv.select(
        "n",
        "mse0",
        "mse1",
        aic0.alias("aic0"),
        aic1.alias("aic1"),
        (nd2 * F.col("l0") + F.lit(1.0) * F.col("ln_n")).alias("bic0"),
        (nd2 * F.col("l1") + F.lit(2.0) * F.col("ln_n")).alias("bic1"),
        (aic0 - aic1).alias("delta_aic"),
    )


# -- X496 odds ratio with Wald CI ---------------------------------------------
#
# The case-control 2x2 readout: odds ratio of "returned" (l_returnflag =
# 'R') for high-quantity lines (l_quantity > 25), reported on the LOG
# scale (ln OR and its 95% Wald CI — no exp() needed, and the log scale
# is where the CI is symmetric anyway). Cell counts are one exact
# conditional-count pass; the four lns of counts ride the inverted
# kernel (ln c = -ln(1/c)); the SE assembles from 1/cell doubles.

_ODDS_ORACLE = """
WITH c AS (
  SELECT CAST(COUNT(CASE WHEN l_quantity > 25 AND l_returnflag = 'R'
                         THEN 1 END) AS BIGINT) AS a,
         CAST(COUNT(CASE WHEN l_quantity > 25 AND l_returnflag <> 'R'
                         THEN 1 END) AS BIGINT) AS b,
         CAST(COUNT(CASE WHEN l_quantity <= 25 AND l_returnflag = 'R'
                         THEN 1 END) AS BIGINT) AS c2,
         CAST(COUNT(CASE WHEN l_quantity <= 25 AND l_returnflag <> 'R'
                         THEN 1 END) AS BIGINT) AS d
  FROM lineitem),
stack AS (
  SELECT 'a' AS which, a, b, c2, d, CAST(1.0 AS DOUBLE) / CAST(a AS DOUBLE) AS v FROM c
  UNION ALL SELECT 'b', a, b, c2, d, CAST(1.0 AS DOUBLE) / CAST(b AS DOUBLE) FROM c
  UNION ALL SELECT 'c', a, b, c2, d, CAST(1.0 AS DOUBLE) / CAST(c2 AS DOUBLE) FROM c
  UNION ALL SELECT 'd', a, b, c2, d, CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE) FROM c),
lns AS ({LN_LAYER}),
piv AS (
  SELECT MAX(a) AS a, MAX(b) AS b, MAX(c2) AS c2, MAX(d) AS d,
         ((-(MAX(CASE WHEN which = 'a' THEN lnv END))
           + -(MAX(CASE WHEN which = 'd' THEN lnv END)))
          - (-(MAX(CASE WHEN which = 'b' THEN lnv END))
             + -(MAX(CASE WHEN which = 'c' THEN lnv END)))) AS ln_or
  FROM lns)
SELECT a, b, c2, d, ln_or,
       SQRT(CAST(1.0 AS DOUBLE) / CAST(a AS DOUBLE)
            + CAST(1.0 AS DOUBLE) / CAST(b AS DOUBLE)
            + CAST(1.0 AS DOUBLE) / CAST(c2 AS DOUBLE)
            + CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE)) AS se_ln_or,
       ln_or - CAST(1.96 AS DOUBLE)
         * SQRT(CAST(1.0 AS DOUBLE) / CAST(a AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / CAST(b AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / CAST(c2 AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE)) AS ci_lo_ln,
       ln_or + CAST(1.96 AS DOUBLE)
         * SQRT(CAST(1.0 AS DOUBLE) / CAST(a AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / CAST(b AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / CAST(c2 AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE)) AS ci_hi_ln
FROM piv
""".replace("{LN_LAYER}", _sql_ln_layer("stack", "which, a, b, c2, d"))


@query("q_ml_odds_ratio", _ODDS_ORACLE)
def q_ml_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.col("l_quantity") > 25
    ret = F.col("l_returnflag") == "R"
    c = li.agg(
        F.count(F.when(hi & ret, 1)).cast("bigint").alias("a"),
        F.count(F.when(hi & ~ret, 1)).cast("bigint").alias("b"),
        F.count(F.when(~hi & ret, 1)).cast("bigint").alias("c2"),
        F.count(F.when(~hi & ~ret, 1)).cast("bigint").alias("d"),
    ).localCheckpoint(eager=True)  # 1 row feeding four stack branches
    stack = None
    for w, cc in (("a", "a"), ("b", "b"), ("c", "c2"), ("d", "d")):
        part = c.select(
            F.lit(w).alias("which"),
            "a",
            "b",
            "c2",
            "d",
            (F.lit(1.0) / F.col(cc).cast("double")).alias("v"),
        )
        stack = part if stack is None else stack.unionAll(part)
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "a",
            "b",
            "c2",
            "d",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.agg(
        F.max("a").alias("a"),
        F.max("b").alias("b"),
        F.max("c2").alias("c2"),
        F.max("d").alias("d"),
        (
            (
                (-F.max(F.when(F.col("which") == "a", F.col("lnv"))))
                + (-F.max(F.when(F.col("which") == "d", F.col("lnv"))))
            )
            - (
                (-F.max(F.when(F.col("which") == "b", F.col("lnv"))))
                + (-F.max(F.when(F.col("which") == "c", F.col("lnv"))))
            )
        ).alias("ln_or"),
    )
    se = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        + F.lit(1.0) / F.col("b").cast("double")
        + F.lit(1.0) / F.col("c2").cast("double")
        + F.lit(1.0) / F.col("d").cast("double")
    )
    return piv.select(
        "a",
        "b",
        "c2",
        "d",
        "ln_or",
        se.alias("se_ln_or"),
        (F.col("ln_or") - F.lit(1.96) * se).alias("ci_lo_ln"),
        (F.col("ln_or") + F.lit(1.96) * se).alias("ci_hi_ln"),
    )


# -- X497 information-gain feature ranking ------------------------------------
#
# The decision-tree / feature-selection primitive: rank categorical
# features by information gain IG(Y; X) = H(Y) - H(Y|X) against the
# high-value-order label, across three bounded features (priority,
# order month, order status) in ONE fact scan (explode to (feature,
# value, label) cells). All probabilities ride one staged kernel; the
# per-feature conditional entropy is a two-level ordered fold (over the
# <=2 label values inside each feature value, then over the <=12
# feature values). Every fold is over a bounded cell table.

_IG_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS pr,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR) AS mo,
         o_orderstatus AS st,
         CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
  FROM orders),
cells AS (
  SELECT 'priority' AS feat, pr AS xval, y, CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'month', mo, y, CAST(COUNT(*) AS BIGINT) FROM base GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'status', st, y, CAST(COUNT(*) AS BIGINT) FROM base GROUP BY 1, 2, 3),
xn AS (
  SELECT feat, xval, CAST(SUM(c) AS BIGINT) AS nx
  FROM cells GROUP BY 1, 2),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells WHERE feat = 'priority'),
yn AS (
  SELECT y, CAST(SUM(c) AS BIGINT) AS cy
  FROM cells WHERE feat = 'priority' GROUP BY 1),
stack AS (
  SELECT 'c' AS which, feat, xval, y,
         CAST(c AS DOUBLE) / CAST(nx AS DOUBLE) AS v
  FROM cells JOIN xn USING (feat, xval)
  UNION ALL
  SELECT 'y', '__label__', CAST(y AS VARCHAR), y,
         CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)
  FROM yn CROSS JOIN tot),
lns AS ({{LN_LAYER}}),
hxv AS (
  SELECT feat, xval,
         -(list_reduce(list(v * lnv ORDER BY y), (a, b) -> a + b)) AS h
  FROM lns WHERE which = 'c' GROUP BY 1, 2),
hx AS (
  SELECT w.feat,
         CAST(COUNT(*) AS BIGINT) AS n_values,
         list_reduce(
           list((CAST(w.nx AS DOUBLE) / CAST(t.n AS DOUBLE)) * h.h
                ORDER BY w.xval),
           (a, b) -> a + b) AS cond_h
  FROM hxv h JOIN xn w USING (feat, xval) CROSS JOIN tot t
  GROUP BY 1),
hy AS (
  SELECT -(list_reduce(list(v * lnv ORDER BY y), (a, b) -> a + b)) AS h
  FROM lns WHERE which = 'y')
SELECT hx.feat AS feature, hx.n_values,
       hx.cond_h AS cond_entropy_nats,
       hy.h - hx.cond_h AS info_gain_nats
FROM hx CROSS JOIN hy
""".replace("{LN_LAYER}", _sql_ln_layer("stack", "which, feat, xval, y"))


@query("q_ml_info_gain_ranking", _IG_ORACLE)
def q_ml_info_gain_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pr"),
        F.month("o_orderdate").cast("string").alias("mo"),
        F.col("o_orderstatus").alias("st"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("y"),
    )
    # one scan: explode the three features into (feat, xval, y) rows
    cells = (
        base.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("priority").alias("feat"),
                        F.col("pr").alias("xval"),
                    ),
                    F.struct(
                        F.lit("month").alias("feat"),
                        F.col("mo").alias("xval"),
                    ),
                    F.struct(
                        F.lit("status").alias("feat"),
                        F.col("st").alias("xval"),
                    ),
                )
            ).alias("fx"),
            "y",
        )
        .groupBy(
            F.col("fx.feat").alias("feat"),
            F.col("fx.xval").alias("xval"),
            "y",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # bounded (<=40-row) cell table feeds xn/tot/yn + stack branches
        .localCheckpoint(eager=True)
    )
    xn = cells.groupBy("feat", "xval").agg(
        F.sum("c").cast("bigint").alias("nx")
    )
    tot = cells.filter(F.col("feat") == "priority").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    yn = (
        cells.filter(F.col("feat") == "priority")
        .groupBy("y")
        .agg(F.sum("c").cast("bigint").alias("cy"))
    )
    stack = (
        cells.join(F.broadcast(xn), ["feat", "xval"])
        .select(
            F.lit("c").alias("which"),
            "feat",
            "xval",
            "y",
            (F.col("c").cast("double") / F.col("nx").cast("double")).alias(
                "v"
            ),
        )
        .unionAll(
            yn.crossJoin(F.broadcast(tot)).select(
                F.lit("y"),
                F.lit("__label__"),
                F.col("y").cast("string"),
                "y",
                F.col("cy").cast("double") / F.col("n").cast("double"),
            )
        )
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "feat",
            "xval",
            "y",
            "v",
            _pln_finish("red", "kk").alias("lnv"),
        )
        # consumed by hxv AND hy — checkpoint the <=42-row ln table
        .localCheckpoint(eager=True)
    )
    hxv = (
        lns.filter(F.col("which") == "c")
        .groupBy("feat", "xval")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("y", (F.col("v") * F.col("lnv")).alias("t"))
                )
            ).alias("ps")
        )
        .select(
            "feat",
            "xval",
            (-_fold_sum(F.transform("ps", lambda p: p["t"]))).alias("h"),
        )
    )
    hx = (
        hxv.join(F.broadcast(xn), ["feat", "xval"])
        .crossJoin(F.broadcast(tot))
        .groupBy("feat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "xval",
                        (
                            (
                                F.col("nx").cast("double")
                                / F.col("n").cast("double")
                            )
                            * F.col("h")
                        ).alias("t"),
                    )
                )
            ).alias("ps"),
        )
        .select(
            "feat",
            "n_values",
            _fold_sum(F.transform("ps", lambda p: p["t"])).alias("cond_h"),
        )
    )
    hy = (
        lns.filter(F.col("which") == "y")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("y", (F.col("v") * F.col("lnv")).alias("t"))
                )
            ).alias("ps")
        )
        .select((-_fold_sum(F.transform("ps", lambda p: p["t"]))).alias("h"))
    )
    return hx.crossJoin(F.broadcast(hy)).select(
        F.col("feat").alias("feature"),
        "n_values",
        F.col("cond_h").alias("cond_entropy_nats"),
        (F.col("h") - F.col("cond_h")).alias("info_gain_nats"),
    )


# -- X498 population stability index ------------------------------------------
#
# PSI — the model-monitoring drift metric scorecards standardize on:
# PSI = sum_b (p_b - q_b) * (ln p_b - ln q_b) over fixed value bins,
# here the order-value distribution of H1 (months 1-6) vs H2 (months
# 7-12) on a bounded 10-bin grid (60k-wide bins, top bin open). Note
# PSI = KL(P||Q) + KL(Q||P) — the symmetrised KL, which is why every
# term is non-negative. Laplace-smoothed (+1/+10) so both sides are
# strictly positive at any SF; two lns per bin ride one staged kernel;
# the 10-term fold runs in bin order. One conditional-count fact pass.

_PSI_ORACLE = """
WITH bins AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 60000) AS BIGINT), 9) AS bin,
         CAST(COUNT(CASE WHEN EXTRACT(MONTH FROM o_orderdate) <= 6
                         THEN 1 END) AS BIGINT) AS cp,
         CAST(COUNT(CASE WHEN EXTRACT(MONTH FROM o_orderdate) > 6
                         THEN 1 END) AS BIGINT) AS cq
  FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM bins),
pq AS (
  SELECT bin, np, nq,
         (CAST(cp AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(np AS DOUBLE) + CAST(k AS DOUBLE)) AS p,
         (CAST(cq AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(nq AS DOUBLE) + CAST(k AS DOUBLE)) AS q
  FROM bins CROSS JOIN tot),
stack AS (
  SELECT 'p' AS which, bin, p AS v FROM pq
  UNION ALL SELECT 'q', bin, q FROM pq),
lns AS ({LN_LAYER}),
piv AS (
  SELECT bin,
         MAX(CASE WHEN which = 'p' THEN v END) AS p,
         MAX(CASE WHEN which = 'q' THEN v END) AS q,
         MAX(CASE WHEN which = 'p' THEN lnv END) AS lp,
         MAX(CASE WHEN which = 'q' THEN lnv END) AS lq
  FROM lns GROUP BY 1),
fold AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
         list_reduce(list((p - q) * (lp - lq) ORDER BY bin),
                     (a, b) -> a + b) AS psi
  FROM piv)
SELECT t.np, t.nq, f.n_bins, f.psi AS psi_nats
FROM fold f CROSS JOIN tot t
""".replace("{LN_LAYER}", _sql_ln_layer("stack", "which, bin"))


@query("q_ml_psi", _PSI_ORACLE)
def q_ml_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bins = (
        o.groupBy(
            F.least(
                F.floor(F.col("o_totalprice") / 60000).cast("bigint"),
                F.lit(9),
            ).alias("bin")
        )
        .agg(
            F.count(F.when(F.month("o_orderdate") <= 6, 1))
            .cast("bigint")
            .alias("cp"),
            F.count(F.when(F.month("o_orderdate") > 6, 1))
            .cast("bigint")
            .alias("cq"),
        )
        # <=10-row bin table feeds tot + two stack branches: checkpoint
        # so the facts scan runs once
        .localCheckpoint(eager=True)
    )
    tot = bins.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    pq = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "np",
        "nq",
        (
            (F.col("cp").cast("double") + F.lit(1.0))
            / (F.col("np").cast("double") + F.col("k").cast("double"))
        ).alias("p"),
        (
            (F.col("cq").cast("double") + F.lit(1.0))
            / (F.col("nq").cast("double") + F.col("k").cast("double"))
        ).alias("q"),
    )
    stack = pq.select(
        F.lit("p").alias("which"), "bin", F.col("p").alias("v")
    ).unionAll(pq.select(F.lit("q"), "bin", F.col("q")))
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "bin",
            "v",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.groupBy("bin").agg(
        F.max(F.when(F.col("which") == "p", F.col("v"))).alias("p"),
        F.max(F.when(F.col("which") == "q", F.col("v"))).alias("q"),
        F.max(F.when(F.col("which") == "p", F.col("lnv"))).alias("lp"),
        F.max(F.when(F.col("which") == "q", F.col("lnv"))).alias("lq"),
    )
    term = (F.col("p") - F.col("q")) * (F.col("lp") - F.col("lq"))
    fold = piv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.array_sort(
            F.collect_list(F.struct("bin", term.alias("t")))
        ).alias("ps"),
    ).select(
        "n_bins",
        _fold_sum(F.transform("ps", lambda x: x["t"])).alias("psi"),
    )
    return fold.crossJoin(F.broadcast(tot)).select(
        "np", "nq", "n_bins", F.col("psi").alias("psi_nats")
    )


# -- X504 Tukey HSD post-hoc --------------------------------------------------
#
# The post-hoc companion the one-way ANOVA row (X?) stops short of:
# WHICH event-type pairs differ. Studentized-range statistic
# q = |m_i - m_j| / sqrt(MSW/2 * (1/n_i + 1/n_j)) for all 10 unordered
# pairs of the 5 event types. Group moments are exact
# BIGINT/DECIMAL from one keyed pass; SSW folds per-group exact pieces
# (n_i*q_i - s_i^2 is the non-negative Cauchy-Schwarz decimal) in group
# order; the pair table is a bounded 5x5 self-join.

_TUKEY_ORACLE = """
WITH g AS (
  SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                  * CAST(ROUND(value * 100) AS BIGINT)) AS DECIMAL(38,0))
           AS q
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k
  FROM g),
ssw AS (
  SELECT list_reduce(
           list({dtd_piece} / CAST(n AS DOUBLE) ORDER BY et),
           (a, b) -> a + b) AS ssw
  FROM g),
msw AS (
  SELECT s.ssw / CAST(t.nt - t.k AS DOUBLE) AS msw, t.nt, t.k
  FROM ssw s CROSS JOIN tot t),
pairs AS (
  SELECT a.et AS g1, b.et AS g2, a.n AS n1, b.n AS n2,
         CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
           - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS md
  FROM g a JOIN g b ON a.et < b.et)
SELECT p.g1, p.g2, p.n1, p.n2,
       p.md / 100.0 AS mean_diff,
       ABS(p.md) / SQRT(m.msw / CAST(2.0 AS DOUBLE)
                        * (CAST(1.0 AS DOUBLE) / CAST(p.n1 AS DOUBLE)
                           + CAST(1.0 AS DOUBLE) / CAST(p.n2 AS DOUBLE)))
         AS q_stat
FROM pairs p CROSS JOIN msw m
"""


def _tukey_oracle() -> str:
    return _TUKEY_ORACLE.replace(
        "{dtd_piece}",
        _sql_dec_to_double(
            "CAST(q * n - CAST(s AS DECIMAL(38,0)) * s AS DECIMAL(38,0))"
        ),
    )


@query("q_ml_tukey_hsd", _tukey_oracle())
def q_ml_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    # NULL keys/values excluded on both engines (r12 NULL audit): the
    # NULL group folds at opposite ends of the SSW sum order (a 1-ulp
    # divergence), and unmeasured rows must not inflate n.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = (
        ev.groupBy(F.col("event_type").alias("et"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s"),
            F.sum(cents.cast("decimal(28,0)") * cents)
            .cast("decimal(38,0)")
            .alias("q"),
        )
        # 5-row group table feeds tot + ssw + both pair sides:
        # checkpoint so the facts scan runs once
        .localCheckpoint(eager=True)
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    piece = dec_to_double(
        (F.col("q") * F.col("n") - F.col("s").cast("decimal(38,0)") * F.col("s"))
        .cast("decimal(38,0)")
    ) / F.col("n").cast("double")
    ssw = g.agg(
        F.array_sort(
            F.collect_list(F.struct("et", piece.alias("t")))
        ).alias("ps")
    ).select(_fold_sum(F.transform("ps", lambda p: p["t"])).alias("ssw"))
    msw = ssw.crossJoin(F.broadcast(tot)).select(
        (F.col("ssw") / (F.col("nt") - F.col("k")).cast("double")).alias(
            "msw"
        )
    )
    a = g.select(
        F.col("et").alias("g1"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
    )
    b = g.select(
        F.col("et").alias("g2"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
    )
    pairs = a.join(b, F.col("g1") < F.col("g2")).select(
        "g1",
        "g2",
        "n1",
        "n2",
        (
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s2").cast("double") / F.col("n2").cast("double")
        ).alias("md"),
    )
    return pairs.crossJoin(F.broadcast(msw)).select(
        "g1",
        "g2",
        "n1",
        "n2",
        (F.col("md") / F.lit(100.0)).alias("mean_diff"),
        (
            F.abs(F.col("md"))
            / F.sqrt(
                F.col("msw")
                / F.lit(2.0)
                * (
                    F.lit(1.0) / F.col("n1").cast("double")
                    + F.lit(1.0) / F.col("n2").cast("double")
                )
            )
        ).alias("q_stat"),
    )


# -- X505 Bland-Altman agreement ----------------------------------------------
#
# Method-agreement analysis between two measurements of the same
# quantity: the order HEADER total (o_totalprice) vs the recomputed
# LINE total (sum of extendedprice*(1-discount)*(1+tax)) — which also
# makes it a data-quality reconciliation readout. Everything stays in
# exact integer MICRO-units (the per-line amount is a 6-dp-exact
# product of 2-dp factors, so ROUND(amount*1e6) is exact; the header's
# cents scale to micros losslessly), so bias and the limits of
# agreement assemble from exact BIGINT/DECIMAL moments only.

_BLAND_ALTMAN_ORACLE = """
WITH lines AS (
  SELECT l_orderkey AS k,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 1000000) AS BIGINT))
              AS BIGINT) AS b_micro
  FROM lineitem GROUP BY 1),
j AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000 - b_micro AS d
  FROM orders JOIN lines ON o_orderkey = k),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS sd,
         CAST(SUM(CAST(d AS DECIMAL(28,0)) * d) AS DECIMAL(38,0)) AS sdd
  FROM j)
SELECT n,
       CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS bias,
       SQRT({dtd_var} / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 1e6
         AS sd_diff,
       CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
         - CAST(1.96 AS DOUBLE)
           * SQRT({dtd_var} / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
           / 1e6 AS loa_lo,
       CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
         + CAST(1.96 AS DOUBLE)
           * SQRT({dtd_var} / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
           / 1e6 AS loa_hi
FROM m
"""


def _bland_altman_oracle() -> str:
    return _BLAND_ALTMAN_ORACLE.replace(
        "{dtd_var}",
        _sql_dec_to_double(
            "CAST(sdd * n - CAST(sd AS DECIMAL(38,0)) * sd AS DECIMAL(38,0))"
        ),
    )


@query("q_ml_bland_altman", _bland_altman_oracle())
def q_ml_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    amt_micro = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000
    ).cast("bigint")
    lines = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(amt_micro).cast("bigint").alias("b_micro")
    )
    j = o.join(lines, F.col("o_orderkey") == F.col("k")).select(
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint") * 10000
            - F.col("b_micro")
        ).alias("d")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d").cast("decimal(28,0)") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("sdd"),
        # 1-row moment table referenced by four output expressions —
        # checkpoint so the orders-lines join runs once (plan audit
        # showed it re-derived twice)
    ).localCheckpoint(eager=True)
    var_piece = dec_to_double(
        (F.col("sdd") * F.col("n") - F.col("sd").cast("decimal(38,0)") * F.col("sd"))
        .cast("decimal(38,0)")
    )
    nd = F.col("n").cast("double")
    bias = F.col("sd").cast("double") / nd / F.lit(1e6)
    sd_diff = (
        F.sqrt(var_piece / (nd * (F.col("n") - 1).cast("double")))
        / F.lit(1e6)
    )
    return m.select(
        "n",
        bias.alias("bias"),
        sd_diff.alias("sd_diff"),
        (bias - F.lit(1.96) * sd_diff).alias("loa_lo"),
        (bias + F.lit(1.96) * sd_diff).alias("loa_hi"),
    )


# -- X506 two-sample Poisson rate test ----------------------------------------
#
# The count-metric A/B readout q_ml_ab_ztest (proportions) can't give:
# are purchases-per-active-day different between the first and second
# half of the month (the events fixture spans ~one month)?
# z = (r1 - r2) / sqrt(k1/t1^2 + k2/t2^2) with exact integer event
# counts and exposure days. One conditional-count pass.

_POISSON_RATE_ORACLE = """
WITH h AS (
  SELECT CAST(COUNT(CASE WHEN EXTRACT(DAY FROM ts) <= 15
                         AND event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS k1,
         CAST(COUNT(CASE WHEN EXTRACT(DAY FROM ts) > 15
                         AND event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS k2,
         CAST(COUNT(DISTINCT CASE WHEN EXTRACT(DAY FROM ts) <= 15
                                  THEN CAST(ts AS DATE) END)
              AS BIGINT) AS t1,
         CAST(COUNT(DISTINCT CASE WHEN EXTRACT(DAY FROM ts) > 15
                                  THEN CAST(ts AS DATE) END)
              AS BIGINT) AS t2
  FROM events)
SELECT k1, k2, t1, t2,
       CAST(k1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS rate1,
       CAST(k2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS rate2,
       (CAST(k1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        - CAST(k2 AS DOUBLE) / CAST(t2 AS DOUBLE))
         / SQRT(CAST(k1 AS DOUBLE)
                  / (CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
                + CAST(k2 AS DOUBLE)
                  / (CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE))) AS z_stat
FROM h
"""


@query("q_ml_poisson_rate_test", _POISSON_RATE_ORACLE)
def q_ml_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h1 = F.dayofmonth("ts") <= 15
    pur = F.col("event_type") == "purchase"
    h = ev.agg(
        F.count(F.when(h1 & pur, 1)).cast("bigint").alias("k1"),
        F.count(F.when(~h1 & pur, 1)).cast("bigint").alias("k2"),
        F.countDistinct(F.when(h1, F.col("ts").cast("date")))
        .cast("bigint")
        .alias("t1"),
        F.countDistinct(F.when(~h1, F.col("ts").cast("date")))
        .cast("bigint")
        .alias("t2"),
    )
    r1 = F.col("k1").cast("double") / F.col("t1").cast("double")
    r2 = F.col("k2").cast("double") / F.col("t2").cast("double")
    t1d, t2d = F.col("t1").cast("double"), F.col("t2").cast("double")
    return h.select(
        "k1",
        "k2",
        "t1",
        "t2",
        r1.alias("rate1"),
        r2.alias("rate2"),
        (
            (r1 - r2)
            / F.sqrt(
                F.col("k1").cast("double") / (t1d * t1d)
                + F.col("k2").cast("double") / (t2d * t2d)
            )
        ).alias("z_stat"),
    )


# -- X512 Box-Cox transform selection (portable-lambda grid) -------------------
#
# The feature-engineering classic: pick the Box-Cox power transform
# t_l(y) = (y^l - 1)/l maximizing the profile log-likelihood
# LL(l) = -(n/2) * ln(sigma2_l) + (l - 1) * SUM(ln y). The lambda grid
# {-1, -0.5, 0, 0.5, 1, 2} is exactly the set whose powers are portable
# IEEE primitives (1/y, 1/sqrt, ln, sqrt, identity, square) — no
# libm pow() anywhere. Lane choice per the round-9 guide: lambda 1/2
# ride EXACT decimal moments (integer cents and their squares/fourth
# powers); the irrational transforms ride qsum (sqrt-y, 1/sqrt-y, 1/y,
# 1/y^2, ln y, ln^2 y — six distributed quantized sums, each inside the
# |x| < 1e6 domain for cents <= ~50k); ln y itself is the inverted
# portable kernel applied PER ROW (-pln(1/y)), and the six final
# ln(sigma2) values ride a second 6-row staged kernel. One fact pass.

_BOXCOX_ORACLE = """
WITH y0 AS (
  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events
  WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
stack AS (
  SELECT event_id, y,
         CAST(1.0 AS DOUBLE) / CAST(y AS DOUBLE) AS v
  FROM y0),
lns AS ({LN_LAYER}),
rows_t AS (
  SELECT y, -(lnv) AS lny, lnv * lnv AS lny2,
         SQRT(CAST(y AS DOUBLE)) AS sq,
         CAST(1.0 AS DOUBLE) / SQRT(CAST(y AS DOUBLE)) AS isq,
         CAST(1.0 AS DOUBLE) / CAST(y AS DOUBLE) AS iy,
         (CAST(1.0 AS DOUBLE) / CAST(y AS DOUBLE))
           * (CAST(1.0 AS DOUBLE) / CAST(y AS DOUBLE)) AS iy2
  FROM lns),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(y AS DECIMAL(28,0)) * y) AS DECIMAL(38,0)) AS sy2,
         CAST(SUM(CAST(CAST(y AS DECIMAL(19,0)) * y AS DECIMAL(38,0))
                  * (CAST(y AS DECIMAL(19,0)) * y)) AS DECIMAL(38,0)) AS sy4,
         {Q_SQ}, {Q_ISQ}, {Q_IY}, {Q_IY2}, {Q_LNY}, {Q_LNY2}
  FROM rows_t),
sig AS (
  SELECT n, q_lny,
         CAST(-1.0 AS DOUBLE) AS l_m1,
         (q_iy2 / CAST(n AS DOUBLE))
           - (q_iy / CAST(n AS DOUBLE)) * (q_iy / CAST(n AS DOUBLE)) AS s_m1,
         CAST(-0.5 AS DOUBLE) AS l_m05,
         CAST(4.0 AS DOUBLE)
           * ((q_iy / CAST(n AS DOUBLE))
              - (q_isq / CAST(n AS DOUBLE)) * (q_isq / CAST(n AS DOUBLE)))
           AS s_m05,
         CAST(0.0 AS DOUBLE) AS l_0,
         (q_lny2 / CAST(n AS DOUBLE))
           - (q_lny / CAST(n AS DOUBLE)) * (q_lny / CAST(n AS DOUBLE)) AS s_0,
         CAST(0.5 AS DOUBLE) AS l_05,
         CAST(4.0 AS DOUBLE)
           * ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
              - (q_sq / CAST(n AS DOUBLE)) * (q_sq / CAST(n AS DOUBLE)))
           AS s_05,
         CAST(1.0 AS DOUBLE) AS l_1,
         {DTD_D1} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS s_1,
         CAST(2.0 AS DOUBLE) AS l_2,
         {DTD_D2}
           / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
           AS s_2
  FROM m),
lstack AS (
  SELECT n, q_lny, l_m1 AS lam, s_m1 AS sig2,
         CAST(1.0 AS DOUBLE) / s_m1 AS v FROM sig
  UNION ALL SELECT n, q_lny, l_m05, s_m05, CAST(1.0 AS DOUBLE) / s_m05 FROM sig
  UNION ALL SELECT n, q_lny, l_0, s_0, CAST(1.0 AS DOUBLE) / s_0 FROM sig
  UNION ALL SELECT n, q_lny, l_05, s_05, CAST(1.0 AS DOUBLE) / s_05 FROM sig
  UNION ALL SELECT n, q_lny, l_1, s_1, CAST(1.0 AS DOUBLE) / s_1 FROM sig
  UNION ALL SELECT n, q_lny, l_2, s_2, CAST(1.0 AS DOUBLE) / s_2 FROM sig),
lns2 AS ({LN_LAYER2})
SELECT lam AS lambda, sig2 AS sigma2,
       CAST(-0.5 AS DOUBLE) * CAST(n AS DOUBLE) * (-(lnv))
         + (lam - CAST(1.0 AS DOUBLE)) * q_lny AS loglik_nats
FROM lns2
"""


def _boxcox_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import (
        sql_dec_to_double,
        sql_ln_layer,
        sql_qsum,
    )

    return (
        _BOXCOX_ORACLE.replace(
            "{LN_LAYER}", sql_ln_layer("stack", "event_id, y")
        )
        .replace("{LN_LAYER2}", sql_ln_layer("lstack", "n, q_lny, lam, sig2"))
        .replace("{Q_SQ}", sql_qsum("sq", "q_sq"))
        .replace("{Q_ISQ}", sql_qsum("isq", "q_isq"))
        .replace("{Q_IY}", sql_qsum("iy", "q_iy"))
        .replace("{Q_IY2}", sql_qsum("iy2", "q_iy2"))
        .replace("{Q_LNY}", sql_qsum("lny", "q_lny"))
        .replace("{Q_LNY2}", sql_qsum("lny2", "q_lny2"))
        .replace(
            "{DTD_D1}",
            sql_dec_to_double(
                "CAST(n * (sy2 - 2 * sy + n)"
                " - CAST(sy - n AS DECIMAL(38,0)) * (sy - n)"
                " AS DECIMAL(38,0))"
            ),
        )
        .replace(
            "{DTD_D2}",
            sql_dec_to_double(
                "CAST(n * (sy4 - 2 * sy2 + n)"
                " - CAST(sy2 - n AS DECIMAL(38,0)) * (sy2 - n)"
                " AS DECIMAL(38,0))"
            ),
        )
    )


@query("q_ml_boxcox_grid", _boxcox_oracle())
def q_ml_boxcox_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double, qsum

    ev = load_table(spark, sf_dir, "events")
    # Box-Cox domain is y > 0 — zero-cent events excluded in BOTH
    # engines (6 exist at sf0.1)
    y0 = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("bigint").alias("y")
    ).filter(F.col("y") > 0)
    # The portable-ln kernel below is the single most expression-heavy
    # projection in the registry, and events.parquet sits under the
    # loader's widen threshold at every fixture SF — one row group, one
    # task, the whole kernel serialized (r13 ML-lane decomposition;
    # same §1.2/§2 fix as topk_exact's corpus widening). No-op at scale.
    from mini_etl_project_spark.session import ensure_parallelism

    y0 = ensure_parallelism(y0)
    yd = F.col("y").cast("double")
    lns = (
        y0.withColumn("v", F.lit(1.0) / yd)
        .withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "y", "v", _pln_finish("red", "kk").alias("lnv")
        )
    )
    rows_t = lns.select(
        "y",
        (-F.col("lnv")).alias("lny"),
        (F.col("lnv") * F.col("lnv")).alias("lny2"),
        F.sqrt(yd).alias("sq"),
        (F.lit(1.0) / F.sqrt(yd)).alias("isq"),
        (F.lit(1.0) / yd).alias("iy"),
        ((F.lit(1.0) / yd) * (F.lit(1.0) / yd)).alias("iy2"),
    )
    m = rows_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y").cast("decimal(28,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sy2"),
        F.sum(
            (F.col("y").cast("decimal(19,0)") * F.col("y"))
            .cast("decimal(38,0)")
            * (F.col("y").cast("decimal(19,0)") * F.col("y"))
        )
        .cast("decimal(38,0)")
        .alias("sy4"),
        qsum("sq", "q_sq"),
        qsum("isq", "q_isq"),
        qsum("iy", "q_iy"),
        qsum("iy2", "q_iy2"),
        qsum("lny", "q_lny"),
        qsum("lny2", "q_lny2"),
    ).localCheckpoint(eager=True)  # 1 row feeding six lstack branches
    nd = F.col("n").cast("double")
    d1 = dec_to_double(
        (
            F.col("n") * (F.col("sy2") - 2 * F.col("sy") + F.col("n"))
            - (F.col("sy") - F.col("n")).cast("decimal(38,0)")
            * (F.col("sy") - F.col("n"))
        ).cast("decimal(38,0)")
    )
    d2 = dec_to_double(
        (
            F.col("n") * (F.col("sy4") - 2 * F.col("sy2") + F.col("n"))
            - (F.col("sy2") - F.col("n")).cast("decimal(38,0)")
            * (F.col("sy2") - F.col("n"))
        ).cast("decimal(38,0)")
    )
    sig = m.select(
        "n",
        "q_lny",
        (
            F.col("q_iy2") / nd - (F.col("q_iy") / nd) * (F.col("q_iy") / nd)
        ).alias("s_m1"),
        (
            F.lit(4.0)
            * (
                F.col("q_iy") / nd
                - (F.col("q_isq") / nd) * (F.col("q_isq") / nd)
            )
        ).alias("s_m05"),
        (
            F.col("q_lny2") / nd
            - (F.col("q_lny") / nd) * (F.col("q_lny") / nd)
        ).alias("s_0"),
        (
            F.lit(4.0)
            * (
                F.col("sy").cast("double") / nd
                - (F.col("q_sq") / nd) * (F.col("q_sq") / nd)
            )
        ).alias("s_05"),
        (d1 / (nd * nd)).alias("s_1"),
        (d2 / (F.lit(4.0) * nd * nd)).alias("s_2"),
    )
    lstack = None
    for lam, col in (
        (-1.0, "s_m1"),
        (-0.5, "s_m05"),
        (0.0, "s_0"),
        (0.5, "s_05"),
        (1.0, "s_1"),
        (2.0, "s_2"),
    ):
        part = sig.select(
            "n",
            "q_lny",
            F.lit(lam).alias("lam"),
            F.col(col).alias("sig2"),
            (F.lit(1.0) / F.col(col)).alias("v"),
        )
        lstack = part if lstack is None else lstack.unionAll(part)
    lns2 = (
        lstack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "n",
            "q_lny",
            "lam",
            "sig2",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    return lns2.select(
        F.col("lam").alias("lambda"),
        F.col("sig2").alias("sigma2"),
        (
            F.lit(-0.5) * F.col("n").cast("double") * (-F.col("lnv"))
            + (F.col("lam") - F.lit(1.0)) * F.col("q_lny")
        ).alias("loglik_nats"),
    )
