"""Similarity-search queries over ``embeddings`` (X3 exact, X4 ANN).

The exact top-k is fully oracle-checked: both engines compute cosine from
exact-decimal dot products and squared norms, so scores AND rankings are
bit-identical. The LSH ANN path is ALSO hash-checked end-to-end
(``q_sim_ann_lsh``, ``q_sim_lsh_topk``: md5 hyperplanes + exact-sign
candidate sets re-derived in SQL). The remaining ANN variants (IVF, PQ,
spark.ml BRP-LSH) are rows-only (no oracle); their recall against the
exact top-k is asserted in tests/test_extensions.py
(test_ann_recall_vs_exact, test_ivf_recall_vs_exact) and PQ's
full-rerank degenerate case is oracle-exact (``q_sim_topk_pq_rerank``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.similarity import (
    RandomHyperplaneLSH,
    hyperplane_sigs_sql,
    topk_exact,
)
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.session import load_table

_DIM = 64
_K = 5
_NQ = 10  # query vectors: vec_id < 10

_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {_NQ}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
dots AS (
  SELECT query_id, neighbor_id,
         CAST(SUM(CAST(CAST(qv[t.i] AS DOUBLE) * CAST(cv[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM q, c, unnest(generate_series(1, {_DIM})) t(i)
  WHERE query_id <> neighbor_id
  GROUP BY query_id, neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         dot / (SQRT(nq.sq) * SQRT(nc.sq)) AS cosine
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_K}
"""


@query("q_sim_topk_exact", _TOPK_ORACLE)
def q_sim_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    return topk_exact(e, queries, k=_K)


# -- X4 LSH, fully oracle-checked ------------------------------------------
# The hyperplanes are md5-derived (operators/similarity.py::_hyperplane),
# so DuckDB can re-derive every plane component bit-for-bit: first 8 md5
# bytes as UBIGINT → /2^63 − 1 (integer→double rounding is IEEE
# round-half-even in both engines, and /2^63 only scales the exponent).
# The sign-bit dots go through the same decimal accumulation both sides,
# so bucket ids — and therefore the CANDIDATE SETS — are reproducible,
# not just the scoring: the LSH path is hash-checked end-to-end.

_LSH_BITS, _LSH_TABLES = 3, 4
_LSH_SIGS = hyperplane_sigs_sql(_LSH_BITS, _LSH_TABLES, _DIM, {"sigs": "embeddings"})


def _lsh_topk_oracle(bits: int, tables: int) -> str:
    """DuckDB twin of ``RandomHyperplaneLSH(_DIM, bits, tables).topk``."""
    sigs = hyperplane_sigs_sql(bits, tables, _DIM, {"sigs": "embeddings"})
    return f"""
WITH {sigs},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {_NQ} AND q.vec_id <> c.vec_id),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
dots AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id,
       unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cand.query_id, cand.neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         dot / (SQRT(nq.sq) * SQRT(nc.sq)) AS cosine
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_K}
"""


@query("q_sim_ann_lsh", _lsh_topk_oracle(bits=3, tables=8))
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: deterministic random-hyperplane LSH ANN top-k, 3 bits × 8
    tables (recall vs exact asserted in tests); q_sim_lsh_topk is the
    3 × 4 sibling."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    lsh = RandomHyperplaneLSH(dim=_DIM, bits=3, tables=8)
    return lsh.topk(e, queries, k=_K)


@query("q_sim_lsh_topk", _lsh_topk_oracle(_LSH_BITS, _LSH_TABLES))
def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 hash-checked: LSH ANN top-k, 3 bits × 4 tables — the oracle
    re-derives the md5 hyperplanes and the candidate sets in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    lsh = RandomHyperplaneLSH(dim=_DIM, bits=_LSH_BITS, tables=_LSH_TABLES)
    return lsh.topk(e, queries, k=_K)


@query("q_sim_ann_ivf")
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (IVF path): k-means coarse quantization + exact search in the
    nprobe nearest cells (rows-only; recall asserted in tests)."""
    from mini_etl_project_spark.operators.similarity import IVFIndex

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    return IVFIndex(n_cells=8, nprobe=3).fit(e).topk(e, queries, k=_K)


@query("q_sim_ann_pq")
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (PQ path): product-quantized codes + ADC scan + exact rerank of
    the top-25 candidates (rows-only; recall + determinism asserted in
    tests/test_extensions.py::test_pq_recall_and_compression)."""
    from mini_etl_project_spark.operators.similarity import PQIndex

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    return PQIndex(m=16, k_codes=64).fit(e).topk(e, queries, k=_K, rerank=25)


# PQ with rerank >= corpus degenerates to EXACT L2 top-k — which makes the
# whole encode→ADC→candidate→rerank path oracle-checkable: the ADC stage
# only selects candidates (all of them, here), and the rerank distance is
# built from three exact-decimal sums (||q||² − 2q·c + ||c||²) the oracle
# recomputes bit-for-bit.

_PQ_RERANK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {_NQ}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
dots AS (
  SELECT query_id, neighbor_id,
         CAST(SUM(CAST(CAST(qv[t.i] AS DOUBLE) * CAST(cv[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM q, c, unnest(generate_series(1, {_DIM})) t(i)
  WHERE query_id <> neighbor_id
  GROUP BY query_id, neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         (nq.sq - 2.0 * dot) + nc.sq AS dist
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dist, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, dist, rank FROM ranked WHERE rank <= {_K}
"""


@query("q_sim_topk_pq_rerank", _PQ_RERANK_ORACLE)
def q_sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.similarity import PQIndex

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    return PQIndex(m=16, k_codes=64).fit(e).topk(
        e, queries, k=_K, rerank=1_000_000
    )


@query("q_sim_ann_ml_brp")
def q_sim_ann_ml_brp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (library-native): spark.ml BucketedRandomProjectionLSH top-k by
    Euclidean distance (rows-only; seeded model, deterministic)."""
    from mini_etl_project_spark.operators.similarity import ml_brp_lsh

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    return ml_brp_lsh(e, queries, k=_K)


# -- X482: MLlib-BRP ANN accounting twin (VERDICT r8 ask #5) -----------------
# The last production ANN row without an oracle-exact companion:
# q_sim_ann_ml_brp's bucketing lives inside spark.ml (seeded Gaussian
# hyperplanes the DuckDB oracle cannot re-derive), so unlike X321/X379/
# X380 the candidate sets themselves aren't SQL-reproducible. The twin
# therefore verifies the INVARIANTS any correct BRP index must satisfy,
# all as oracle-exact integers in one row:
#   n_queries      — probe-set cardinality (oracle: COUNT);
#   n_returned     — must be exactly n_queries*k (corpus >> k and the
#                    inf-threshold similarity join always yields >= k
#                    candidates per query at every shipped SF);
#   n_dist_bad     — returned MLlib distances re-verified against the
#                    exact-decimal Euclidean recomputation (rel. tol.
#                    1e-6, generous vs the ~1e-14 double-path drift);
#   recall_floor_ok — recall@k vs the in-Spark exact Euclidean top-k
#                    twin clears a conservative 60 % floor (measured
#                    92-94 % at sf0.001/0.01/0.1).

_BRP_RECALL_FLOOR_PPM = 600_000

_BRP_ACCT_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) * {_K} AS BIGINT) AS n_returned,
       CAST(0 AS BIGINT) AS n_dist_bad,
       1 AS recall_floor_ok
FROM embeddings WHERE vec_id < {_NQ}
"""


@query("q_sim_ann_ml_brp_acct", _BRP_ACCT_ORACLE)
def q_sim_ann_ml_brp_acct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mini_etl_project_spark.functions.vectors import dot_exact, sqnorm_exact
    from mini_etl_project_spark.operators.similarity import ml_brp_lsh

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    # two consumers below (distance re-verify + recall hits): materialize
    # the tiny (NQ*k-row) ANN result once so the MLlib similarity join
    # doesn't re-execute per consumer (house pattern, see BLEU/chrF)
    ann = (
        ml_brp_lsh(e, queries, k=_K)
        .select("query_id", "neighbor_id", "dist")
        .localCheckpoint(eager=False)
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    # exact Euclidean top-k twin (NQ queries x corpus — the bounded
    # brute-force side every accounting twin uses; X3's cosine twin
    # ranks a different metric, so rank Euclidean here)
    d2 = (
        sqnorm_exact("qv") - 2 * dot_exact("qv", "cv") + sqnorm_exact("cv")
    ).alias("d2")
    pairs = qv.crossJoin(cv).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        pairs.select("query_id", "neighbor_id", d2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _K)
        .select("query_id", "neighbor_id")
    )
    # re-verify MLlib's reported distance against the exact recomputation
    checked = ann.join(qv, "query_id").join(cv, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        "dist",
        F.sqrt(
            F.greatest(
                sqnorm_exact("qv")
                - 2 * dot_exact("qv", "cv")
                + sqnorm_exact("cv"),
                F.lit(0.0),
            )
        ).alias("exact_dist"),
    )
    n_queries = queries.select(F.count(F.lit(1)).cast("bigint").alias("n"))
    agg = checked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned"),
        F.sum(
            (
                F.abs(F.col("dist") - F.col("exact_dist"))
                > 1e-6 * (F.lit(1.0) + F.col("exact_dist"))
            ).cast("long")
        )
        .cast("bigint")
        .alias("n_dist_bad"),
    )
    hit_cnt = (
        ann.join(exact, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    return (
        n_queries.crossJoin(agg)
        .crossJoin(hit_cnt)
        .select(
            F.col("n").alias("n_queries"),
            "n_returned",
            "n_dist_bad",
            (
                F.col("hits") * 1_000_000
                >= F.lit(_BRP_RECALL_FLOOR_PPM) * F.col("n") * _K
            )
            .cast("int")
            .alias("recall_floor_ok"),
        )
    )


# -- X3 threshold variant: all pairs above a cosine floor, per label -------
# (exercises the similarity join as an aggregation feed; exact oracle)

_PAIRS_ORACLE = f"""
WITH sub AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 120),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM sub, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(CAST(a.embedding[t.i] AS DOUBLE)
                       * CAST(b.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM sub a, sub b, unnest(generate_series(1, {_DIM})) t(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id, a.label, b.label),
scored AS (
  SELECT id_a, id_b, label_a, label_b,
         dot / (SQRT(na.sq) * SQRT(nb.sq)) AS cosine
  FROM dots JOIN norms na ON na.vec_id = id_a
            JOIN norms nb ON nb.vec_id = id_b)
SELECT CAST(label_a = label_b AS INT) AS same_label,
       COUNT(*) AS n_pairs,
       MIN(cosine) AS min_cos, MAX(cosine) AS max_cos
FROM scored WHERE cosine >= 0.28
GROUP BY CAST(label_a = label_b AS INT)
"""


@query("q_sim_pairs_threshold", _PAIRS_ORACLE)
def q_sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.functions.vectors import cosine_exact

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("vb"),
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_exact("va", "vb"))
        .filter(F.col("cosine") >= 0.28)
    )
    return pairs.groupBy(
        (F.col("label_a") == F.col("label_b")).cast("int").alias("same_label")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.min("cosine").alias("min_cos"),
        F.max("cosine").alias("max_cos"),
    )


# -- X202 late-interaction MaxSim scoring (ColBERT-style) ------------------
#
# Modern multi-vector retrieval: a "document" is a BAG of vectors (here
# 4 consecutive embedding rows), and relevance of query bag Q to doc
# bag D is MaxSim = Σ_{q∈Q} max_{d∈D} q·d — late interaction, the
# middle ground between single-vector ANN and full cross-attention.
# Dot products are exact int64 (milli-unit quantization); per (query
# vector, doc bag) the max, then the sum per (query bag, doc bag);
# top-3 docs per query by (score desc, doc id).
#
# Scale posture: the bounded query bags broadcast; one map-side pass
# computes all pairwise dots (zip_with fold, JVM-side), then two keyed
# aggregations.  For corpus-scale query sets the ANN operators provide
# candidate pruning first.

_MAXSIM_NQ = 2  # query bags (of 4 vectors each)
_MAXSIM_TOP = 3

_MAXSIM_ORACLE = f"""
WITH pts AS (
  SELECT vec_id // 4 AS bag, vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
  FROM embeddings, generate_series(1, 64) g(i)),
dots AS (
  SELECT q.bag AS qbag, q.vec_id AS qv, d.bag AS dbag, d.vec_id AS dv,
         CAST(SUM(q.x * d.x) AS BIGINT) AS dot
  FROM pts q JOIN pts d ON q.i = d.i
  WHERE q.bag < {_MAXSIM_NQ} AND d.bag >= {_MAXSIM_NQ}
  GROUP BY q.bag, q.vec_id, d.bag, d.vec_id),
best AS (
  SELECT qbag, qv, dbag, MAX(dot) AS mx
  FROM dots GROUP BY qbag, qv, dbag),
scores AS (
  SELECT qbag, dbag, CAST(SUM(mx) AS BIGINT) AS maxsim
  FROM best GROUP BY qbag, dbag),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qbag
                               ORDER BY maxsim DESC, dbag) AS rk
  FROM scores)
SELECT qbag, dbag, maxsim, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_MAXSIM_TOP}
"""


@query("q_sim_maxsim", _MAXSIM_ORACLE)
def q_sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding"),
        lambda e: F.round(e.cast("double") * 1000).cast("bigint"),
    )
    bags = emb.select(
        F.expr("vec_id DIV 4").alias("bag"),
        F.col("vec_id"),
        quant.alias("qa"),
    )
    q = bags.filter(F.col("bag") < _MAXSIM_NQ).select(
        F.col("bag").alias("qbag"),
        F.col("vec_id").alias("qv"),
        F.col("qa").alias("qvec"),
    )
    d = bags.filter(F.col("bag") >= _MAXSIM_NQ).select(
        F.col("bag").alias("dbag"),
        F.col("vec_id").alias("dv"),
        F.col("qa").alias("dvec"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("dvec"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dots = d.join(F.broadcast(q)).select(
        "qbag", "qv", "dbag", "dv", dot.alias("dot")
    )
    best = dots.groupBy("qbag", "qv", "dbag").agg(F.max("dot").alias("mx"))
    scores = best.groupBy("qbag", "dbag").agg(
        F.sum("mx").cast("bigint").alias("maxsim")
    )
    w = Window.partitionBy("qbag").orderBy(F.desc("maxsim"), "dbag")
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _MAXSIM_TOP)
        .select("qbag", "dbag", "maxsim", "rk")
    )


# -- X206 MMR diverse selection (greedy, 5 unrolled rounds) ----------------
#
# Maximal Marginal Relevance — the dedup-aware selection step between
# retrieval and context assembly (and the diversity heuristic for
# training-subset curation): greedily pick the candidate maximizing
# 0.7·relevance − 0.3·max-similarity-to-already-selected.  All scores
# are exact int64 (milli-quantized dots, integer λ weights), ties break
# to the smallest vec id, and 5 greedy rounds unroll in the oracle
# (kmeans-style).  The ENGINE never does all-pairs: each round joins
# candidates against the ≤5-row broadcast selected set; only the
# oracle brute-forces candidate×candidate.

_MMR_K = 5
_MMR_QID = 0
_MMR_MIN_TID = 20


def _mmr_oracle() -> str:
    parts = [
        f"""
WITH pts AS MATERIALIZED (
  SELECT vec_id AS id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
  FROM embeddings, generate_series(1, 64) g(i)),
rel AS MATERIALIZED (
  SELECT t.id, CAST(SUM(q.x * t.x) AS BIGINT) AS r
  FROM pts q JOIN pts t ON q.i = t.i
  WHERE q.id = {_MMR_QID} AND t.id >= {_MMR_MIN_TID}
  GROUP BY t.id),
alld AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib, CAST(SUM(a.x * b.x) AS BIGINT) AS d
  FROM pts a JOIN pts b ON a.i = b.i
  WHERE a.id >= {_MMR_MIN_TID} AND b.id >= {_MMR_MIN_TID}
  GROUP BY a.id, b.id),
s1 AS MATERIALIZED (
  SELECT id, r, 700 * r AS score, 1 AS rk
  FROM rel ORDER BY 700 * r DESC, id LIMIT 1)"""
    ]
    prev_sel = "s1"
    sels = ["s1"]
    for k in range(2, _MMR_K + 1):
        union = " UNION ALL ".join(f"SELECT id FROM {s}" for s in sels)
        parts.append(
            f""",
c{k} AS MATERIALIZED (
  SELECT rel.id, rel.r,
         700 * rel.r - 300 * (SELECT MAX(alld.d) FROM alld
                              WHERE alld.ia = rel.id
                                AND alld.ib IN ({union})) AS score
  FROM rel WHERE rel.id NOT IN ({union})),
s{k} AS MATERIALIZED (
  SELECT id, r, score, {k} AS rk
  FROM c{k} ORDER BY score DESC, id LIMIT 1)"""
        )
        sels.append(f"s{k}")
    parts.append(
        "\n"
        + "\nUNION ALL\n".join(
            f"SELECT CAST(rk AS BIGINT) AS rk, id, r, CAST(score AS BIGINT)"
            f" AS score FROM {s}"
            for s in sels
        )
    )
    return "".join(parts)


@query("q_sim_mmr_select", _mmr_oracle())
def q_sim_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding"),
        lambda e: F.round(e.cast("double") * 1000).cast("bigint"),
    )
    pts = emb.select(F.col("vec_id").alias("id"), quant.alias("v"))
    qv = pts.filter(F.col("id") == _MMR_QID).select(
        F.col("v").alias("qvec")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    cand = (
        pts.filter(F.col("id") >= _MMR_MIN_TID)
        .crossJoin(F.broadcast(qv))
        .select("id", "v", dot("v", "qvec").alias("r"))
        .localCheckpoint(eager=True)
    )
    first = (
        cand.orderBy(F.desc(F.col("r") * 700), "id")
        .limit(1)
        .select("id", "v", "r", (F.col("r") * 700).alias("score"),
                F.lit(1).alias("rk"))
    )
    selected = first.localCheckpoint(eager=True)
    for k in range(2, _MMR_K + 1):
        sel_v = selected.select(
            F.col("id").alias("sid"), F.col("v").alias("sv")
        )
        scored = (
            cand.join(selected.select("id"), "id", "left_anti")
            .crossJoin(F.broadcast(sel_v))
            .select("id", "v", "r", dot("v", "sv").alias("d"))
            .groupBy("id", "v", "r")
            .agg(F.max("d").alias("maxd"))
            .select(
                "id", "v", "r",
                (F.col("r") * 700 - F.col("maxd") * 300).alias("score"),
            )
        )
        pick = (
            scored.orderBy(F.desc("score"), "id")
            .limit(1)
            .select("id", "v", "r", "score", F.lit(k).alias("rk"))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        F.col("rk").cast("bigint").alias("rk"),
        "id",
        "r",
        F.col("score").cast("bigint").alias("score"),
    )


# -- X321: ANN quality accounting, fully oracle-checked --------------------
# VERDICT r5 #8: the production ANN variants (q_sim_ann_ivf/ml_brp/pq)
# are rows-only by design (their scoring floats ride implementation-
# defined float accumulation). This query gives the ANN path a REAL
# correctness row: per probe query it emits the LSH candidate-set size
# and the recall@k hit count against the exact brute-force twin — all
# INTEGER columns computed in-plan, and the oracle re-derives the
# md5 hyperplanes, the candidate sets, both top-k rankings, and the
# intersection in pure SQL. If the driver hashes this green, the whole
# ANN pipeline (bucketing, candidate generation, ranking, recall math)
# is proven end-to-end, not just row-counted.

_ANN_RECALL_ORACLE = f"""
WITH {_LSH_SIGS},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {_NQ} AND q.vec_id <> c.vec_id),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
cdots AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id,
       unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cand.query_id, cand.neighbor_id),
ann_ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY dot / (SQRT(nq.sq) * SQRT(nc.sq)) DESC, neighbor_id)
           AS rank
  FROM cdots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id),
ann_topk AS (
  SELECT query_id, neighbor_id FROM ann_ranked WHERE rank <= {_K}),
edots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id,
       unnest(generate_series(1, {_DIM})) t(i)
  WHERE q.vec_id < {_NQ}
  GROUP BY q.vec_id, c.vec_id),
exact_topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY dot / (SQRT(nq.sq) * SQRT(nc.sq)) DESC, neighbor_id)
             AS rank
    FROM edots
    JOIN norms nq ON nq.vec_id = query_id
    JOIN norms nc ON nc.vec_id = neighbor_id)
  WHERE rank <= {_K}),
qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {_NQ}),
ncand AS (
  SELECT query_id, COUNT(*) AS n FROM cand GROUP BY query_id),
hits AS (
  SELECT a.query_id, COUNT(*) AS n
  FROM ann_topk a JOIN exact_topk e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id)
SELECT qids.query_id,
       CAST(COALESCE(ncand.n, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(hits.n, 0) AS BIGINT) AS recall_hits,
       CAST({_K} AS BIGINT) AS k
FROM qids
LEFT JOIN ncand ON ncand.query_id = qids.query_id
LEFT JOIN hits ON hits.query_id = qids.query_id
"""


@query("q_sim_ann_recall", _ANN_RECALL_ORACLE)
def q_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X321: per-query ANN quality accounting — LSH candidate-set size
    and recall@k hits vs the exact twin, as oracle-hashable integers."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    lsh = RandomHyperplaneLSH(dim=_DIM, bits=_LSH_BITS, tables=_LSH_TABLES)
    cb = lsh.add_buckets(
        e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("c_vec")),
        "c_vec",
    ).select("table", "bucket", "neighbor_id")
    qb = lsh.add_buckets(
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec")),
        "q_vec",
    ).select("table", "bucket", "query_id")
    cand = (
        cb.join(qb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    n_cand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    ann = lsh.topk(e, queries, k=_K).select("query_id", "neighbor_id")
    exact = topk_exact(e, queries, k=_K).select("query_id", "neighbor_id")
    hits = ann.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("recall_hits"))
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return (
        qids.join(n_cand, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("recall_hits", F.lit(0)).cast("bigint").alias(
                "recall_hits"
            ),
            F.lit(_K).cast("bigint").alias("k"),
        )
    )


# -- X336: hard-negative mining for contrastive training -------------------
# The standard contrastive-pair recipe: for each probe, the highest-
# cosine LSH candidate BELOW the positive threshold — similar enough to
# be informative, dissimilar enough to be a true negative. Runs entirely
# on the oracle-reproducible exact-sign LSH candidates, so the mined
# pairs hash-match end-to-end (same md5 hyperplane derivation as
# q_sim_lsh_topk / q_sim_ann_recall).

_HARDNEG_THRESHOLD = 0.5

_HARDNEG_ORACLE = f"""
WITH {_LSH_SIGS},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {_NQ} AND q.vec_id <> c.vec_id),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
cdots AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id,
       unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cand.query_id, cand.neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         dot / (SQRT(nq.sq) * SQRT(nc.sq)) AS cosine
  FROM cdots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nc ON nc.vec_id = neighbor_id
  WHERE dot / (SQRT(nq.sq) * SQRT(nc.sq)) < {_HARDNEG_THRESHOLD})
SELECT query_id, neighbor_id AS hard_negative_id, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored)
WHERE rn = 1
"""


@query("q_sim_hard_negatives", _HARDNEG_ORACLE)
def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.functions.vectors import dot_exact, sqnorm_exact

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    lsh = RandomHyperplaneLSH(dim=_DIM, bits=_LSH_BITS, tables=_LSH_TABLES)
    cb = lsh.add_buckets(
        e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("c_vec")),
        "c_vec",
    ).select("table", "bucket", "neighbor_id")
    qb = lsh.add_buckets(
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec")),
        "q_vec",
    ).select("table", "bucket", "query_id")
    cand = (
        cb.join(qb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q_full = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.sqrt(sqnorm_exact("embedding")).alias("q_norm"),
    )
    c_full = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.sqrt(sqnorm_exact("embedding")).alias("c_norm"),
    )
    scored = (
        cand.join(F.broadcast(q_full), "query_id")
        .join(c_full, "neighbor_id")
        .withColumn(
            "cosine",
            dot_exact("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")),
        )
        .filter(F.col("cosine") < _HARDNEG_THRESHOLD)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("hard_negative_id"),
            "cosine",
        )
    )


# -- X378: semantic (embedding-space) dedup — SemDeDup-shape ----------------
# Dedup where "duplicate" means cosine >= tau in embedding space, the
# missing member of the corpus-dedup family (shingle-LSH, substring, URL,
# containment, image-hash all exist). Pipeline: exact-sign md5-hyperplane
# LSH buckets ALL vectors, intra-bucket pairs get a cosine, pairs >= tau
# feed the fixpoint connected-components operator, and each cluster
# keeps its min-id representative. Because the hyperplanes are
# md5-derived and the sign dots are decimal-exact, DuckDB re-derives the
# SAME buckets, edges, and (via a recursive-CTE transitive closure) the
# SAME clusters — the whole semantic-dedup pipeline is hash-checked, not
# rows-only. Two scale mechanisms, both measured at the 10× sweep:
#  * ADAPTIVE bucket width: bits = max(3, floor(log2(n/64))+1), computed
#    as the bin-length of n DIV 64 — identical integer arithmetic on
#    both engines — so expected bucket size stays ~bounded and the
#    candidate-pair count grows ~linearly instead of quadratically
#    (n=500 → 3 bits; 2k → 5; 20k → 8). Wider buckets trade edge recall
#    per table, the standard bits/tables dial.
#  * TWO-TIER scoring: candidates are pre-filtered by a cheap
#    normalized-double dot (sequential array fold, deterministic) at
#    tau − 1e-3; only near-threshold survivors pay the exact-decimal
#    cosine that defines the final predicate. The pre-filter is
#    semantically transparent (fp error ~1e-12 ≪ margin), so the oracle
#    stays single-tier and still hash-matches.
# CC is O(log diameter) rounds (operators/dedup.py:246); nothing scans
# cross-product space.

_SEMDEDUP_TAU = 0.35
_SEMDEDUP_MARGIN = 1e-3


def _semdedup_bits(n: int) -> int:
    """max(3, bin-length of n // 64) — mirrored in SQL as
    GREATEST(LENGTH(BIN(GREATEST(n // 64, 1))), 3)."""
    return max(len(bin(max(n // 64, 1))) - 2, 3)


_SEMDEDUP_SIGS = hyperplane_sigs_sql(
    "(SELECT bits FROM params)", _LSH_TABLES, _DIM, {"sigs": "embeddings"}
)

_SEMDEDUP_ORACLE = f"""
WITH params AS (
  SELECT GREATEST(LENGTH(BIN(GREATEST(COUNT(*) // 64, 1))), 3) AS bits
  FROM embeddings),
{_SEMDEDUP_SIGS},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
cdots AS (
  SELECT cand.id_a, cand.id_b,
         CAST(SUM(CAST(CAST(a.embedding[t.i] AS DOUBLE)
                       * CAST(b.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.id_a
  JOIN embeddings b ON b.vec_id = cand.id_b,
       unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cand.id_a, cand.id_b),
edges AS (
  SELECT id_a, id_b,
         dot / (SQRT(na.sq) * SQRT(nb.sq)) AS cosine
  FROM cdots
  JOIN norms na ON na.vec_id = id_a
  JOIN norms nb ON nb.vec_id = id_b
  WHERE dot / (SQRT(na.sq) * SQRT(nb.sq)) >= {_SEMDEDUP_TAU}),
dedges AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION SELECT id_b, id_a FROM edges),
closure AS (
  -- transitive closure by recursive CTE: exact CC roots for the oracle
  -- (the engine side uses the distributed fixpoint operator instead)
  WITH RECURSIVE r(node, reach) AS (
    SELECT src, dst FROM dedges
    UNION
    SELECT r.node, d.dst FROM r JOIN dedges d ON r.reach = d.src
  ) SELECT node, LEAST(node, MIN(reach)) AS root FROM r GROUP BY node),
ncand AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT id_a AS vec_id FROM cand
        UNION ALL SELECT id_b FROM cand) GROUP BY vec_id),
rooted AS (
  SELECT e.vec_id, COALESCE(c.root, e.vec_id) AS cluster_root,
         COALESCE(ncand.n, 0) AS n_candidates
  FROM embeddings e
  LEFT JOIN closure c ON c.node = e.vec_id
  LEFT JOIN ncand ON ncand.vec_id = e.vec_id),
sizes AS (
  SELECT cluster_root AS r, CAST(COUNT(*) AS BIGINT) AS csize
  FROM rooted GROUP BY cluster_root)
SELECT vec_id, cluster_root,
       sizes.csize AS cluster_size,
       CAST(vec_id = cluster_root AS INT) AS keep,
       n_candidates
FROM rooted JOIN sizes ON sizes.r = rooted.cluster_root
"""


def _semdedup_edges_and_roots(spark: SparkSession, sf_dir: str):
    """Shared X378 pipeline: (edges-with-cosine, rooted) DataFrames.

    Used by q_dedup_semantic (membership surface) and
    q_dedup_semantic_audit (per-cluster edge-quality surface)."""
    from mini_etl_project_spark.functions.vectors import dot_exact, sqnorm_exact
    from mini_etl_project_spark.operators.dedup import connected_components

    e = load_table(spark, sf_dir, "embeddings")
    # adaptive bucket width (see header): one 1-row count action
    bits = _semdedup_bits(e.count())
    lsh = RandomHyperplaneLSH(dim=_DIM, bits=bits, tables=_LSH_TABLES)
    b = lsh.add_buckets(
        e.select("vec_id", "embedding"), "embedding"
    ).select("table", "bucket", "vec_id")
    cand = (
        b.alias("x")
        .join(b.alias("y"), ["table", "bucket"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
        )
        .distinct()
        # Materialize the candidate pairs ONCE: downstream this plan is
        # consumed by the scoring tier AND (twice, via rooted's two
        # consumers) by n_candidates — without the checkpoint the LSH
        # bucketing + self-join re-executes per consumer (measured 3×
        # at sf0.1). Pairs are two bigints/row — tiny at any SF next to
        # the vector payloads they index.
        .localCheckpoint(eager=False)
    )
    sides = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(sqnorm_exact("embedding")).alias("nm"),
    )
    paired = cand.join(
        sides.select(
            F.col("vec_id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("nm").alias("na"),
        ),
        "id_a",
    ).join(
        sides.select(
            F.col("vec_id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("nm").alias("nb"),
        ),
        "id_b",
    )
    # tier 1: cheap double dot of the RAW vectors (sequential fold —
    # deterministic) against (tau − margin)·na·nb — algebraically the
    # same pre-filter as the previous unit-vector dot vs (tau − margin),
    # but with no per-element renormalization (the old F.transform
    # re-evaluated the 64-term exact-decimal norm fold per ELEMENT —
    # 64×64 decimal ops per row) and half the join payload (va/vb only,
    # no unit-vector copies cross the shuffle). Tier 2: the exact-decimal
    # cosine that defines the result, evaluated only on survivors.
    t1 = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        paired.filter(
            t1 >= (_SEMDEDUP_TAU - _SEMDEDUP_MARGIN) * F.col("na") * F.col("nb")
        )
        .withColumn(
            "cosine", dot_exact("va", "vb") / (F.col("na") * F.col("nb"))
        )
    )
    edges = (
        scored.filter(F.col("cosine") >= _SEMDEDUP_TAU)
        .select("id_a", "id_b", "cosine")
        # Materialize the scored tau-edges once: consumed by the CC
        # fixpoint here AND by the audit surface's per-cluster stats —
        # the exact-decimal cosine tier must not re-run per consumer.
        .localCheckpoint(eager=False)
    )
    cc = connected_components(edges.select("id_a", "id_b")).select(
        F.col("id").alias("vec_id"), F.col("component")
    )
    n_cand = (
        cand.select(F.col("id_a").alias("vec_id"))
        .unionByName(cand.select(F.col("id_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    )
    rooted = (
        e.select("vec_id")
        .join(cc, "vec_id", "left")
        .join(n_cand, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("cluster_root"),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
        )
    )
    return edges, rooted


@query("q_dedup_semantic", _SEMDEDUP_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, rooted = _semdedup_edges_and_roots(spark, sf_dir)
    sizes = rooted.groupBy(F.col("cluster_root").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return rooted.join(
        sizes, rooted["cluster_root"] == sizes["r"]
    ).select(
        "vec_id",
        "cluster_root",
        "cluster_size",
        (F.col("vec_id") == F.col("cluster_root")).cast("int").alias("keep"),
        "n_candidates",
    )


#: shared CTE prefix (everything up to sizes) for the audit oracle below
_SEMDEDUP_PREFIX = _SEMDEDUP_ORACLE.rsplit("SELECT vec_id, cluster_root", 1)[0]

# -- X396: semantic-dedup cluster-quality audit -----------------------------
# Dedup QA: for every multi-member cluster, the number of tau-edges it
# contains and the weakest/strongest edge cosine — the reviewer's view
# of whether a cluster is a tight duplicate group (min near 1) or a
# chain stitched through borderline pairs (min near tau). MIN/MAX over
# bit-identical doubles are order-independent, so the audit hash-matches
# without ordered-fold machinery. Every tau-edge lies inside exactly one
# cluster by construction (CC closure), so grouping edges by their
# endpoint's root is exhaustive; the edge set is already bounded by the
# bucketed candidate generation.

_SEMDEDUP_AUDIT_ORACLE = _SEMDEDUP_PREFIX + """
SELECT r.cluster_root,
       MIN(sizes.csize) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       MIN(e.cosine) AS min_edge_cosine,
       MAX(e.cosine) AS max_edge_cosine
FROM edges e
JOIN rooted r ON r.vec_id = e.id_a
JOIN sizes ON sizes.r = r.cluster_root
GROUP BY r.cluster_root
"""


@query("q_dedup_semantic_audit", _SEMDEDUP_AUDIT_ORACLE)
def q_dedup_semantic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, rooted = _semdedup_edges_and_roots(spark, sf_dir)
    stats = (
        edges.join(
            rooted.select(
                F.col("vec_id").alias("id_a"), "cluster_root"
            ),
            "id_a",
        )
        .groupBy("cluster_root")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.min("cosine").alias("min_edge_cosine"),
            F.max("cosine").alias("max_edge_cosine"),
        )
    )
    sizes = rooted.groupBy(F.col("cluster_root").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return stats.join(
        sizes, stats["cluster_root"] == sizes["r"]
    ).select(
        "cluster_root",
        "cluster_size",
        "n_edges",
        "min_edge_cosine",
        "max_edge_cosine",
    )


# -- X379: IVF ANN recall accounting, oracle-checked ------------------------
# The round-5 X321 pattern (LSH candidate counts + recall@k vs the exact
# twin, all integers) extended to the IVF path. The production IVFIndex
# learns centroids by seeded k-means — not SQL-replicable — so this
# surface uses the OTHER standard centroid recipe: data-sampled coarse
# centroids (vec_id = 17c+5, c<8; no Lloyd iterations), which DuckDB
# re-derives exactly. Assignment/probing is argmin of the exact-decimal
# L2 distance ((||v||² − 2v·c) + ||c||², tie → smallest cell), nprobe=2,
# so candidate sets — and therefore every output integer — hash-match.
# 100 TB posture identical to IVFIndex.write_partitioned: assignment is
# a broadcast-nested-loop against 8 centroid rows; candidates come from
# probed cells only.

_IVF_CELLS, _IVF_NPROBE = 8, 2

_IVF_RECALL_ORACLE = f"""
WITH cents AS (
  SELECT CAST((vec_id - 5) // 17 AS INT) AS cell, embedding AS cv
  FROM embeddings WHERE vec_id % 17 = 5 AND vec_id < {17 * _IVF_CELLS}),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
cnorms AS (
  SELECT cell,
         CAST(SUM(CAST(CAST(cv[t.i] AS DOUBLE) * CAST(cv[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM cents, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cell),
vcd AS (
  SELECT e.vec_id, c.cell,
         CAST(SUM(CAST(CAST(e.embedding[t.i] AS DOUBLE)
                       * CAST(c.cv[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM embeddings e, cents c, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY e.vec_id, c.cell),
dists AS (
  SELECT vcd.vec_id, vcd.cell,
         (n.sq - 2.0 * vcd.dot) + cn.sq AS dist
  FROM vcd JOIN norms n ON n.vec_id = vcd.vec_id
           JOIN cnorms cn ON cn.cell = vcd.cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell) AS rn
    FROM dists) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell) AS rn
    FROM dists WHERE vec_id < {_NQ}) WHERE rn <= {_IVF_NPROBE}),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id),
cdots AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id,
       unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cand.query_id, cand.neighbor_id),
ann_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY dot / (SQRT(nq.sq) * SQRT(nc.sq)) DESC, neighbor_id)
             AS rank
    FROM cdots
    JOIN norms nq ON nq.vec_id = query_id
    JOIN norms nc ON nc.vec_id = neighbor_id) WHERE rank <= {_K}),
edots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id,
       unnest(generate_series(1, {_DIM})) t(i)
  WHERE q.vec_id < {_NQ}
  GROUP BY q.vec_id, c.vec_id),
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY dot / (SQRT(nq.sq) * SQRT(nc.sq)) DESC, neighbor_id)
             AS rank
    FROM edots
    JOIN norms nq ON nq.vec_id = query_id
    JOIN norms nc ON nc.vec_id = neighbor_id) WHERE rank <= {_K}),
qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {_NQ}),
ncand AS (SELECT query_id, COUNT(*) AS n FROM cand GROUP BY query_id),
hits AS (
  SELECT a.query_id, COUNT(*) AS n
  FROM ann_topk a JOIN exact_topk e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id)
SELECT qids.query_id,
       CAST(COALESCE(ncand.n, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(hits.n, 0) AS BIGINT) AS recall_hits,
       CAST({_K} AS BIGINT) AS k
FROM qids
LEFT JOIN ncand ON ncand.query_id = qids.query_id
LEFT JOIN hits ON hits.query_id = qids.query_id
"""


@query("q_sim_ann_recall_ivf", _IVF_RECALL_ORACLE)
def q_sim_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mini_etl_project_spark.functions.vectors import (
        cosine_exact,
        dot_exact,
        sqnorm_exact,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    cents = e.filter(
        (F.col("vec_id") % 17 == 5) & (F.col("vec_id") < 17 * _IVF_CELLS)
    ).select(
        F.expr("CAST((vec_id - 5) DIV 17 AS INT)").alias("cell"),
        F.col("embedding").alias("cv"),
        sqnorm_exact("embedding").alias("c_sq"),
    )
    vd = (
        e.select(
            "vec_id",
            F.col("embedding").alias("v"),
            sqnorm_exact("embedding").alias("v_sq"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "dist",
            (F.col("v_sq") - 2.0 * dot_exact("v", "cv")) + F.col("c_sq"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cell")
    ranked = vd.withColumn("rn", F.row_number().over(w))
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cell")
    probes = (
        ranked.filter((F.col("vec_id") < _NQ) & (F.col("rn") <= _IVF_NPROBE))
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    cand = (
        probes.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    n_cand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    scored = (
        cand.join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                )
            ),
            "query_id",
        )
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("nv"),
            ),
            "neighbor_id",
        )
        .withColumn("cosine", cosine_exact("qv", "nv"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    ann = (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _K)
        .select("query_id", "neighbor_id")
    )
    exact = topk_exact(e, queries, k=_K).select("query_id", "neighbor_id")
    hits = ann.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("recall_hits"))
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return (
        qids.join(n_cand, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("recall_hits", F.lit(0)).cast("bigint").alias(
                "recall_hits"
            ),
            F.lit(_K).cast("bigint").alias("k"),
        )
    )


# -- X380: PQ ANN recall accounting, oracle-checked -------------------------
# Same derived-fact recipe for the product-quantization path: m=8
# subspaces x 8 dims, 16-entry codebook per subspace taken from sampled
# data vectors (vec_id = 31j+2 — no Lloyd iterations, so DuckDB rebuilds
# the identical codebook), encode = per-subspace argmin of the exact-
# decimal squared distance (tie → smallest code), ADC = decimal-summed
# per-subspace LUT lookups (order-independent), candidates = top-40 by
# (ADC, id), rerank = exact cosine top-k, scored against the exact twin.
# Every stage is deterministic on both engines, so candidate counts and
# recall hits hash-match. The production PQIndex (seeded k-means
# codebooks, operators/similarity.py:342) remains the scale path; this
# pins the encode→ADC→rerank machinery with an independent oracle.

_PQ_M, _PQ_SUB, _PQ_CODES, _PQ_R = 8, 8, 16, 40

_PQ_RECALL_ORACLE = f"""
WITH cb AS (
  SELECT CAST((vec_id - 2) // 31 AS INT) AS j, embedding AS cv
  FROM embeddings WHERE vec_id % 31 = 2 AND vec_id < {31 * _PQ_CODES}),
encd AS (
  SELECT e.vec_id, CAST((t.d - 1) // {_PQ_SUB} AS INT) AS s, cb.j,
         CAST(SUM(CAST(
           (CAST(e.embedding[t.d] AS DOUBLE) - CAST(cb.cv[t.d] AS DOUBLE))
           * (CAST(e.embedding[t.d] AS DOUBLE) - CAST(cb.cv[t.d] AS DOUBLE))
           AS DECIMAL(38,10))) AS DOUBLE) AS sqd
  FROM embeddings e, cb, unnest(generate_series(1, {_DIM})) t(d)
  GROUP BY e.vec_id, CAST((t.d - 1) // {_PQ_SUB} AS INT), cb.j),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY sqd, j) AS rn
    FROM encd) WHERE rn = 1),
adc AS (
  SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CAST(l.sqd AS DECIMAL(38,10))) AS DOUBLE) AS dist
  FROM codes c
  JOIN encd l ON l.s = c.s AND l.j = c.code
  WHERE l.vec_id < {_NQ} AND c.vec_id <> l.vec_id
  GROUP BY l.vec_id, c.vec_id),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS rn
    FROM adc) WHERE rn <= {_PQ_R}),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY vec_id),
cdots AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id,
       unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY cand.query_id, cand.neighbor_id),
ann_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY dot / (SQRT(nq.sq) * SQRT(nc.sq)) DESC, neighbor_id)
             AS rank
    FROM cdots
    JOIN norms nq ON nq.vec_id = query_id
    JOIN norms nc ON nc.vec_id = neighbor_id) WHERE rank <= {_K}),
edots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CAST(CAST(q.embedding[t.i] AS DOUBLE)
                       * CAST(c.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id,
       unnest(generate_series(1, {_DIM})) t(i)
  WHERE q.vec_id < {_NQ}
  GROUP BY q.vec_id, c.vec_id),
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY dot / (SQRT(nq.sq) * SQRT(nc.sq)) DESC, neighbor_id)
             AS rank
    FROM edots
    JOIN norms nq ON nq.vec_id = query_id
    JOIN norms nc ON nc.vec_id = neighbor_id) WHERE rank <= {_K}),
qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {_NQ}),
ncand AS (SELECT query_id, COUNT(*) AS n FROM cand GROUP BY query_id),
hits AS (
  SELECT a.query_id, COUNT(*) AS n
  FROM ann_topk a JOIN exact_topk e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id)
SELECT qids.query_id,
       CAST(COALESCE(ncand.n, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(hits.n, 0) AS BIGINT) AS recall_hits,
       CAST({_K} AS BIGINT) AS k
FROM qids
LEFT JOIN ncand ON ncand.query_id = qids.query_id
LEFT JOIN hits ON hits.query_id = qids.query_id
"""


@query("q_sim_ann_recall_pq", _PQ_RECALL_ORACLE)
def q_sim_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mini_etl_project_spark.functions.vectors import cosine_exact, dec_sum_sql

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _NQ)
    cb = e.filter(
        (F.col("vec_id") % 31 == 2) & (F.col("vec_id") < 31 * _PQ_CODES)
    ).select(
        F.expr("CAST((vec_id - 2) DIV 31 AS INT)").alias("j"),
        F.col("embedding").alias("cv"),
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("embedding", s * _PQ_SUB + 1, _PQ_SUB).alias("sv"),
            )
            for s in range(_PQ_M)
        ]
    )
    cb_subs = cb.select(
        "j",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("cv", s * _PQ_SUB + 1, _PQ_SUB).alias("cbv"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("x"),
    ).select("j", F.col("x.s").alias("s"), F.col("x.cbv").alias("cbv"))
    v_subs = e.select(
        "vec_id", F.explode(subs).alias("x")
    ).select("vec_id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))
    encd = v_subs.join(F.broadcast(cb_subs), "s").withColumn(
        "sqd",
        F.expr(
            dec_sum_sql(
                "zip_with(sv, cbv, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
                " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
            )
        ),
    ).select("vec_id", "s", "j", "sqd")
    wc = Window.partitionBy("vec_id", "s").orderBy("sqd", "j")
    codes = (
        encd.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"), "s",
            F.col("j").alias("code"),
        )
    )
    lut = encd.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "s", "j", "sqd"
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["j"]),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("sqd").cast("decimal(28,10)"))
            .cast("double")
            .alias("dist")
        )
    )
    wr = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _PQ_R)
        .select("query_id", "neighbor_id")
    )
    n_cand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    scored = (
        cand.join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                )
            ),
            "query_id",
        )
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("nv"),
            ),
            "neighbor_id",
        )
        .withColumn("cosine", cosine_exact("qv", "nv"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    ann = (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _K)
        .select("query_id", "neighbor_id")
    )
    exact = topk_exact(e, queries, k=_K).select("query_id", "neighbor_id")
    hits = ann.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("recall_hits"))
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return (
        qids.join(n_cand, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("recall_hits", F.lit(0)).cast("bigint").alias(
                "recall_hits"
            ),
            F.lit(_K).cast("bigint").alias("k"),
        )
    )


# -- X389: label centroids + pairwise centroid cosine -----------------------
# Embedding-space class analytics: the per-label mean vector (exact —
# decimal element sums over a keyed aggregate, then one double division
# by the count) and the cosine between every label pair, a bounded
# k×k output that diagnoses class separation / collapsed embeddings.
# Scale shape: ONE groupBy over the fact table producing k rows of
# 64 sums (posexplode → (label, dim) keyed agg — map-side combine), and
# the pair matrix is a broadcast self-join of k rows. The oracle
# re-derives every element sum as DECIMAL and shares the division tree.

_CENTROID_ORACLE = f"""
WITH sums AS (
  SELECT label, t.i AS dim,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings, unnest(generate_series(1, {_DIM})) t(i)
  GROUP BY label, t.i),
cent AS (
  SELECT label, dim, s / n AS c, n FROM sums),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,10))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,10))) AS DOUBLE) AS na,
         CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,10))) AS DOUBLE) AS nb,
         MIN(a.n) AS n_a, MIN(b.n) AS n_b
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label)
SELECT label_a, label_b, n_a, n_b,
       dot / (SQRT(na) * SQRT(nb)) AS centroid_cosine
FROM dots
"""


@query("q_sim_label_centroids", _CENTROID_ORACLE)
def q_sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sums = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.sum(F.col("x").cast("double").cast("decimal(28,10)"))
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    cent = sums.select(
        "label", "dim", (F.col("s") / F.col("n")).alias("c"), "n"
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("c").alias("ca"),
        F.col("n").alias("na_cnt"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("c").alias("cb"),
        F.col("n").alias("nb_cnt"),
    )
    dec = "decimal(28,10)"
    dots = (
        a.join(F.broadcast(b), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ca") * F.col("cb")).cast(dec))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("ca") * F.col("ca")).cast(dec))
            .cast("double")
            .alias("na"),
            F.sum((F.col("cb") * F.col("cb")).cast(dec))
            .cast("double")
            .alias("nb"),
            F.min("na_cnt").alias("n_a"),
            F.min("nb_cnt").alias("n_b"),
        )
    )
    return dots.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        (
            F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
        ).alias("centroid_cosine"),
    )


# -- X406 Reciprocal-rank fusion (hybrid retrieval) -------------------------
#
# The standard merge for hybrid search: a lexical retriever and a
# second retriever each rank the corpus, and fused_score(d) =
# sum over systems of 1/(60 + rank_s(d)) — no score calibration
# needed, which is exactly why RRF won in production hybrid stacks.
# Here retriever A is lexical (how many tokens of the probe query
# appear in the doc — integer overlap, ties by doc_id) and retriever B
# is a length prior (n_chars desc). Both rankings come from
# global_rank (range partitions + per-partition offsets — no
# unpartitioned fact window), lists truncate at depth 100, and the
# fused score is a sum of at most two 1/(60+r) doubles built in the
# same order in both engines (present-system terms only, lexical term
# first). The final top-20 sort runs over the <=200-row fused
# candidate set — bounded.

_RRF_DEPTH = 100
_RRF_K = 60
_RRF_TOKENS = ("table", "hash", "value")

_RRF_ORACLE = f"""
WITH lex AS (
  SELECT doc_id,
         {" + ".join(
             "CASE WHEN ' ' || text || ' ' LIKE '% ' || '" + t
             + "' || ' %' THEN 1 ELSE 0 END"
             for t in _RRF_TOKENS
         )} AS overlap
  FROM documents),
ra AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY overlap DESC, doc_id) AS r
  FROM lex),
rb AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC NULLS LAST, doc_id) AS r
  FROM documents),
fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         a.r AS rank_lex, b.r AS rank_len,
         COALESCE(1.0 / ({_RRF_K} + a.r), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + b.r), 0.0) AS rrf_score
  FROM (SELECT * FROM ra WHERE r <= {_RRF_DEPTH}) a
  FULL OUTER JOIN (SELECT * FROM rb WHERE r <= {_RRF_DEPTH}) b
    ON a.doc_id = b.doc_id)
SELECT doc_id,
       CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_len AS BIGINT) AS rank_len,
       rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
            AS BIGINT) AS fused_rank
FROM fused
QUALIFY fused_rank <= 20
"""


@query("q_sim_rrf_fusion", _RRF_ORACLE)
def q_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    docs = load_table(spark, sf_dir, "documents")
    overlap = None
    for t in _RRF_TOKENS:
        # NULL text => hit coalesces to 0 (the oracle's CASE falls to
        # ELSE 0), not a NULL overlap that would rank FIRST through the
        # negation trick (r12 NULL audit)
        hit = F.coalesce(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like(
                f"% {t} %"
            ),
            F.lit(False),
        ).cast("int")
        overlap = hit if overlap is None else overlap + hit
    lex = docs.select("doc_id", overlap.alias("overlap"))
    ra = global_rank(
        lex,
        order=[(-F.col("overlap")).alias("neg"), F.col("doc_id")],
        rank_col="r",
    ).filter(F.col("r") <= _RRF_DEPTH).select("doc_id", F.col("r").alias("ra"))
    rb = global_rank(
        docs.select("doc_id", "n_chars"),
        # NULLS LAST explicitly: the length prior ranks unmeasured docs
        # at the bottom on both engines (r12 NULL audit)
        order=[F.col("n_chars").desc_nulls_last(), F.col("doc_id")],
        rank_col="r",
    ).filter(F.col("r") <= _RRF_DEPTH).select(
        F.col("doc_id").alias("doc_id_b"), F.col("r").alias("rb")
    )
    fused = ra.join(
        rb, ra.doc_id == rb.doc_id_b, "full_outer"
    ).select(
        F.coalesce("doc_id", "doc_id_b").alias("doc_id"),
        F.col("ra").cast("bigint").alias("rank_lex"),
        F.col("rb").cast("bigint").alias("rank_len"),
        (
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("ra")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rb")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    # bounded: <= 2 * depth fused rows
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("fused_rank") <= 20)
    )
