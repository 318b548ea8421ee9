"""Text-analysis queries over ``documents`` (X6–X9).

Everything is portable expression arithmetic + md5 hashing, so each
operator is fully oracle-checked — including the language scorer and the
order-insensitive token-bag fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.textops import (
    LANG_LEXICONS,
    STOPWORDS,
    fingerprint,
    lang_scores,
    quality_score,
    tokens,
)
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.session import load_table

_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"

# -- X9 text stats (validates against the golden n_chars column) -----------

_STATS_ORACLE = f"""
SELECT doc_id,
       LENGTH(text) AS n_chars,
       CAST(LENGTH(text) = n_chars AS INT) AS n_chars_matches_golden,
       LEN(string_split_regex(trim(text), '\\s+')) AS n_words,
       LEN(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct_words,
       CAST(LENGTH(text) AS DOUBLE)
         / GREATEST(LEN(string_split_regex(trim(text), '\\s+')), 1) AS mean_word_len
FROM documents
"""


@query("q_text_stats", _STATS_ORACLE)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (F.length("text") == F.col("n_chars")).cast("int").alias(
            "n_chars_matches_golden"
        ),
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_distinct_words"),
        (
            F.length("text").cast("double") / F.greatest(F.size(toks), F.lit(1))
        ).alias("mean_word_len"),
    )


# -- X6/X7 token frequencies (corpus-level term stats) ---------------------

_TOKENS_ORACLE = """
SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents)
GROUP BY tok
ORDER BY tf DESC, tok
LIMIT 25
"""


@query("q_text_token_freq", _TOKENS_ORACLE)
def q_text_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), "tok")
        .limit(25)
    )


# -- X7 TF-IDF top terms per source ----------------------------------------
# ln() is libm-dependent; idf uses LN via the SAME formula on both sides —
# java.lang.Math.log and C libm agree on these magnitudes in practice, but
# to stay safe the checked output carries (tf, df, n_docs) and ranks by the
# rational tf*(n_docs+1)/(df+1) (exact double arithmetic), not by ln.

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT source, doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents),
stats AS (
  SELECT source, tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM tok GROUP BY source, tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT source, tok, tf, df,
         tf * (n_docs + 1.0) / (df + 1.0) AS weight,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY tf * (n_docs + 1.0) / (df + 1.0) DESC,
                                     tok) AS rn
  FROM stats, n)
SELECT source, tok, tf, df, weight FROM scored WHERE rn <= 3
"""


@query("q_text_tfidf_top", _TFIDF_ORACLE)
def q_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", "doc_id", F.explode(tokens("text")).alias("tok"))
    stats = tok.groupBy("source", "tok").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n = d.agg(F.count("*").alias("n_docs"))
    weight = F.col("tf") * (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
    w = Window.partitionBy("source").orderBy(F.desc("weight"), "tok")
    return (
        stats.crossJoin(F.broadcast(n))
        .withColumn("weight", weight)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "tok", "tf", "df", "weight")
    )


# -- X8 language scoring (lexicon join) ------------------------------------

def _sql_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
    return (
        f"LEN(list_filter({_TOKS}, t -> lower(t) IN ({words}))) AS score_{lang}"
    )


_LANGS = list(LANG_LEXICONS)
_PRED_SQL = "CASE " + " ".join(
    f"WHEN score_{l} = __m THEN '{l}'" for l in _LANGS
) + " END"

_LANGID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS golden_lang,
         {', '.join(_sql_lang_score(l) for l in _LANGS)}
  FROM documents),
m AS (SELECT *, GREATEST({', '.join('score_' + l for l in _LANGS)}) AS __m
      FROM scored)
SELECT doc_id, golden_lang, {', '.join('score_' + l for l in _LANGS)},
       {_PRED_SQL} AS predicted_lang
FROM m
"""


@query("q_text_langid", _LANGID_ORACLE)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.col("lang").alias("golden_lang"), *lang_scores("text")
    )
    m = F.greatest(*[F.col(f"score_{l}") for l in _LANGS])
    # WHEN chain in declaration order — first max wins, mirroring the SQL
    expr = F.lit(None).cast("string")
    for l in reversed(_LANGS):
        expr = F.when(F.col(f"score_{l}") == F.col("__m"), l).otherwise(expr)
    return (
        scored.withColumn("__m", m)
        .select(
            "doc_id",
            "golden_lang",
            *[f"score_{l}" for l in _LANGS],
            expr.alias("predicted_lang"),
        )
    )


# -- X9 quality scoring ----------------------------------------------------

_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)

_QUALITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LEN(string_split_regex(trim(text), '\\s+')) AS n_tok,
         LEN(list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> lower(t) IN ({_STOPS}))) AS stop_hits
  FROM documents),
parts AS (
  SELECT doc_id, n_chars, n_tok,
         CAST(n_chars AS DOUBLE) / GREATEST(n_tok, 1) AS mean_word,
         CAST(stop_hits AS DOUBLE) / GREATEST(n_tok, 1) AS stop_ratio,
         LEAST(n_chars / 500.0, 1.0) AS len_score
  FROM base)
SELECT doc_id, n_chars, n_tok, stop_ratio,
       (len_score
        + (CASE WHEN mean_word >= 3 AND mean_word <= 10 THEN 1.0 ELSE 0.5 END)
        + (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.6 THEN 1.0 ELSE 0.5 END)
       ) / 3 AS quality
FROM parts
"""


@query("q_text_quality", _QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tok.alias("n_tok"),
        (stop_hits.cast("double") / F.greatest(n_tok, F.lit(1))).alias("stop_ratio"),
        quality_score("text").alias("quality"),
    )


# -- X9 BPE-ish token counting ----------------------------------------------
# Whitespace tokens vs a BPE-ish lexical split (letter runs / digit runs /
# single punctuation) — the class-based pattern is portable between Java
# regex (Spark) and RE2 (DuckDB).

_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_BPE_ORACLE = f"""
SELECT doc_id,
       LEN(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       LEN(regexp_extract_all(text, '{_BPE_PATTERN}')) AS bpe_tokens,
       CAST(LEN(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
         / GREATEST(LEN(string_split_regex(trim(text), '\\s+')), 1)
         AS fertility
FROM documents
"""


@query("q_text_bpe_tokens", _BPE_ORACLE)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(tokens("text"))
    bpe = F.regexp_count("text", F.lit(_BPE_PATTERN))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (bpe.cast("double") / F.greatest(ws, F.lit(1))).alias("fertility"),
    )


# -- X2 word-bigram Jaccard pairs (exact n-gram Jaccard tier) ---------------

_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
  FROM documents WHERE doc_id < 150),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, GREATEST(len(ws) - 1, 1)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM toks),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.05
"""


@query("q_text_bigram_jaccard", _BIGRAM_ORACLE)
def q_text_bigram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    ws = tokens("text")
    idx = F.sequence(F.lit(1), F.greatest(F.size(ws) - 1, F.lit(1)))
    grams = d.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat(
                        F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
                    ),
                )
            )
        ).alias("gram"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = grams.select(F.col("doc_id").alias("id_a"), "gram")
    b = grams.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n": "n_b"}), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b", "jaccard")
    )


# -- X9 winnowing fingerprints (rolling-hash document sketch) ---------------
# Classic winnowing: hash every k-gram (rolling/polynomial hash ≡ our
# md5-derived hash64), slide a window of w positions, keep each window's
# minimum — the retained set is a position-robust document sketch.

_WINNOW_K = 5
_WINNOW_W = 8

_WINNOW_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, text, GREATEST(length(text) - {_WINNOW_K - 1}, 1) AS n_grams
  FROM documents WHERE doc_id < 150),
hashes AS (
  SELECT doc_id, i.i AS p,
         CAST(('0x' || substr(md5('0:' || substring(text, i.i, {_WINNOW_K})), 1, 15))
              AS BIGINT) AS h
  FROM pos, LATERAL (SELECT unnest(generate_series(1, n_grams)) AS i) i),
winmin AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN 0 PRECEDING AND {_WINNOW_W - 1} FOLLOWING) AS wm,
         p, doc_id AS d2
  FROM hashes),
sketch AS (SELECT DISTINCT doc_id, wm FROM winmin),
out AS (
  SELECT doc_id, COUNT(*) AS sketch_size, MIN(wm) AS min_fp, MAX(wm) AS max_fp
  FROM sketch GROUP BY doc_id)
SELECT * FROM out
"""


@query("q_text_winnow_fingerprint", _WINNOW_ORACLE)
def q_text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mini_etl_project_spark.operators.textops import hash64

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    # positions matter for winnowing → posexplode the NON-distinct shingles
    n = F.length("text")
    idx = F.sequence(F.lit(1), F.greatest(n - (_WINNOW_K - 1), F.lit(1)))
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(idx, lambda i: F.substring(F.col("text"), i, _WINNOW_K))
        ).alias("p", "gram"),
    ).withColumn("h", hash64("gram", 0))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    sketch = (
        grams.withColumn("wm", F.min("h").over(w))
        .select("doc_id", "wm")
        .distinct()
    )
    return sketch.groupBy("doc_id").agg(
        F.count("*").alias("sketch_size"),
        F.min("wm").alias("min_fp"),
        F.max("wm").alias("max_fp"),
    )


# -- X9 fingerprinting (order-insensitive dedup key) -----------------------

_FP_ORACLE = """
SELECT md5(array_to_string(list_sort(string_split_regex(trim(text), '\\s+')), ' '))
         AS fp,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc
FROM documents
GROUP BY fp
HAVING COUNT(*) >= 1
"""


@query("q_text_fingerprint", _FP_ORACLE)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


# -- Inverted-index construction (search posting lists) --------------------
#
# The core of building a distributed search index: one explode + one
# groupBy on token — the posting list for each token is its group. Lists
# themselves never cross the comparison boundary (arrays crash the
# driver's canonicalizer); the query emits per-token summary columns that
# pin the exact posting-list CONTENT: document frequency, total term
# frequency, min/max doc, and the doc-id checksum.

_POSTINGS_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents),
tf AS (SELECT tok, doc_id, COUNT(*) AS f FROM toks GROUP BY tok, doc_id)
SELECT tok, COUNT(*) AS df,
       CAST(SUM(f) AS BIGINT) AS total_tf,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
FROM tf GROUP BY tok
"""


@query("q_text_posting_lists", _POSTINGS_ORACLE)
def q_text_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("f"))
    return tf.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.sum("f").cast("bigint").alias("total_tf"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("doc_id").cast("bigint").alias("doc_checksum"),
    )


# -- Bigram collocation detection (lift instead of log-PMI) ----------------
#
# Which word pairs co-occur more than chance: lift = P(xy)/(P(x)P(y)) =
# n_xy·N / (n_x·n_y) on exact integer counts — the log-PMI ranking
# monotone-transformed to avoid transcendental log (libm vs Java Math
# differ in ulps; a ratio of exact ints is bit-identical). One window
# pass for adjacency, two keyed aggregates, broadcast unigram counts.

_COLLOCATION_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
  FROM documents),
bigrams AS (
  SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n_xy
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.tok, b.tok),
uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS nn FROM bigrams)
SELECT w1, w2, n_xy,
       CAST(n_xy AS DOUBLE) * nn / (u1.n * u2.n) AS lift
FROM bigrams
JOIN uni u1 ON u1.tok = w1
JOIN uni u2 ON u2.tok = w2
CROSS JOIN tot
WHERE n_xy >= 5
"""


@query("q_text_collocations", _COLLOCATION_ORACLE)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("tok").over(w))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("tok").alias("w1"), "w2")
        .agg(F.count("*").alias("n_xy"))
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = bigrams.agg(F.sum("n_xy").cast("bigint").alias("nn"))
    return (
        bigrams.filter(F.col("n_xy") >= 5)
        .join(
            F.broadcast(uni.withColumnsRenamed({"tok": "w1", "n": "n1"})), "w1"
        )
        .join(
            F.broadcast(uni.withColumnsRenamed({"tok": "w2", "n": "n2"})), "w2"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_xy",
            (
                F.col("n_xy").cast("double")
                * F.col("nn")
                / (F.col("n1") * F.col("n2"))
            ).alias("lift"),
        )
    )


# -- Readability scoring (Flesch-style, deterministic) ----------------------
#
# Per-document sentence / word / vowel-group counts (regexp_count — a
# stateless scan both engines evaluate identically) combined into the
# Flesch reading-ease formula. The two ratios are single divisions over
# exact integers, so the score is bit-identical cross-engine. The
# quality-filtering primitive for pretraining corpora beyond the
# length/punct heuristics of q_text_quality.

_READABILITY_ORACLE = """
WITH counts AS (
  SELECT doc_id,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
         len(regexp_extract_all(trim(text), '\\S+')) AS words,
         GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS vgroups
  FROM documents)
SELECT doc_id, sents, words, vgroups,
       206.835
       - 1.015 * (CAST(words AS DOUBLE) / sents)
       - 84.6 * (CAST(vgroups AS DOUBLE) / GREATEST(words, 1))
         AS flesch
FROM counts
"""


@query("q_text_readability", _READABILITY_ORACLE)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)).alias(
            "sents"
        ),
        F.regexp_count(F.trim("text"), F.lit(r"\S+")).alias("words"),
        F.greatest(
            F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+")), F.lit(1)
        ).alias("vgroups"),
    )
    return counts.select(
        "doc_id",
        "sents",
        "words",
        "vgroups",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sents"))
            - F.lit(84.6)
            * (
                F.col("vgroups").cast("double")
                / F.greatest(F.col("words"), F.lit(1))
            )
        ).alias("flesch"),
    )


# -- Source language diversity (Gini impurity) ------------------------------
#
# Per-source language mix summarized as Gini impurity, computed in exact
# integer space: 1 - sum(p_l^2) = (n^2 - sum(n_l^2)) / n^2 — one division
# at the end, no transcendental entropy. Two keyed aggregations; output
# bounded by the source count. The corpus-mixing diagnostic for
# multilingual pretraining data.

_SOURCE_DIVERSITY_ORACLE = """
WITH lc AS (
  SELECT source, lang, COUNT(*) AS nl
  FROM documents GROUP BY source, lang),
s AS (
  SELECT source, CAST(SUM(nl) AS BIGINT) AS n,
         COUNT(*) AS n_langs,
         CAST(SUM(nl * nl) AS BIGINT) AS sq
  FROM lc GROUP BY source)
SELECT source, n AS n_docs, n_langs,
       CAST(n * n - sq AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
FROM s
"""


@query("q_text_source_diversity", _SOURCE_DIVERSITY_ORACLE)
def q_text_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lc = d.groupBy("source", "lang").agg(F.count("*").alias("nl"))
    s = lc.groupBy("source").agg(
        F.sum("nl").cast("bigint").alias("n"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("nl") * F.col("nl")).cast("bigint").alias("sq"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        "n_langs",
        (
            (F.col("n") * F.col("n") - F.col("sq")).cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        ).alias("gini"),
    )


# -- X165 BPE merge learning (3 unrolled iterations) -----------------------
#
# Byte-pair-encoding vocabulary induction — THE tokenizer-training
# primitive for LLM data pipelines — as a distributed computation: build
# the word-frequency table once, then per round count adjacent symbol
# pairs (weighted by word frequency), pick the most frequent pair
# (lexicographic tie-break), and merge it corpus-wide.  The merge is the
# classic delimiter-string trick — symbols joined with '|' and the pair
# merged via non-regex replace('l|r|' → 'lr|'), which both engines apply
# greedily left-to-right, so overlapping runs ('a|a|a|') merge
# identically.  The oracle unrolls all 3 rounds in one SQL statement
# (kmeans-style); Spark runs the same rounds as a driver loop of pure
# plans with the 1-row best-pair broadcast — nothing is collected.
#
# Scale posture: pair counting is one explode + one groupBy over the
# WORD VOCABULARY (not the corpus — frequencies weight the counts), the
# best-pair pick is a distributed TakeOrdered(1), and each merge is a
# stateless map over the vocab.

_BPE_ITERS = 3


def _bpe_oracle() -> str:
    parts = [
        """
WITH toks AS (
  SELECT lower(UNNEST(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents),
w0 AS (
  SELECT regexp_replace(tok, '(.)', '\\1|', 'g') AS seq, COUNT(*) AS freq
  FROM toks WHERE regexp_full_match(tok, '[a-z]+') GROUP BY 1)"""
    ]
    for i in range(_BPE_ITERS):
        parts.append(
            f""",
e{i} AS (
  SELECT freq, syms, UNNEST(range(1, len(syms))) AS j
  FROM (SELECT freq, list_filter(string_split(seq, '|'), x -> x <> '') AS syms
        FROM w{i})),
p{i} AS (
  SELECT syms[j] AS l, syms[j+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM e{i} GROUP BY 1, 2),
b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
w{i + 1} AS (
  SELECT replace(w.seq, b.l || '|' || b.r || '|', b.l || b.r || '|') AS seq,
         w.freq
  FROM w{i} w CROSS JOIN b{i} b),
t{i + 1} AS (
  SELECT CAST(SUM(freq * (LENGTH(seq) - LENGTH(replace(seq, '|', ''))))
         AS BIGINT) AS tokens_after
  FROM w{i + 1})"""
        )
    selects = [
        f"""SELECT {i + 1} AS it, b{i}.l AS left_sym, b{i}.r AS right_sym,
       b{i}.cnt AS pair_cnt, t{i + 1}.tokens_after
FROM b{i} CROSS JOIN t{i + 1}"""
        for i in range(_BPE_ITERS)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query("q_text_bpe_merges", _bpe_oracle())
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens("text")).alias("tok0")
    ).select(F.lower("tok0").alias("tok"))
    w = (
        toks.filter(F.col("tok").rlike("^[a-z]+$"))
        .select(
            F.regexp_replace("tok", "(.)", "$1|").alias("seq")
        )
        .groupBy("seq")
        .agg(F.count("*").alias("freq"))
        # the word vocabulary is orders of magnitude smaller than the
        # corpus — a handful of partitions keeps the per-round job at a
        # few tasks instead of 32 near-empty ones
        .coalesce(4)
        .localCheckpoint(eager=True)
    )
    out = None
    for i in range(_BPE_ITERS):
        pairs = (
            w.select(
                "freq",
                F.expr("filter(split(seq, '\\\\|'), x -> x <> '')").alias(
                    "syms"
                ),
            )
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1),"
                        " slice(syms, 2, size(syms) - 1),"
                        " (a, b) -> struct(a AS l, b AS r))"
                    )
                ).alias("pr"),
            )
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1)
        w = (
            w.crossJoin(F.broadcast(best))
            .select(
                F.replace(
                    F.col("seq"),
                    F.concat(F.col("l"), F.lit("|"), F.col("r"), F.lit("|")),
                    F.concat(F.col("l"), F.col("r"), F.lit("|")),
                ).alias("seq"),
                "freq",
            )
            .coalesce(4)
            .localCheckpoint(eager=True)
        )
        t_after = w.agg(
            F.sum(
                F.col("freq")
                * (
                    F.length("seq")
                    - F.length(F.replace(F.col("seq"), F.lit("|"), F.lit("")))
                )
            )
            .cast("bigint")
            .alias("tokens_after")
        )
        row = best.crossJoin(F.broadcast(t_after)).select(
            F.lit(i + 1).alias("it"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("cnt").alias("pair_cnt"),
            "tokens_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


# -- X181 sentence segmentation --------------------------------------------
#
# Rule-based sentence splitting (the preprocessing step before
# sentence-level dedup/quality filters): sentences are maximal runs of
# non-terminator characters followed by terminator punctuation,
# extracted with the SAME regexp_extract_all pattern in both engines
# (RE2 has no lookbehind, so the extract formulation replaces a split —
# a trailing unterminated fragment is dropped on both sides by
# construction).  Per-doc stats plus an order-sensitive digest of the
# trimmed sentences.  Stateless projection.

_SENT_RE = "[^.!?]+[.!?]+"

_SENT_ORACLE = f"""
WITH punctuated AS (
  -- the synthetic corpus carries no punctuation; plant terminators
  -- deterministically (after every 'the') so segmentation is exercised
  SELECT doc_id, replace(text, ' the ', ' the. ') AS text2 FROM documents),
s AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text2, '{_SENT_RE}'),
                        x -> trim(x)) AS sents
  FROM punctuated)
SELECT doc_id,
       LEN(sents) AS n_sentences,
       CAST(COALESCE(list_sum(list_transform(sents, x -> LENGTH(x))), 0)
            AS BIGINT) AS sum_sent_chars,
       CAST(COALESCE(list_max(list_transform(sents, x -> LENGTH(x))), 0)
            AS BIGINT) AS max_sent_chars,
       md5(COALESCE(array_to_string(sents, '\x1f'), '')) AS sent_sig
FROM s
"""


@query("q_text_sentences", _SENT_ORACLE)
def q_text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" the "), F.lit(" the. ")).alias(
            "text2"
        ),
    )
    sents = F.expr(
        f"transform(regexp_extract_all(text2, '{_SENT_RE}', 0), x -> trim(x))"
    )
    t = d.select("doc_id", sents.alias("sents"))
    return t.select(
        "doc_id",
        F.size("sents").cast("bigint").alias("n_sentences"),
        F.coalesce(
            F.expr("aggregate(sents, 0L, (a, x) -> a + length(x))"),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_sent_chars"),
        F.coalesce(
            F.array_max(F.expr("transform(sents, x -> length(x))")), F.lit(0)
        )
        .cast("bigint")
        .alias("max_sent_chars"),
        # coalesce BEFORE hashing, mirroring the oracle — a NULL text's
        # sig is md5('') on both engines, not NULL (r12 NULL audit)
        F.md5(F.coalesce(F.array_join("sents", "\x1f"), F.lit(""))).alias(
            "sent_sig"
        ),
    )


# -- X189 RAKE keyword extraction ------------------------------------------
#
# Rapid Automatic Keyword Extraction: candidate phrases are maximal
# stopword-free token runs; each word scores deg(w)/freq(w) (degree =
# total length of phrases containing it), a phrase scores the sum of
# its word scores, and the corpus keeps the top 15 phrases.  Scores are
# exact milli-units (deg*1000 DIV freq) so ranking is bit-stable.  The
# phrase segmentation reuses the delimiter trick: stopwords map to a
# marker token, then one portable regexp split on marker runs.  Plan:
# two explodes + two keyed groupBys + one TakeOrdered — no UDF.

_RAKE_TOP = 15
_RAKE_STOPS = "'the','a','an','and','or','of','to','in','is','it'"

_RAKE_ORACLE = f"""
WITH marked AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       t -> t <> ''),
           t -> CASE WHEN t IN ({_RAKE_STOPS}) THEN chr(31) ELSE t END)
           AS toks
  FROM documents),
phr AS (
  SELECT doc_id, trim(p) AS phrase
  FROM (SELECT doc_id,
               UNNEST(string_split_regex(array_to_string(toks, ' '),
                                         '[ ]*\x1f[\x1f ]*')) AS p
        FROM marked)
  WHERE trim(p) <> ''),
pw AS (
  SELECT phrase,
         UNNEST(string_split(phrase, ' ')) AS w,
         LEN(string_split(phrase, ' ')) AS plen
  FROM phr),
ws AS (
  SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
  FROM pw GROUP BY w),
wscore AS (SELECT w, deg * 1000 // freq AS score_milli FROM ws),
pscore AS (
  SELECT pw.phrase, CAST(SUM(wscore.score_milli) AS BIGINT) AS score_sum
  FROM pw JOIN wscore ON pw.w = wscore.w
  GROUP BY pw.phrase),
occ AS (SELECT phrase, COUNT(*) AS n_occ FROM phr GROUP BY phrase),
final AS (
  SELECT p.phrase, o.n_occ,
         p.score_sum // o.n_occ AS score_milli
  FROM pscore p JOIN occ o ON p.phrase = o.phrase)
SELECT phrase, n_occ, score_milli
FROM final
ORDER BY score_milli DESC, phrase
LIMIT {_RAKE_TOP}
"""


@query("q_text_rake_keywords", _RAKE_ORACLE)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stops = [s.strip("'") for s in _RAKE_STOPS.split(",")]
    marked = d.select(
        "doc_id",
        F.expr(
            "transform(filter(split(trim(lower(text)), '\\\\s+'),"
            " t -> t <> ''),"
            f" t -> CASE WHEN t IN ({_RAKE_STOPS}) THEN '\x1f' ELSE t END)"
        ).alias("toks"),
    )
    phr = (
        marked.select(
            "doc_id",
            F.explode(
                F.split(F.array_join("toks", " "), "[ ]*\x1f[\x1f ]*")
            ).alias("p"),
        )
        .select("doc_id", F.trim(F.col("p")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pw = phr.select(
        "phrase",
        F.explode(F.split("phrase", " ")).alias("w"),
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    ws = pw.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    wscore = ws.select("w", F.expr("deg * 1000 DIV freq").alias("score_milli"))
    pscore = (
        pw.join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("score_milli").cast("bigint").alias("score_sum"))
    )
    occ = phr.groupBy("phrase").agg(F.count("*").alias("n_occ"))
    final = pscore.join(occ, "phrase").select(
        "phrase",
        "n_occ",
        F.expr("score_sum DIV n_occ").alias("score_milli"),
    )
    return final.orderBy(F.desc("score_milli"), "phrase").limit(_RAKE_TOP)


# -- X205 BPE encoding (apply learned merges to the corpus) ----------------
#
# The second half of the tokenizer loop (X165 trains; this ENCODES):
# re-learn the 3 merges, apply them to the word vocabulary, then join
# every document's words against the encoded vocab to get exact per-doc
# token counts before/after — the compression the merges bought,
# reported per source.  The join-against-vocab design is the scale
# shape: documents never re-run the merge scan; only the (small) vocab
# does, and the corpus pass is one explode + one keyed join.

def _bpe_encode_oracle() -> str:
    parts = [
        """
WITH toks AS (
  SELECT doc_id, lower(UNNEST(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents),
wtoks AS (
  SELECT doc_id, tok FROM toks WHERE regexp_full_match(tok, '[a-z]+')),
w0 AS (
  SELECT tok AS word, regexp_replace(tok, '(.)', '\\1|', 'g') AS seq,
         COUNT(*) AS freq
  FROM wtoks GROUP BY 1, 2)"""
    ]
    prev = "w0"
    for i in range(_BPE_ITERS):
        parts.append(
            f""",
e{i} AS (
  SELECT freq, syms, UNNEST(range(1, len(syms))) AS j
  FROM (SELECT freq, list_filter(string_split(seq, '|'), x -> x <> '') AS syms
        FROM {prev})),
p{i} AS (
  SELECT syms[j] AS l, syms[j+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM e{i} GROUP BY 1, 2),
b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
w{i + 1} AS (
  SELECT w.word,
         replace(w.seq, b.l || '|' || b.r || '|', b.l || b.r || '|') AS seq,
         w.freq
  FROM {prev} w CROSS JOIN b{i} b)"""
        )
        prev = f"w{i + 1}"
    parts.append(
        f""",
vocab AS (
  SELECT word,
         LENGTH(replace(seq, '|', '')) AS chars_before,
         LENGTH(seq) - LENGTH(replace(seq, '|', '')) AS toks_after
  FROM {prev}),
per_doc AS (
  SELECT wt.doc_id,
         CAST(SUM(v.chars_before) AS BIGINT) AS chars_before,
         CAST(SUM(v.toks_after) AS BIGINT) AS toks_after
  FROM wtoks wt JOIN vocab v ON wt.tok = v.word
  GROUP BY wt.doc_id)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(p.chars_before) AS BIGINT) AS sum_chars,
       CAST(SUM(p.toks_after) AS BIGINT) AS sum_tokens,
       CAST(SUM(p.toks_after) AS BIGINT) * 1000
         // CAST(SUM(p.chars_before) AS BIGINT) AS compression_milli
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source"""
    )
    return "".join(parts)


@query("q_corpus_bpe_encode", _bpe_encode_oracle())
def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wtoks = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok0"))
        .select("doc_id", F.lower("tok0").alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
    )
    w = (
        wtoks.groupBy(F.col("tok").alias("word"))
        .agg(F.count("*").alias("freq"))
        .select(
            "word",
            F.regexp_replace("word", "(.)", "$1|").alias("seq"),
            "freq",
        )
        .coalesce(4)
        .localCheckpoint(eager=True)
    )
    for _ in range(_BPE_ITERS):
        pairs = (
            w.select(
                "freq",
                F.expr("filter(split(seq, '\\\\|'), x -> x <> '')").alias(
                    "syms"
                ),
            )
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1),"
                        " slice(syms, 2, size(syms) - 1),"
                        " (a, b) -> struct(a AS l, b AS r))"
                    )
                ).alias("pr"),
            )
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1)
        w = (
            w.crossJoin(F.broadcast(best))
            .select(
                "word",
                F.replace(
                    F.col("seq"),
                    F.concat(F.col("l"), F.lit("|"), F.col("r"), F.lit("|")),
                    F.concat(F.col("l"), F.col("r"), F.lit("|")),
                ).alias("seq"),
                "freq",
            )
            .coalesce(4)
            .localCheckpoint(eager=True)
        )
    vocab = w.select(
        "word",
        F.length(F.replace(F.col("seq"), F.lit("|"), F.lit(""))).alias(
            "chars_before"
        ),
        (
            F.length("seq")
            - F.length(F.replace(F.col("seq"), F.lit("|"), F.lit("")))
        ).alias("toks_after"),
    )
    per_doc = (
        wtoks.join(vocab, wtoks["tok"] == vocab["word"])
        .groupBy("doc_id")
        .agg(
            F.sum("chars_before").cast("bigint").alias("chars_before"),
            F.sum("toks_after").cast("bigint").alias("toks_after"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("chars_before").cast("bigint").alias("sum_chars"),
            F.sum("toks_after").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            "sum_tokens",
            F.expr("sum_tokens * 1000 DIV sum_chars").alias(
                "compression_milli"
            ),
        )
    )


# -- X226 accent folding / unicode normalization ---------------------------
#
# Diacritic-insensitive matching, the standard pre-index normalization:
# accented text is folded to its ASCII skeleton with translate() (both
# engines are UTF-8 code-point-aware). The fixture has no native accents,
# so the query first APPLIES a deterministic accenting map to customer
# names (a→á, e→é, i→í, o→ó, u→ú on odd keys) and then proves the fold
# recovers the original exactly — a round-trip invariant the oracle
# checks per market segment alongside the fold's distinct-collision
# count. Stateless projections + one groupBy: scale-trivial.

_ACCENTS = "áéíóú"
_PLAIN = "aeiou"

_ACCENT_FOLD_ORACLE = f"""
WITH named AS (
  SELECT c_mktsegment, lower(c_name) AS base,
         CASE WHEN c_custkey % 2 = 1
              THEN translate(lower(c_name), '{_PLAIN}', '{_ACCENTS}')
              ELSE lower(c_name) END AS display
  FROM customer),
folded AS (
  SELECT c_mktsegment, base, display,
         translate(display, '{_ACCENTS}', '{_PLAIN}') AS folded
  FROM named)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN display <> base THEN 1 ELSE 0 END) AS BIGINT)
         AS n_accented,
       CAST(SUM(CASE WHEN folded = base THEN 1 ELSE 0 END) AS BIGINT)
         AS n_roundtrip,
       CAST(COUNT(DISTINCT folded) AS BIGINT) AS n_distinct_folded
FROM folded GROUP BY c_mktsegment
"""


@query("q_text_accent_fold", _ACCENT_FOLD_ORACLE)
def q_text_accent_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    base = F.lower(F.col("c_name"))
    display = F.when(
        F.col("c_custkey") % 2 == 1,
        F.translate(base, _PLAIN, _ACCENTS),
    ).otherwise(base)
    named = c.select(
        "c_mktsegment",
        base.alias("base"),
        display.alias("display"),
    )
    folded = named.withColumn(
        "folded", F.translate(F.col("display"), _ACCENTS, _PLAIN)
    )
    return folded.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("display") != F.col("base"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_accented"),
        F.sum(F.when(F.col("folded") == F.col("base"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip"),
        F.countDistinct("folded").cast("bigint").alias("n_distinct_folded"),
    )


# -- X228 bigram language-model scoring ------------------------------------
#
# Fluency scoring with a corpus-trained bigram LM, log-free: each doc's
# score is the MEAN CONDITIONAL PROBABILITY of its bigrams in ppm fixed
# point — Σ floor(c(w1,w2)·10⁶ / c(w1)) DIV n_bigrams — which both
# engines evaluate identically (no ln, no float sums). Training and
# scoring are the same corpus (leave-one-in, standard for quality
# filtering). Plan shape: one explode to (doc, bigram), one groupBy each
# for unigram/bigram counts, two keyed joins back — all shuffles on
# token keys, the same shape FastText-style quality filters use at web
# scale. Low-scoring docs are the repetitive/disfluent tail.

_BIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok,
         generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'),
                             1) AS pos
  FROM documents),
bigrams AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
uni AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
  FROM bigrams GROUP BY w1),
big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bigrams GROUP BY w1, w2),
scored AS (
  SELECT bg.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(b.c2 * 1000000 // u.c1) AS BIGINT) AS s
  FROM bigrams bg
  JOIN big b ON b.w1 = bg.w1 AND b.w2 = bg.w2
  JOIN uni u ON u.w1 = bg.w1
  GROUP BY bg.doc_id)
SELECT doc_id, n_bigrams,
       CAST(s // n_bigrams AS BIGINT) AS mean_cond_ppm
FROM scored
"""


@query("q_text_bigram_lm", _BIGRAM_LM_ORACLE)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), "\\s+")
        ).alias("pos", "tok"),
    )
    w_next = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("tok").over(w_next))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), "w2")
    )
    uni = bigrams.groupBy("w1").agg(
        F.count("*").cast("bigint").alias("c1")
    )
    big = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c2")
    )
    scored = (
        bigrams.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.expr("c2 * 1000000 DIV c1")).cast("bigint").alias("s"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.expr("s DIV n_bigrams").cast("bigint").alias("mean_cond_ppm"),
    )


# -- X236 BM25 ranking (integer fixed-point, log-free idf) ------------------
#
# Full-text relevance scoring the way a distributed search index computes
# it: postings are built by exploding tokens WITH the query-term filter
# applied before the shuffle (only matching terms ever move), document
# stats (N docs, total length S) are one-row broadcast aggregates, and
# the final top-20 is a distributed TakeOrdered — no global sort, no
# unpartitioned window. Scoring is exact integer arithmetic end to end:
# with k1 = 1.2, b = 0.75,
#   wtf = 2.2·tf / (tf + 0.3 + 0.9·dl·N/S)
#       → wtf_ppm = 22·10⁶·tf·S DIV (10·S·tf + 3·S + 9·dl·N)
# and the saturating-idf replaces ln((N−df+.5)/(df+.5)) with the monotone
# rational ((2N−2df+1)·10⁶) DIV (2df+1). Products run in DECIMAL(38,0)
# (DuckDB: HUGEINT) so nothing overflows even at web-corpus S ~ 10¹².

_BM25_TERMS = ("hash", "join", "scan", "filter")


def _bm25_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in _BM25_TERMS)


_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS s
  FROM dl),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN ({_bm25_terms_sql()})
  GROUP BY doc_id, tok),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT t.doc_id,
         CAST(((2 * c.n - 2 * f.df + 1) * 1000000 // (2 * f.df + 1))
              * (CAST(22000000 AS HUGEINT) * t.tf * c.s
                 // (10 * c.s * t.tf + 3 * c.s + 9 * d.dl * c.n))
              // 1000000 AS BIGINT) AS contrib
  FROM tf t
  JOIN dl d ON d.doc_id = t.doc_id
  JOIN df f ON f.tok = t.tok
  CROSS JOIN corpus c)
SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_ppm
FROM scored GROUP BY doc_id
ORDER BY score_ppm DESC, doc_id LIMIT 20
"""


@query("q_text_bm25", _BM25_ORACLE)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '([a-z]+)', 1)")
        ).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.expr(
                "CAST(((2 * n - 2 * df + 1) * 1000000 DIV (2 * df + 1))"
                " * (CAST(22000000 AS DECIMAL(38,0)) * tf * s"
                "    DIV (10 * s * tf + 3 * s + 9 * dl * n))"
                " DIV 1000000 AS BIGINT)"
            ).alias("contrib"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("contrib").cast("bigint").alias("score_ppm"))
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(20)
    )


# -- X237 Soundex phonetic bucketing (built-in vs reimplemented oracle) -----
#
# Spark side: the JVM built-in ``F.soundex`` (whole-stage codegen, no
# Python). Oracle side: American Soundex re-derived in portable SQL —
# per-word code string via translate (H/W → the transparent class '7'),
# consecutive-duplicate collapse via a Python-GENERATED nested replace
# chain (RE2 has no backreferences, so the classic regex collapse is not
# portable; log₂-depth pair replaces are), then vowel-class removal and
# zero padding. The vocabulary is the bounded distinct-token set, so the
# phonetic join is a tiny keyed aggregate at any corpus size.

_SDX_MAP = "01230127022455012623017202"  # A..Z; H/W → '7' (transparent)


def _sql_collapse_runs(expr: str) -> str:
    # Collapse runs of each code digit 0-6: replace dd→d applied ⌈log₂ L⌉
    # times per digit handles any run length ≤ 2^5 = 32 > max token len.
    out = expr
    for d in "0123456":
        for _ in range(5):
            out = f"replace({out}, '{d}{d}', '{d}')"
    return out


_SOUNDEX_ORACLE = f"""
WITH words AS (
  SELECT DISTINCT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents),
coded AS (
  SELECT w,
         translate(upper(w), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SDX_MAP}')
           AS codes
  FROM words),
collapsed AS (
  SELECT w,
         {_sql_collapse_runs("replace(codes, '7', '')")} AS coll,
         substr(translate(upper(w), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          '{_SDX_MAP}'), 1, 1) AS first_code
  FROM coded),
digits AS (
  SELECT w,
         replace(CASE WHEN first_code = '7' THEN coll
                      ELSE substr(coll, 2) END, '0', '') AS ds
  FROM collapsed),
sdx AS (
  SELECT w, upper(substr(w, 1, 1)) || substr(ds || '000', 1, 3) AS code
  FROM digits)
SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
       MIN(w) AS first_word, MAX(w) AS last_word
FROM sdx GROUP BY code
"""


@query("q_text_soundex", _SOUNDEX_ORACLE)
def q_text_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '([a-z]+)', 1)")
        ).alias("w")
    ).distinct()
    sdx = words.select("w", F.soundex(F.col("w")).alias("code"))
    return sdx.groupBy("code").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.min("w").alias("first_word"),
        F.max("w").alias("last_word"),
    )


# -- X238 suffix-stripping stemmer (Porter step-1 subset, RE2-portable) -----
#
# Lightweight stemming as a pure expression chain — the rule ORDER is the
# semantics (sses→ss before s-drop; ing/ed only when a vowel remains), so
# both engines evaluate the identical CASE/regexp cascade. No backrefs,
# no lookarounds: every pattern is RE2-safe and runs inside whole-stage
# codegen on the Spark side. Output: stem → distinct surface forms +
# occurrence count over the corpus vocabulary (bounded aggregate).


def _stem_sql(col: str) -> str:
    s1 = (
        f"CASE WHEN {col} LIKE '%sses' THEN substr({col}, 1, len({col}) - 2) "
        f"WHEN {col} LIKE '%ies' THEN substr({col}, 1, len({col}) - 2) "
        f"WHEN {col} LIKE '%ss' THEN {col} "
        f"WHEN {col} LIKE '%s' AND len({col}) > 2 "
        f"THEN substr({col}, 1, len({col}) - 1) "
        f"ELSE {col} END"
    )
    return (
        f"CASE WHEN regexp_matches({s1}, '[aeiou].*ing$') "
        f"AND len({s1}) > 5 THEN regexp_replace({s1}, 'ing$', '') "
        f"WHEN regexp_matches({s1}, '[aeiou].*ed$') AND len({s1}) > 4 "
        f"THEN regexp_replace({s1}, 'ed$', '') "
        f"ELSE {s1} END"
    )


_STEM_ORACLE = f"""
WITH toks AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents),
stemmed AS (SELECT w, {_stem_sql('w')} AS stem FROM toks)
SELECT stem, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_forms,
       MIN(w) AS sample_form
FROM stemmed GROUP BY stem
"""


def _stem_spark(col: str) -> str:
    # Spark's regexp_matches equivalent is rlike; same rule cascade.
    s1 = (
        f"CASE WHEN {col} LIKE '%sses' THEN substr({col}, 1, length({col}) - 2) "
        f"WHEN {col} LIKE '%ies' THEN substr({col}, 1, length({col}) - 2) "
        f"WHEN {col} LIKE '%ss' THEN {col} "
        f"WHEN {col} LIKE '%s' AND length({col}) > 2 "
        f"THEN substr({col}, 1, length({col}) - 1) "
        f"ELSE {col} END"
    )
    return (
        f"CASE WHEN {s1} RLIKE '[aeiou].*ing$' "
        f"AND length({s1}) > 5 THEN regexp_replace({s1}, 'ing$', '') "
        f"WHEN {s1} RLIKE '[aeiou].*ed$' AND length({s1}) > 4 "
        f"THEN regexp_replace({s1}, 'ed$', '') "
        f"ELSE {s1} END"
    )


@query("q_text_stem_light", _STEM_ORACLE)
def q_text_stem_light(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '([a-z]+)', 1)")
        ).alias("w")
    )
    stemmed = toks.select("w", F.expr(_stem_spark("w")).alias("stem"))
    return stemmed.groupBy("stem").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.countDistinct("w").cast("bigint").alias("n_forms"),
        F.min("w").alias("sample_form"),
    )


# -- X275 Zipf's-law diagnostic (log-free rank×frequency) ------------------
#
# Corpus health check: under Zipf, rank·frequency is near-constant. The
# log-log slope needs runtime logarithms (libm drift), so the
# diagnostic reports the EXACT integer products r·f for the top ranks
# plus their ppm ratio to the rank-1 frequency — the same curve, hash-
# stable. The vocab is pre-pruned by a distributed TakeOrdered before
# the rank window (the q_corpus_vocab_coverage posture).

_ZIPF_N = 30

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents),
vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS f
          FROM tok GROUP BY token),
ranked AS (
  SELECT token, f,
         ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r
  FROM vocab),
top AS (SELECT * FROM ranked WHERE r <= {_ZIPF_N}),
c1 AS (SELECT f AS f1 FROM top WHERE r = 1)
SELECT CAST(t.r AS BIGINT) AS r, t.token, t.f,
       CAST(t.r * t.f AS BIGINT) AS rf,
       CAST(t.r * t.f * 1000000 // c1.f1 AS BIGINT) AS rf_over_f1_ppm
FROM top t CROSS JOIN c1
"""


@query("q_text_zipf", _ZIPF_ORACLE)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '([a-z]+)', 1)")
        ).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("f"))
    # distributed pre-prune, THEN the rank window over the survivors
    top = vocab.orderBy(F.desc("f"), F.asc("token")).limit(_ZIPF_N)
    ranked = top.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.desc("f"), F.asc("token"))),
    )
    c1 = ranked.filter(F.col("r") == 1).select(F.col("f").alias("f1"))
    return ranked.crossJoin(F.broadcast(c1)).select(
        F.col("r").cast("bigint").alias("r"),
        "token",
        "f",
        (F.col("r") * F.col("f")).cast("bigint").alias("rf"),
        F.expr("CAST(r * f * 1000000 DIV f1 AS BIGINT)").alias(
            "rf_over_f1_ppm"
        ),
    )


# -- X294 TextRank keyword extraction --------------------------------------
#
# Graph-based keyword scoring (Mihalcea & Tarau 2004): co-occurrence
# edges between ADJACENT words across the corpus (distinct undirected
# pairs, built shuffle-free by zipping each split array against its own
# tail), then 3 PageRank rounds via the shared operators/graph.pagerank
# recurrence — the same decimal-summed, literal-damped iteration the
# nation-graph queries pin — and the final ranks reported for every
# vocabulary word. The oracle unrolls the identical recurrence; rank
# division stays IEEE-double on both engines, cross-partition sums in
# DECIMAL(38,10).

_TEXTRANK_EDGES_SQL = """
  SELECT DISTINCT LEAST(w1, w2) AS src, GREATEST(w1, w2) AS dst
  FROM (
    SELECT string_split(text, ' ')[t.i] AS w1,
           string_split(text, ' ')[t.i + 1] AS w2
    FROM documents,
         unnest(generate_series(1, len(string_split(text, ' ')) - 1)) t(i))
  WHERE w1 <> w2
"""


def _tr_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT nodes.node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE) * COALESCE(s.insum, CAST(0 AS DOUBLE))
           AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(r.rank / d.outdeg AS DECIMAL(38,10))) AS DOUBLE)
             AS insum
    FROM edges e
    JOIN {prev} r ON e.src = r.node
    JOIN deg d ON e.src = d.node
    GROUP BY e.dst) s ON nodes.node = s.node)"""


_TEXTRANK_ORACLE = f"""
WITH undirected AS ({_TEXTRANK_EDGES_SQL}),
edges AS (
  SELECT src, dst FROM undirected
  UNION ALL SELECT dst AS src, src AS dst FROM undirected),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank
       FROM nodes),
{_tr_iter_sql('r0', 'i1')},
{_tr_iter_sql('i1', 'i2')},
{_tr_iter_sql('i2', 'i3')}
SELECT node AS word, rank FROM i3
"""


@query("q_text_textrank", _TEXTRANK_ORACLE)
def q_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, F.size(arr) - 1).alias("w1"),
                F.slice(arr, 2, F.size(arr) - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    undirected = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("src"),
            F.greatest("w1", "w2").alias("dst"),
        )
        .distinct()
    )
    edges = undirected.unionByName(
        undirected.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).localCheckpoint(eager=True)
    return pagerank(edges, iterations=3).select(
        F.col("node").alias("word"), "rank"
    )


# -- X321 Good-Turing count-of-counts ---------------------------------------
# The frequency-of-frequencies table behind Good-Turing smoothing (the
# classic estimator for unseen-vocabulary mass in language-model work):
# N_r = how many distinct tokens occur exactly r times, and the smoothed
# adjusted count r* = (r+1) * N_{r+1} / N_r, emitted as an exact integer
# numerator/denominator pair plus a ppm rendering (no floats cross the
# gate). Plan: one token groupBy (the only full-corpus pass), a groupBy
# of the counts themselves, and a self-join on r+1 over the tiny
# count-of-counts table (bounded by the max token frequency). The output
# cap is DATA-RELATIVE: the 20 LOWEST FREQUENCY RANKS PRESENT (rank of r
# within the distinct frequencies, not r's value) — the low-frequency
# region Good-Turing actually smooths at whatever the corpus's frequency
# floor and spacing are. A fixed "r <= 20" cap was round 10's one audit
# finding: sf0.01's minimum token frequency is 26, so the query returned
# 0 rows in BOTH engines and its oracle green was contentless (VERDICT
# r10 "vacuous gate rows"); a value-relative "r <= min(r)+19" still
# yields 1 row there because frequencies are sparse above the floor.
# The rank is computed on the bounded count-of-counts table (a window
# over ≤ max-frequency distinct rows — never the fact scale).

_GOOD_TURING_ORACLE = """
WITH tf AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS r
  FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok),
coc AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
  FROM tf GROUP BY r)
SELECT a.r, a.n_r,
       CAST((a.r + 1) * COALESCE(b.n_r, 0) AS BIGINT) AS r_star_num,
       a.n_r AS r_star_den,
       CAST((1000000 * (a.r + 1) * COALESCE(b.n_r, 0)) // a.n_r
            AS BIGINT) AS r_star_ppm
FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
QUALIFY ROW_NUMBER() OVER (ORDER BY a.r) <= 20
"""


@query("q_text_good_turing", _GOOD_TURING_ORACLE)
def q_text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("r"))
    )
    # coc is bounded (one row per distinct token frequency) and consumed
    # twice (join left side, the r+1 shift) — checkpoint it so the
    # full-corpus token pass happens exactly once.
    coc = (
        tf.groupBy("r")
        .agg(F.count("*").cast("bigint").alias("n_r"))
        .localCheckpoint(eager=True)
    )
    nxt = coc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    # Rank window over the tiny checkpointed coc, never the fact scale.
    rank_w = Window.orderBy("r")
    return (
        coc.join(F.broadcast(nxt), "r", "left")
        .withColumn("__rk", F.row_number().over(rank_w))
        .where(F.col("__rk") <= 20)
        .drop("__rk")
        .select(
            "r",
            "n_r",
            ((F.col("r") + 1) * F.coalesce(F.col("n_r_next"), F.lit(0)))
            .cast("bigint").alias("r_star_num"),
            F.col("n_r").alias("r_star_den"),
            F.expr(
                "(1000000 * (r + 1) * COALESCE(n_r_next, 0)) DIV n_r"
            ).cast("bigint").alias("r_star_ppm"),
        )
    )


# -- X356: type-token ratio curve (lexical richness) -----------------------
#
# TTR is sample-size-dependent, so comparable per-source richness needs
# the distinct-type count at FIXED token budgets (100/250/500) over a
# reproducible token order: documents shuffled by portable hash, tokens
# in document order. The token rank comes from the grouped global_rank
# operator (range partitions on (source, order)) — never a 20-key
# window over the exploded fact-scale token stream.

_TTR_ORACLE = """
WITH toks AS (
  SELECT d.source,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS dh,
         d.doc_id, t.pos, t.tok
  FROM documents d,
       LATERAL (SELECT UNNEST(string_split_regex(trim(d.text), '\\s+'))
                       AS tok,
                       generate_subscripts(
                         string_split_regex(trim(d.text), '\\s+'), 1)
                       AS pos) t
  WHERE d.source IS NOT NULL AND d.text IS NOT NULL),
r AS (
  SELECT source, tok,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY dh, doc_id, pos) AS rk
  FROM toks)
SELECT source,
       CAST(COUNT(DISTINCT CASE WHEN rk <= 100 THEN tok END) AS BIGINT)
         AS types_100,
       CAST(COUNT(DISTINCT CASE WHEN rk <= 250 THEN tok END) AS BIGINT)
         AS types_250,
       CAST(COUNT(DISTINCT CASE WHEN rk <= 500 THEN tok END) AS BIGINT)
         AS types_500,
       CAST(COUNT(DISTINCT CASE WHEN rk <= 500 THEN tok END) * 1000000
            // LEAST(CAST(COUNT(CASE WHEN rk <= 500 THEN 1 END) AS BIGINT),
                     500) AS BIGINT) AS ttr500_ppm
FROM r GROUP BY source
"""


@query("q_text_ttr_curve", _TTR_ORACLE)
def q_text_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank
    from mini_etl_project_spark.operators.textops import tokens

    # NULL richness buckets / NULL texts are excluded on both engines
    # (r12 NULL audit: the NULL-source group survives DuckDB's GROUP BY
    # but not the grouped range-partition rank)
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("bigint").alias("dh"),
            F.posexplode(tokens("text")).alias("pos0", "tok"),
        )
        .withColumn("pos", F.col("pos0") + 1)
    )
    r = global_rank(
        d,
        order=[F.col("dh"), F.col("doc_id"), F.col("pos")],
        rank_col="rk",
        n_col="__n",
        group=["source"],
    )
    return r.groupBy("source").agg(
        F.countDistinct(F.when(F.col("rk") <= 100, F.col("tok")))
        .cast("bigint")
        .alias("types_100"),
        F.countDistinct(F.when(F.col("rk") <= 250, F.col("tok")))
        .cast("bigint")
        .alias("types_250"),
        F.countDistinct(F.when(F.col("rk") <= 500, F.col("tok")))
        .cast("bigint")
        .alias("types_500"),
        F.expr(
            "CAST(COUNT(DISTINCT CASE WHEN rk <= 500 THEN tok END) "
            "* 1000000 DIV LEAST(COUNT(CASE WHEN rk <= 500 THEN 1 END), "
            "500) AS BIGINT)"
        ).alias("ttr500_ppm"),
    )


# -- X399 Chao1 vocabulary-richness estimator -------------------------------
#
# "How many unique tokens would we see with infinite data?" — the
# ecology estimator corpora borrowed: Chao1 = V + F1²/(2·F2), where F1 /
# F2 are the singleton / doubleton counts of the token-frequency
# spectrum. Complements X? Good-Turing (mass of the unseen) with the
# SIZE of the unseen. Two keyed aggregates over the token explode
# (token counts → frequency-of-frequency), all integers, the estimator
# floored to an integer token count with the bias-corrected form
# (F1(F1−1)/(2(F2+1))) emitted alongside — both exact integer DIVs.

_CHAO1_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents),
tc AS (
  SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t),
spec AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM tc)
SELECT v, f1, f2,
       v + f1 * f1 // (2 * GREATEST(f2, 1)) AS chao1,
       v + f1 * (f1 - 1) // (2 * (f2 + 1)) AS chao1_bias_corrected
FROM spec
"""


@query("q_text_chao1_richness", _CHAO1_ORACLE)
def q_text_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    tc = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    spec = tc.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return spec.select(
        "v",
        "f1",
        "f2",
        F.expr("v + f1 * f1 DIV (2 * greatest(f2, 1))").alias("chao1"),
        F.expr("v + f1 * (f1 - 1) DIV (2 * (f2 + 1))").alias(
            "chao1_bias_corrected"
        ),
    )


# -- X431 Capture-recapture corpus-size estimate ----------------------------
#
# How many distinct documents exist in the wild when every crawl only
# sees a sample? Two independent hash-gated "crawls" (different md5
# seeds, 50 % each) overlap on m docs; the Chapman estimator
# N_hat = (nA+1)(nB+1)/(m+1) - 1 recovers the population size with
# finite-sample bias correction. Membership is the repo's
# deterministic hash gate (partitioning-independent), the three
# counts come from ONE conditional pass, and the estimator plus its
# variance stay integer until two final divisions.

_CR_ORACLE = """
WITH x AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5('crA:' ||
              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
              THEN 1 ELSE 0 END AS in_a,
         CASE WHEN CAST(('0x' || substr(md5('crB:' ||
              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
              THEN 1 ELSE 0 END AS in_b
  FROM documents),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(in_a) AS BIGINT) AS na,
         CAST(SUM(in_b) AS BIGINT) AS nb,
         CAST(SUM(in_a * in_b) AS BIGINT) AS m
  FROM x)
SELECT n_true, na, nb, m,
       (CAST(na + 1 AS DOUBLE) * (nb + 1)) / (m + 1) - 1.0
         AS n_chapman,
       (CAST(na + 1 AS DOUBLE) * (nb + 1) * (na - m) * (nb - m))
         / ((CAST(m AS DOUBLE) + 1.0) * (m + 1) * (m + 2))
         AS var_chapman
FROM c
"""


@query("q_text_capture_recapture", _CR_ORACLE)
def q_text_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.sampling_q import hash60

    docs = load_table(spark, sf_dir, "documents")
    gate = lambda seed: F.when(
        hash60(F.concat(F.lit(seed), F.col("doc_id").cast("string"))) % 2
        == 0,
        1,
    ).otherwise(0)
    x = docs.select(
        gate("crA:").alias("in_a"), gate("crB:").alias("in_b")
    )
    c = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum("in_b").cast("bigint").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("m"),
    )
    na, nb, m = F.col("na"), F.col("nb"), F.col("m")
    return c.select(
        "n_true",
        "na",
        "nb",
        "m",
        (
            ((na + 1).cast("double") * (nb + 1)) / (m + 1) - F.lit(1.0)
        ).alias("n_chapman"),
        (
            ((na + 1).cast("double") * (nb + 1) * (na - m) * (nb - m))
            / ((m.cast("double") + F.lit(1.0)) * (m + 1) * (m + 2))
        ).alias("var_chapman"),
    )


# -- X455 ROUGE-1 over document pairs -----------------------------------------
#
# The eval-side text metric every summarization/gen pipeline reports:
# clipped unigram overlap between a candidate and a reference. Pairs are
# (doc_id, doc_id+1) for doc_id % 50 == 0 — a deterministic sparse pair
# set that scales with the corpus while staying a keyed equi-join (no
# all-pairs anywhere). Overlap = Σ_w min(c_cand(w), c_ref(w)) via one
# (pair, word)-keyed join of the two token-count tables; precision /
# recall / F1 are exact integer ppm (F1 on counts = 2·ov/(len_c+len_r)).

_ROUGE_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"

_ROUGE_ORACLE = f"""
WITH pairs AS (
  SELECT c.doc_id AS pair_id, c.text AS ctext, r.text AS rtext
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 50 = 0),
ct AS (
  SELECT pair_id, UNNEST({_ROUGE_TOKS.replace('text', 'ctext')}) AS w
  FROM pairs),
rt AS (
  SELECT pair_id, UNNEST({_ROUGE_TOKS.replace('text', 'rtext')}) AS w
  FROM pairs),
cc AS (SELECT pair_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM ct GROUP BY 1, 2),
rc AS (SELECT pair_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM rt GROUP BY 1, 2),
ov AS (
  SELECT cc.pair_id, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS overlap
  FROM cc JOIN rc ON rc.pair_id = cc.pair_id AND rc.w = cc.w
  GROUP BY cc.pair_id),
lens AS (
  SELECT pair_id, LEN({_ROUGE_TOKS.replace('text', 'ctext')}) AS len_c,
         LEN({_ROUGE_TOKS.replace('text', 'rtext')}) AS len_r
  FROM pairs)
SELECT l.pair_id,
       CAST(l.len_c AS BIGINT) AS len_c,
       CAST(l.len_r AS BIGINT) AS len_r,
       CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
       CASE WHEN l.len_c > 0
            THEN CAST(COALESCE(ov.overlap, 0) * 1000000 // l.len_c
                      AS BIGINT) END AS p_ppm,
       CASE WHEN l.len_r > 0
            THEN CAST(COALESCE(ov.overlap, 0) * 1000000 // l.len_r
                      AS BIGINT) END AS r_ppm,
       CASE WHEN l.len_c + l.len_r > 0
            THEN CAST(2 * COALESCE(ov.overlap, 0) * 1000000
                      // (l.len_c + l.len_r) AS BIGINT) END AS f1_ppm
FROM lens l LEFT JOIN ov ON ov.pair_id = l.pair_id
"""


@query("q_text_rouge1_pairs", _ROUGE_ORACLE)
def q_text_rouge1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cand = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("ctext")
    )
    ref = d.select(
        (F.col("doc_id") - 1).alias("pair_id"), F.col("text").alias("rtext")
    )
    # three consumers (ct, rt, lens) — materialize the sparse pair set
    # once so the documents scan + self-join run once
    pairs = cand.join(ref, "pair_id").localCheckpoint(eager=False)
    ct = pairs.select(
        "pair_id", F.explode(tokens("ctext")).alias("w")
    ).filter(F.col("w") != "")
    rt = pairs.select(
        "pair_id", F.explode(tokens("rtext")).alias("w")
    ).filter(F.col("w") != "")
    cc = ct.groupBy("pair_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rc = rt.groupBy("pair_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("rcnt")
    )
    ov = (
        cc.join(rc, ["pair_id", "w"])
        .groupBy("pair_id")
        .agg(
            F.sum(F.least(F.col("c"), F.col("rcnt")))
            .cast("bigint")
            .alias("overlap")
        )
    )
    ntok = lambda col: F.size(  # noqa: E731
        F.filter(tokens(col), lambda t: t != "")
    )
    lens = pairs.select(
        "pair_id",
        ntok("ctext").cast("bigint").alias("len_c"),
        ntok("rtext").cast("bigint").alias("len_r"),
    )
    return lens.join(ov, "pair_id", "left").select(
        "pair_id",
        "len_c",
        "len_r",
        F.coalesce("overlap", F.lit(0)).cast("bigint").alias("overlap"),
        # empty candidate/reference: NULL ppm on both engines (ANSI Spark
        # throws DIVIDE_BY_ZERO where DuckDB // yields NULL)
        F.expr(
            "CASE WHEN len_c > 0 THEN"
            " CAST(COALESCE(overlap, 0) * 1000000 DIV len_c AS BIGINT) END"
        ).alias("p_ppm"),
        F.expr(
            "CASE WHEN len_r > 0 THEN"
            " CAST(COALESCE(overlap, 0) * 1000000 DIV len_r AS BIGINT) END"
        ).alias("r_ppm"),
        F.expr(
            "CASE WHEN len_c + len_r > 0 THEN"
            " CAST(2 * COALESCE(overlap, 0) * 1000000"
            " DIV (len_c + len_r) AS BIGINT) END"
        ).alias("f1_ppm"),
    )


# -- X456 BLEU modified n-gram precisions -------------------------------------
#
# The other half of the gen-eval pair: clipped (modified) n-gram
# precisions p1/p2 over the same deterministic pair set, plus the exact
# length ratio the brevity penalty reads (the exp() combine itself is
# deliberately left to the caller — ln/exp are libm-dependent, see the
# KL note in corpus_q). Bigrams build in-plan from the token array
# (sequence+transform — JVM-side, no UDF); clipping is the same
# (pair, gram)-keyed min-join as ROUGE.

_BLEU_ORACLE = f"""
WITH pairs AS (
  SELECT c.doc_id AS pair_id, c.text AS ctext, r.text AS rtext
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 50 = 0),
toks AS (
  SELECT pair_id,
         {_ROUGE_TOKS.replace('text', 'ctext')} AS ctoks,
         {_ROUGE_TOKS.replace('text', 'rtext')} AS rtoks
  FROM pairs),
grams AS (
  SELECT pair_id,
         ctoks AS c1, rtoks AS r1,
         list_transform(generate_series(1, LEN(ctoks) - 1),
                        i -> ctoks[i] || ' ' || ctoks[i + 1]) AS c2,
         list_transform(generate_series(1, LEN(rtoks) - 1),
                        i -> rtoks[i] || ' ' || rtoks[i + 1]) AS r2
  FROM toks),
u AS (
  SELECT pair_id, 1 AS n, UNNEST(c1) AS g, 'c' AS side FROM grams
  UNION ALL
  SELECT pair_id, 1, UNNEST(r1), 'r' FROM grams
  UNION ALL
  SELECT pair_id, 2, UNNEST(c2), 'c' FROM grams
  UNION ALL
  SELECT pair_id, 2, UNNEST(r2), 'r' FROM grams),
cnt AS (
  SELECT pair_id, n, g,
         CAST(COUNT(CASE WHEN side = 'c' THEN 1 END) AS BIGINT) AS cc,
         CAST(COUNT(CASE WHEN side = 'r' THEN 1 END) AS BIGINT) AS rc
  FROM u GROUP BY 1, 2, 3),
agg AS (
  SELECT pair_id, n,
         CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS clipped,
         CAST(SUM(cc) AS BIGINT) AS total_c
  FROM cnt GROUP BY 1, 2),
lens AS (
  SELECT pair_id, LEN(c1) AS len_c, LEN(r1) AS len_r FROM grams)
SELECT a.pair_id, a.n, a.clipped, a.total_c,
       CAST(a.clipped * 1000000 // a.total_c AS BIGINT) AS p_ppm,
       CASE WHEN l.len_r > 0
            THEN CAST(l.len_c * 1000000 // l.len_r AS BIGINT) END
         AS len_ratio_ppm
FROM agg a JOIN lens l ON l.pair_id = a.pair_id
WHERE a.total_c > 0
"""


@query("q_text_bleu_precisions", _BLEU_ORACLE)
def q_text_bleu_precisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cand = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("ctext")
    )
    ref = d.select(
        (F.col("doc_id") - 1).alias("pair_id"), F.col("text").alias("rtext")
    )
    clean = lambda col: F.filter(tokens(col), lambda t: t != "")  # noqa: E731

    def bigrams(arr):
        # Spark's sequence(1, stop) runs DESCENDING when stop < 1 (e.g.
        # [1, 0] → element_at(arr, 0) throws); DuckDB's generate_series
        # yields an empty list. Mirror the empty list for 0/1-token docs.
        stop = F.size(arr) - 1
        idx = F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(arr, i), F.element_at(arr, i + 1)
            ),
        )

    grams = cand.join(ref, "pair_id").select(
        "pair_id",
        clean("ctext").alias("c1"),
        clean("rtext").alias("r1"),
    ).select(
        "pair_id",
        "c1",
        "r1",
        bigrams(F.col("c1")).alias("c2"),
        bigrams(F.col("r1")).alias("r2"),
    ).localCheckpoint(eager=False)
    # ^ five consumers below (4 union arms + lens): without the
    # checkpoint the pair join + tokenization re-executes per arm
    # (measured 6.5 s -> ~2 s at sf0.1). The table is one row per
    # sparse pair — tiny at any SF.
    u = None
    for n, cc, rc in ((1, "c1", "r1"), (2, "c2", "r2")):
        for side, col in (("c", cc), ("r", rc)):
            part = grams.select(
                "pair_id",
                F.lit(n).alias("n"),
                F.explode(col).alias("g"),
                F.lit(side).alias("side"),
            )
            u = part if u is None else u.unionByName(part)
    cnt = u.groupBy("pair_id", "n", "g").agg(
        F.count(F.when(F.col("side") == "c", 1)).cast("bigint").alias("cc"),
        F.count(F.when(F.col("side") == "r", 1)).cast("bigint").alias("rc"),
    )
    agg = cnt.groupBy("pair_id", "n").agg(
        F.sum(F.least("cc", "rc")).cast("bigint").alias("clipped"),
        F.sum("cc").cast("bigint").alias("total_c"),
    )
    lens = grams.select(
        "pair_id",
        F.size("c1").cast("bigint").alias("len_c"),
        F.size("r1").cast("bigint").alias("len_r"),
    )
    return (
        agg.join(lens, "pair_id")
        .filter(F.col("total_c") > 0)
        .select(
            "pair_id",
            "n",
            "clipped",
            "total_c",
            F.expr("CAST(clipped * 1000000 DIV total_c AS BIGINT)").alias(
                "p_ppm"
            ),
            # len_r = 0 (empty reference): NULL on both engines — ANSI
            # Spark would throw DIVIDE_BY_ZERO where DuckDB // yields NULL
            F.expr(
                "CASE WHEN len_r > 0"
                " THEN CAST(len_c * 1000000 DIV len_r AS BIGINT) END"
            ).alias("len_ratio_ppm"),
        )
    )


# -- X461 chrF character n-gram F-score ---------------------------------------
#
# The tokenizer-free third leg of the gen-eval stack (ROUGE-1 X455 /
# BLEU X456 read word overlap; chrF reads character 3-gram overlap, the
# metric of choice for morphology-rich and unsegmented languages). Same
# deterministic sparse pair set; multiset (non-distinct) char 3-grams
# built in-plan via sequence+substring; clipped overlap through the same
# (pair, gram)-keyed min-join; chrF's beta=2 F-score reduces to EXACT
# integer ppm: F2 = 5·PR/(4P+R) = 5·ov/(4·len_r + len_c).

_CHRF_N = 3


def _char_grams_sql(col: str) -> str:
    return (
        f"list_transform(generate_series(1, LENGTH({col}) - {_CHRF_N - 1}),"
        f" i -> substr({col}, i, {_CHRF_N}))"
    )


_CHRF_ORACLE = f"""
WITH pairs AS (
  SELECT c.doc_id AS pair_id, c.text AS ctext, r.text AS rtext
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 50 = 0),
u AS (
  SELECT pair_id, UNNEST({_char_grams_sql('ctext')}) AS g, 'c' AS side
  FROM pairs
  UNION ALL
  SELECT pair_id, UNNEST({_char_grams_sql('rtext')}), 'r' FROM pairs),
cnt AS (
  SELECT pair_id, g,
         CAST(COUNT(CASE WHEN side = 'c' THEN 1 END) AS BIGINT) AS cc,
         CAST(COUNT(CASE WHEN side = 'r' THEN 1 END) AS BIGINT) AS rc
  FROM u GROUP BY 1, 2),
agg AS (
  SELECT pair_id,
         CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS overlap,
         CAST(SUM(cc) AS BIGINT) AS len_c,
         CAST(SUM(rc) AS BIGINT) AS len_r
  FROM cnt GROUP BY pair_id)
SELECT pair_id, overlap, len_c, len_r,
       CASE WHEN len_c > 0
            THEN CAST(overlap * 1000000 // len_c AS BIGINT) END AS p_ppm,
       CASE WHEN len_r > 0
            THEN CAST(overlap * 1000000 // len_r AS BIGINT) END AS r_ppm,
       CAST(5 * overlap * 1000000 // (4 * len_r + len_c) AS BIGINT)
         AS chrf2_ppm
FROM agg
"""


@query("q_text_chrf_pairs", _CHRF_ORACLE)
def q_text_chrf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cand = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("ctext")
    )
    ref = d.select(
        (F.col("doc_id") - 1).alias("pair_id"), F.col("text").alias("rtext")
    )

    def grams(col):
        c = F.col(col)
        # clamp: text shorter than _CHRF_N chars gets an EMPTY gram list
        # (DuckDB's generate_series(1, len-2) is empty; Spark's
        # sequence(1, stop<1) is a descending array whose substring(c,
        # 0|-1, 3) rows silently diverge)
        stop = F.length(c) - (_CHRF_N - 1)
        idx = F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.substring(c, i, _CHRF_N))

    # two union arms consume pairs — materialize once (same defect class
    # as the BLEU gram-table fix)
    pairs = cand.join(ref, "pair_id").localCheckpoint(eager=False)
    u = (
        pairs.select(
            "pair_id", F.explode(grams("ctext")).alias("g"),
            F.lit("c").alias("side"),
        )
        .unionByName(
            pairs.select(
                "pair_id", F.explode(grams("rtext")).alias("g"),
                F.lit("r").alias("side"),
            )
        )
    )
    cnt = u.groupBy("pair_id", "g").agg(
        F.count(F.when(F.col("side") == "c", 1)).cast("bigint").alias("cc"),
        F.count(F.when(F.col("side") == "r", 1)).cast("bigint").alias("rc"),
    )
    agg = cnt.groupBy("pair_id").agg(
        F.sum(F.least("cc", "rc")).cast("bigint").alias("overlap"),
        F.sum("cc").cast("bigint").alias("len_c"),
        F.sum("rc").cast("bigint").alias("len_r"),
    )
    return agg.select(
        "pair_id",
        "overlap",
        "len_c",
        "len_r",
        # one-sided gram sets (text < 3 chars on one side): NULL ppm on
        # both engines instead of ANSI DIVIDE_BY_ZERO; the chrf2
        # denominator is >= 1 whenever the pair has any gram at all
        F.expr(
            "CASE WHEN len_c > 0"
            " THEN CAST(overlap * 1000000 DIV len_c AS BIGINT) END"
        ).alias("p_ppm"),
        F.expr(
            "CASE WHEN len_r > 0"
            " THEN CAST(overlap * 1000000 DIV len_r AS BIGINT) END"
        ).alias("r_ppm"),
        F.expr(
            "CAST(5 * overlap * 1000000 DIV (4 * len_r + len_c) AS BIGINT)"
        ).alias("chrf2_ppm"),
    )


# -- X486 rank-agreement profile (RBO ingredients) ----------------------------
#
# Retrieval-eval primitive the NDCG/MRR rows don't give: how much do two
# rankers agree at every depth? Rankers here are two deterministic
# orderings of the corpus — by character length vs by whitespace token
# count (ties by doc_id) — and the output is overlap@d for d = 1..20
# plus its exact agreement ppm, i.e. the per-depth terms rank-biased
# overlap sums with p-weights (the geometric combine is left to the
# caller, same ln/exp policy as BLEU). Scale shape: each ranking is a
# global TOP-20 (TakeOrdered — no full sort survives the limit), the
# depth fan-out is a bounded 20x40 cross, and everything is integers.

_RANK_DEPTH = 20

_RBO_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, LENGTH(text) AS n_chars_m,
         LEN(list_filter(string_split_regex(trim(text), '\\s+'),
             t -> t <> '')) AS ntok
  FROM documents),
ra AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars_m DESC, doc_id) AS r
  FROM scored QUALIFY r <= {_RANK_DEPTH}),
rb AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ntok DESC, doc_id) AS r
  FROM scored QUALIFY r <= {_RANK_DEPTH}),
u AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         ra.r AS r_a, rb.r AS r_b
  FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id),
depths AS (SELECT UNNEST(generate_series(1, {_RANK_DEPTH})) AS depth)
SELECT d.depth,
       CAST(COUNT(CASE WHEN u.r_a <= d.depth AND u.r_b <= d.depth
                       THEN 1 END) AS BIGINT) AS overlap,
       CAST(COUNT(CASE WHEN u.r_a <= d.depth AND u.r_b <= d.depth
                       THEN 1 END) * 1000000 // d.depth AS BIGINT)
         AS agreement_ppm
FROM depths d LEFT JOIN u ON TRUE
GROUP BY d.depth
"""


@query("q_text_rank_overlap_profile", _RBO_ORACLE)
def q_text_rank_overlap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.size(F.filter(tokens("text"), lambda t: t != "")).alias("ntok"),
    )
    # global top-k via orderBy+limit compiles to TakeOrderedAndProject —
    # per-partition heaps, no full sort
    top_a = scored.orderBy(F.desc("n_chars_m"), F.asc("doc_id")).limit(
        _RANK_DEPTH
    )
    top_b = scored.orderBy(F.desc("ntok"), F.asc("doc_id")).limit(_RANK_DEPTH)
    wa = Window.orderBy(F.desc("n_chars_m"), F.asc("doc_id"))
    wb = Window.orderBy(F.desc("ntok"), F.asc("doc_id"))
    ra = top_a.select(
        "doc_id", F.row_number().over(wa).alias("r_a")
    )
    rb = top_b.select(
        "doc_id", F.row_number().over(wb).alias("r_b")
    )
    u = ra.join(rb, "doc_id", "full").select("doc_id", "r_a", "r_b")
    depths = spark.range(1, _RANK_DEPTH + 1).select(
        F.col("id").cast("int").alias("depth")
    )
    hit = (F.col("r_a") <= F.col("depth")) & (F.col("r_b") <= F.col("depth"))
    return (
        depths.crossJoin(u)
        .groupBy("depth")
        .agg(F.count(F.when(hit, 1)).cast("bigint").alias("overlap"))
        .select(
            "depth",
            "overlap",
            F.expr(
                "CAST(overlap * 1000000 DIV depth AS BIGINT)"
            ).alias("agreement_ppm"),
        )
    )


# =============================================================================
# Portable-ln corpus statistics (X490-X491) — the text-side consumers of
# the helpers.pln_* kernel. Every ln argument is a token probability
# (always inside the kernel domain), so PMI and surprisal are fully
# oracle-exact: bit-identical lns per row, and any cross-term sum runs
# as a left fold over a position-sorted bounded per-document array
# (never a distributed double SUM). See ml_q.py's information-theory
# wave header for the red/kk staging discipline.
# =============================================================================

from mini_etl_project_spark.queries.helpers import (  # noqa: E402
    fold_sum as _fold_sum,
    sql_qsum as _sql_qsum,
    pln_finish as _pln_finish,
    pln_k as _pln_k,
    pln_red as _pln_red,
)


from mini_etl_project_spark.queries.helpers import (  # noqa: E402
    sql_ln_layer as _sql_ln_layer,
)


def _filtered_tokens(col):
    """House whitespace tokens with empties dropped — the Spark twin of
    ``_TOKS`` (split of an empty trimmed string yields [''])."""
    return F.filter(
        F.split(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+"),
        lambda t: t != "",
    )


# -- X490 PMI collocations -----------------------------------------------------
#
# Pointwise mutual information over adjacent-token bigrams — the classic
# collocation extractor (Church & Hanks 1990). pmi = ln p(w1,w2) −
# ln p(w1) − ln p(w2) with unigram/bigram probabilities from exact
# BIGINT corpus counts; all three lns ride one staged portable kernel
# via the unpivot, so each candidate's PMI is a deterministic per-row
# expression (no cross-row double sums at all). Candidates are
# frequency-floored (cb >= 5) before any double work, and the top-20 is
# a TakeOrdered with a full lexical tie-break. Scale: two keyed
# count aggregates + small joins — no all-pairs anywhere.

_PMI_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
uni AS (SELECT UNNEST(tk) AS w FROM toks),
ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
utot AS (SELECT CAST(SUM(cu) AS BIGINT) AS tu FROM ucnt),
big AS (
  SELECT UNNEST(list_transform(generate_series(1, LEN(tk) - 1),
                               i -> struct_pack(w1 := tk[i],
                                                w2 := tk[i + 1]))) AS b
  FROM toks),
bcnt AS (
  SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS cb
  FROM big GROUP BY 1, 2),
btot AS (SELECT CAST(SUM(cb) AS BIGINT) AS tb FROM bcnt),
cand AS (
  SELECT w1, w2, cb, cu1, cu2, tu, tb
  FROM (SELECT * FROM bcnt WHERE cb >= 5) c
  JOIN (SELECT w AS uw1, cu AS cu1 FROM ucnt) a ON c.w1 = a.uw1
  JOIN (SELECT w AS uw2, cu AS cu2 FROM ucnt) b ON c.w2 = b.uw2
  CROSS JOIN utot CROSS JOIN btot),
stack AS (
  SELECT 'b' AS which, w1, w2, cb,
         CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS v FROM cand
  UNION ALL
  SELECT 'u1', w1, w2, cb, CAST(cu1 AS DOUBLE) / CAST(tu AS DOUBLE) FROM cand
  UNION ALL
  SELECT 'u2', w1, w2, cb, CAST(cu2 AS DOUBLE) / CAST(tu AS DOUBLE) FROM cand),
lns AS ({_sql_ln_layer('stack', 'which, w1, w2, cb')}),
piv AS (
  SELECT w1, w2, MAX(cb) AS pair_count,
         ((MAX(CASE WHEN which = 'b' THEN lnv END)
           - MAX(CASE WHEN which = 'u1' THEN lnv END))
          - MAX(CASE WHEN which = 'u2' THEN lnv END)) AS pmi_nats
  FROM lns GROUP BY 1, 2)
SELECT w1, w2, pair_count, pmi_nats
FROM piv ORDER BY pmi_nats DESC, w1, w2 LIMIT 20
"""


@query("q_text_pmi_collocations", _PMI_ORACLE)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _filtered_tokens("text").alias("tk"))
    # bigrams via two aligned slices (empty for 0/1-token docs — the
    # ADVICE-r8 short-doc lane; DuckDB's generate_series is empty there)
    blen = F.greatest(F.size("tk") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("tk", 1, blen),
        F.slice("tk", 2, blen),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    uni = toks.select(F.explode("tk").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
    utot = ucnt.agg(F.sum("cu").cast("bigint").alias("tu"))
    bcnt = (
        toks.select(F.explode(pairs).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    )
    btot = bcnt.agg(F.sum("cb").cast("bigint").alias("tb"))
    cand = (
        bcnt.filter(F.col("cb") >= 5)
        .join(
            ucnt.select(F.col("w").alias("uw1"), F.col("cu").alias("cu1")),
            F.col("w1") == F.col("uw1"),
        )
        .join(
            ucnt.select(F.col("w").alias("uw2"), F.col("cu").alias("cu2")),
            F.col("w2") == F.col("uw2"),
        )
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "cb", "cu1", "cu2", "tu", "tb")
        # candidate table feeds three stack branches — checkpoint so the
        # corpus token scans run once (BLEU-fix lane)
        .localCheckpoint(eager=True)
    )
    stack = (
        cand.select(
            F.lit("b").alias("which"),
            "w1",
            "w2",
            "cb",
            (F.col("cb").cast("double") / F.col("tb").cast("double")).alias(
                "v"
            ),
        )
        .unionAll(
            cand.select(
                F.lit("u1"),
                "w1",
                "w2",
                "cb",
                F.col("cu1").cast("double") / F.col("tu").cast("double"),
            )
        )
        .unionAll(
            cand.select(
                F.lit("u2"),
                "w1",
                "w2",
                "cb",
                F.col("cu2").cast("double") / F.col("tu").cast("double"),
            )
        )
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which",
            "w1",
            "w2",
            "cb",
            _pln_finish("red", "kk").alias("lnv"),
        )
    )
    piv = lns.groupBy("w1", "w2").agg(
        F.max("cb").alias("pair_count"),
        (
            (
                F.max(F.when(F.col("which") == "b", F.col("lnv")))
                - F.max(F.when(F.col("which") == "u1", F.col("lnv")))
            )
            - F.max(F.when(F.col("which") == "u2", F.col("lnv")))
        ).alias("pmi_nats"),
    )
    return piv.orderBy(F.desc("pmi_nats"), "w1", "w2").limit(20)


# -- X491 per-document unigram surprisal ---------------------------------------
#
# Mean surprisal (cross-entropy, nats/token) of each document under the
# corpus unigram LM — the "how atypical is this doc" score every
# quality-filtering pipeline wants next to its perplexity column (no
# exp() needed: surprisal IS ln-perplexity). Token probabilities are
# exact corpus counts over the total; ONE staged portable ln per vocab
# word (vocab-sized, not corpus-sized); each document folds its tokens'
# lns in position order, so the per-doc sum is bit-identical in both
# engines. Top-10 most-surprising docs with doc_id tie-break.

_SURPRISAL_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
tw AS (
  SELECT doc_id, u.i AS i, u.w AS w
  FROM (SELECT doc_id,
               UNNEST(list_transform(generate_series(1, LEN(tk)),
                                     i -> struct_pack(i := i,
                                                      w := tk[i]))) AS u
        FROM toks)),
ucnt AS (SELECT w AS uw, CAST(COUNT(*) AS BIGINT) AS cu FROM tw GROUP BY 1),
utot AS (SELECT CAST(SUM(cu) AS BIGINT) AS tu FROM ucnt),
pv AS (
  SELECT uw, CAST(cu AS DOUBLE) / CAST(tu AS DOUBLE) AS v
  FROM ucnt CROSS JOIN utot),
lns AS ({_sql_ln_layer('pv', 'uw')}),
d AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         list_reduce(list(l.lnv ORDER BY t.i), (a, x) -> a + x) AS s
  FROM tw t JOIN lns l ON t.w = l.uw
  GROUP BY 1)
SELECT doc_id, n_tokens,
       -(s) / CAST(n_tokens AS DOUBLE) AS surprisal_nats
FROM d ORDER BY surprisal_nats DESC, doc_id LIMIT 10
"""


@query("q_text_unigram_surprisal", _SURPRISAL_ORACLE)
def q_text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _filtered_tokens("text").alias("tk"))
    # posexplode is 0-based; only the per-doc ORDER is contractual
    tw = toks.select(
        "doc_id", F.posexplode("tk").alias("i", "w")
    )
    ucnt = (
        tw.groupBy(F.col("w").alias("uw"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
        # vocab-sized; feeds utot + pv — checkpoint so the LM-estimate
        # corpus scan runs once (scoring pays the second, the LM floor)
        .localCheckpoint(eager=True)
    )
    utot = ucnt.agg(F.sum("cu").cast("bigint").alias("tu"))
    pv = ucnt.crossJoin(F.broadcast(utot)).select(
        "uw", (F.col("cu").cast("double") / F.col("tu").cast("double")).alias("v")
    )
    lns = (
        pv.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select("uw", _pln_finish("red", "kk").alias("lnv"))
    )
    # vocab-sized probe side: broadcast it so the corpus-sized token
    # table never shuffles for the lookup (tokens of a doc stay
    # co-located from the explode through the per-doc aggregate)
    j = tw.join(F.broadcast(lns), tw["w"] == lns["uw"]).select(
        "doc_id", "i", "lnv"
    )
    per_doc = (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("i", F.col("lnv").alias("l")))
            ).alias("pairs"),
        )
        .select(
            "doc_id",
            "n_tokens",
            _fold_sum(F.transform("pairs", lambda p: p["l"])).alias("s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        ((-F.col("s")) / F.col("n_tokens").cast("double")).alias(
            "surprisal_nats"
        ),
    ).orderBy(F.desc("surprisal_nats"), "doc_id").limit(10)


# -- X493 Zipf law fit ----------------------------------------------------------
#
# OLS fit of ln(frequency) against ln(rank) over the top-50 corpus
# tokens — the Zipf-law exponent every corpus-health dashboard plots
# (slope ~ -1 for natural text; synthetic/templated corpora deviate).
# Ranks are <= 50 so ln(rank) rides the kernel directly; frequencies are
# unbounded counts, so ln(f) = -ln(1/f) (1/f is always in the kernel
# domain). All five OLS sums fold from ONE rank-sorted 50-element
# array; the slope/intercept/r2 assembly is a single deterministic IEEE
# expression tree in both engines. The top-50 is a TakeOrdered with a
# lexical tie-break; the corpus scan is one keyed count.

_ZIPF_K = 50

_ZIPF_ORACLE = f"""
WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
cnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT UNNEST(tk) AS w FROM toks) GROUP BY 1),
top AS (
  SELECT w, f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
  FROM cnt ORDER BY f DESC, w LIMIT {_ZIPF_K}),
stack AS (
  SELECT 'r' AS which, r, CAST(r AS DOUBLE) AS v FROM top
  UNION ALL
  SELECT 'f', r, CAST(1.0 AS DOUBLE) / CAST(f AS DOUBLE) FROM top),
lns AS ({{LN_LAYER}}),
piv AS (
  SELECT r,
         MAX(CASE WHEN which = 'r' THEN lnv END) AS x,
         -(MAX(CASE WHEN which = 'f' THEN lnv END)) AS y
  FROM lns GROUP BY 1),
folds AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce(list(x ORDER BY r), (a, b) -> a + b) AS sx,
         list_reduce(list(y ORDER BY r), (a, b) -> a + b) AS sy,
         list_reduce(list(x * y ORDER BY r), (a, b) -> a + b) AS sxy,
         list_reduce(list(x * x ORDER BY r), (a, b) -> a + b) AS sxx,
         list_reduce(list(y * y ORDER BY r), (a, b) -> a + b) AS syy
  FROM piv)
SELECT k AS k_ranks,
       (CAST(k AS DOUBLE) * sxy - sx * sy)
         / (CAST(k AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
       (sy - (CAST(k AS DOUBLE) * sxy - sx * sy)
               / (CAST(k AS DOUBLE) * sxx - sx * sx) * sx)
         / CAST(k AS DOUBLE) AS zipf_intercept,
       ((CAST(k AS DOUBLE) * sxy - sx * sy)
        * (CAST(k AS DOUBLE) * sxy - sx * sy))
         / ((CAST(k AS DOUBLE) * sxx - sx * sx)
            * (CAST(k AS DOUBLE) * syy - sy * sy)) AS zipf_r2
FROM folds
""".replace("{LN_LAYER}", _sql_ln_layer("stack", "which, r"))


@query("q_text_zipf_fit", _ZIPF_ORACLE)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(_filtered_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    top = (
        cnt.orderBy(F.desc("f"), "w")
        .limit(_ZIPF_K)
        .withColumn(
            "r",
            F.row_number()
            .over(Window.orderBy(F.desc("f"), F.asc("w")))
            .cast("bigint"),
        )
        # 50-row table feeds two stack branches — checkpoint so the
        # corpus count scan runs once
        .localCheckpoint(eager=True)
    )
    stack = top.select(
        F.lit("r").alias("which"), "r", F.col("r").cast("double").alias("v")
    ).unionAll(
        top.select(F.lit("f"), "r", F.lit(1.0) / F.col("f").cast("double"))
    )
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which", "r", _pln_finish("red", "kk").alias("lnv")
        )
    )
    piv = lns.groupBy("r").agg(
        F.max(F.when(F.col("which") == "r", F.col("lnv"))).alias("x"),
        (-F.max(F.when(F.col("which") == "f", F.col("lnv")))).alias("y"),
    )
    folds = piv.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    "r",
                    F.col("x").alias("t1"),
                    F.col("y").alias("t2"),
                    (F.col("x") * F.col("y")).alias("t3"),
                    (F.col("x") * F.col("x")).alias("t4"),
                    (F.col("y") * F.col("y")).alias("t5"),
                )
            )
        ).alias("ps"),
    ).select(
        "k",
        _fold_sum(F.transform("ps", lambda p: p["t1"])).alias("sx"),
        _fold_sum(F.transform("ps", lambda p: p["t2"])).alias("sy"),
        _fold_sum(F.transform("ps", lambda p: p["t3"])).alias("sxy"),
        _fold_sum(F.transform("ps", lambda p: p["t4"])).alias("sxx"),
        _fold_sum(F.transform("ps", lambda p: p["t5"])).alias("syy"),
    )
    kd = F.col("k").cast("double")
    num = kd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = kd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = kd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    return folds.select(
        F.col("k").alias("k_ranks"),
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / kd).alias("zipf_intercept"),
        ((num * num) / (denx * deny)).alias("zipf_r2"),
    )


# -- X494 corpus unigram KL drift (vocab-scale support) -------------------------
#
# KL(P||Q) + total-variation distance between the unigram LMs of the
# even- and odd-doc_id corpus halves — the language-drift monitor for
# a corpus split, and the SCALE-PATH complement to X488's bounded-grid
# divergence: the support here is the whole VOCABULARY, so the
# cross-term sum cannot be a driver-side fold. It rides the
# order-independent quantized lane instead (helpers.qsum: floor(x*1e12)
# is an integer-valued double, so the decimal cast is unambiguous at any
# magnitude — the DECIMAL(38,6) cast itself diverges between engines on
# full-precision terms, found building exactly this query) —
# distributed, partial-aggregated, and still bit-identical against the
# sequential oracle. One keyed conditional
# count over the corpus; one ln per vocab word per side.

_KLDRIFT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
cnt AS (
  SELECT w, CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS cp,
         CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS cq
  FROM (SELECT doc_id % 2 AS half, UNNEST(tk) AS w FROM toks) GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM cnt),
pq AS (
  SELECT w,
         (CAST(cp AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(np AS DOUBLE) + CAST(v AS DOUBLE)) AS p,
         (CAST(cq AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (CAST(nq AS DOUBLE) + CAST(v AS DOUBLE)) AS q
  FROM cnt CROSS JOIN tot),
stack AS (
  SELECT 'p' AS which, w, p AS v FROM pq
  UNION ALL SELECT 'q', w, q FROM pq),
lns AS ({{LN_LAYER}}),
piv AS (
  SELECT w,
         MAX(CASE WHEN which = 'p' THEN v END) AS p,
         MAX(CASE WHEN which = 'q' THEN v END) AS q,
         MAX(CASE WHEN which = 'p' THEN lnv END) AS lp,
         MAX(CASE WHEN which = 'q' THEN lnv END) AS lq
  FROM piv_src GROUP BY 1),
sums AS (
  SELECT
    {{QSUM_KL}},
    {{QSUM_TV}}
  FROM piv)
SELECT t.v AS vocab_union, t.np, t.nq,
       s.skl AS kl_pq_nats,
       CAST(0.5 AS DOUBLE) * s.stv AS tvd
FROM sums s CROSS JOIN tot t
""".replace("{LN_LAYER}", _sql_ln_layer("stack", "which, w")).replace(
    "piv_src", "lns"
).replace("{QSUM_KL}", _sql_qsum("p * (lp - lq)", "skl")).replace(
    "{QSUM_TV}", _sql_qsum("ABS(p - q)", "stv")
)


@query("q_text_unigram_kl_drift", _KLDRIFT_ORACLE)
def q_text_unigram_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import qsum

    d = load_table(spark, sf_dir, "documents")
    tw = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(_filtered_tokens("text")).alias("w"),
    )
    cnt = (
        tw.groupBy("w")
        .agg(
            F.count(F.when(F.col("half") == 0, 1)).cast("bigint").alias("cp"),
            F.count(F.when(F.col("half") == 1, 1)).cast("bigint").alias("cq"),
        )
        # vocab-sized table with three consumers (tot + two stack
        # branches) — checkpoint so the corpus scan runs exactly once
        # (the plan otherwise re-derives it 10x)
        .localCheckpoint(eager=True)
    )
    tot = cnt.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    pq = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            (F.col("cp").cast("double") + F.lit(1.0))
            / (F.col("np").cast("double") + F.col("v").cast("double"))
        ).alias("p"),
        (
            (F.col("cq").cast("double") + F.lit(1.0))
            / (F.col("nq").cast("double") + F.col("v").cast("double"))
        ).alias("q"),
    )
    stack = pq.select(
        F.lit("p").alias("which"), "w", F.col("p").alias("v")
    ).unionAll(pq.select(F.lit("q"), "w", F.col("q")))
    lns = (
        stack.withColumn("red", _pln_red("v"))
        .withColumn("kk", _pln_k("v"))
        .select(
            "which", "w", "v", _pln_finish("red", "kk").alias("lnv")
        )
    )
    piv = lns.groupBy("w").agg(
        F.max(F.when(F.col("which") == "p", F.col("v"))).alias("p"),
        F.max(F.when(F.col("which") == "q", F.col("v"))).alias("q"),
        F.max(F.when(F.col("which") == "p", F.col("lnv"))).alias("lp"),
        F.max(F.when(F.col("which") == "q", F.col("lnv"))).alias("lq"),
    )
    sums = piv.agg(
        qsum(F.col("p") * (F.col("lp") - F.col("lq")), "skl"),
        qsum(F.abs(F.col("p") - F.col("q")), "stv"),
    )
    return sums.crossJoin(F.broadcast(tot)).select(
        F.col("v").alias("vocab_union"),
        "np",
        "nq",
        F.col("skl").alias("kl_pq_nats"),
        (F.lit(0.5) * F.col("stv")).alias("tvd"),
    )
