"""Training-data pipeline operators, round 3 (brief: "operations a
large-scale training-data pipeline would need"):

- sequence packing: GPT-style concat-and-chunk of documents into fixed
  token-budget context windows, per source shard;
- repetition filtering: Gopher-style duplicate-n-gram fraction, the
  standard low-quality-document signal;
- embedding quantization: symmetric int8 with per-vector scale, the
  storage layout ANN serving systems actually ship.

All three are pure-expression plans (no UDFs) with exact DuckDB oracles.

Scale notes: packing windows partition by the shard column — the global
concat order a single-node packer would use is replaced by per-shard
order, which is what a distributed writer does anyway (each output shard
is packed independently). Repetition and quantization are stateless
per-row projections — scan-parallel at any size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.textops import tokens
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.session import load_table

# -- sequence packing -------------------------------------------------------

_PACK_BUDGET = 512

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents),
c AS (
  SELECT *,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start // {_PACK_BUDGET} AS BIGINT) AS bin_id,
       CAST(start % {_PACK_BUDGET} AS BIGINT) AS bin_offset
FROM c
"""


def pack_sequences(
    df: DataFrame,
    shard_col: str,
    order_col: str,
    text_col: str,
    budget: int = _PACK_BUDGET,
) -> DataFrame:
    """Concat-and-chunk packing: documents are laid end-to-end in a
    deterministic per-shard order and cut into ``budget``-token context
    windows (documents may straddle window boundaries — exactly what a
    pretraining data loader does). Returns each doc's window id and
    offset; a writer keyed on (shard, bin_id) then emits fixed-size
    training rows.

    One shuffle (the per-shard window); no single global order — each
    shard packs independently, which is also how a multi-writer job lays
    out files at 100 TB.
    """
    n_tokens = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(tokens(text_col))).cast("bigint")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = df.select(
        F.col(order_col), F.col(shard_col), n_tokens.alias("n_tokens")
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    c = t.select("*", start)
    return c.select(
        order_col,
        shard_col,
        "n_tokens",
        F.floor(F.col("start") / budget).cast("bigint").alias("bin_id"),
        (F.col("start") % budget).cast("bigint").alias("bin_offset"),
    )


@query("q_corpus_pack", _PACK_ORACLE)
def q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, "source", "doc_id", "text")


# -- repetition filter ------------------------------------------------------

# Gopher uses ~0.2 for duplicate-line fraction on web text; the synthetic
# corpus tops out near 0.14 duplicate bigrams, so 0.1 keeps the flag
# column live (both branches exercised) in the oracle comparison.
_REP_THRESHOLD = 0.1

_REP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents),
b AS (
  SELECT doc_id, len(w) AS n_words,
         CASE WHEN len(w) >= 2 THEN
           list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1])
         END AS bg
  FROM t)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN bg IS NULL THEN NULL
            ELSE 1.0 - len(list_distinct(bg))::DOUBLE / len(bg) END
         AS dup_bigram_frac,
       CASE WHEN bg IS NULL THEN 0
            WHEN 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
                 > {_REP_THRESHOLD} THEN 1 ELSE 0 END AS flagged
FROM b
"""


def duplicate_bigram_fraction(text_col: Column | str) -> Column:
    """Gopher-style repetition signal: fraction of word bigrams that are
    duplicates (1 − distinct/total). NULL for documents under 2 words.
    Pure higher-order expressions; the integer ratio divides exactly the
    same in any engine."""
    w = tokens(text_col)
    n = F.size(w)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
        ),
    )
    return F.when(
        n >= 2,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams),
    )


@query("q_text_repetition", _REP_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    frac = duplicate_bigram_fraction("text")
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_words"),
        frac.alias("dup_bigram_frac"),
        F.when(frac > _REP_THRESHOLD, 1).otherwise(0).alias("flagged"),
    )


# -- eval-set decontamination ----------------------------------------------
# The standard pre-training decontamination pass: flag training documents
# sharing any exact word n-gram with a held-out evaluation set. The eval
# side's distinct-gram set is tiny relative to the corpus and broadcasts;
# the training side streams through the scan + one broadcast-hash join —
# no all-pairs anything, which is what makes this shape hold at 100 TB
# (eval sets are MBs even when the corpus is 100 TB).

_DECON_K = 3  # n-gram width; 3 keeps live signal on the synthetic corpus
_DECON_EVAL = 20  # doc_id < 20 plays the held-out eval set


def ngram_hits(
    train: DataFrame, eval_set: DataFrame, text_col: str, k: int = _DECON_K
) -> DataFrame:
    """Per-training-doc count of distinct word ``k``-grams that also occur
    anywhere in the eval set. Docs with ``n_hit_grams > 0`` are
    decontamination candidates."""
    toks = tokens(text_col)
    # Guard docs shorter than k tokens: F.sequence(1, n-(k-1)) DESCENDS
    # when n-(k-1) < 1 and F.slice then throws on start 0 — short docs
    # must yield no grams (NULL → explode drops the row), matching the
    # oracle's generate_series, which is empty for stop < start.
    grams = F.when(
        F.size(toks) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        ),
    )
    t = train.select("doc_id", F.explode(grams).alias("gram"))
    e = eval_set.select(F.explode(grams).alias("gram")).distinct()
    return (
        t.join(F.broadcast(e), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").cast("bigint").alias("n_hit_grams"))
    )


_DECON_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - {_DECON_K - 1}),
           i -> array_to_string(w[i:i + {_DECON_K - 1}], ' ')))) AS gram
  FROM d),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id < {_DECON_EVAL}),
t AS (SELECT doc_id, gram FROM g WHERE doc_id >= {_DECON_EVAL})
SELECT t.doc_id, CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_hit_grams
FROM t JOIN e USING (gram)
GROUP BY t.doc_id
"""


@query("q_corpus_decontaminate", _DECON_ORACLE)
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") >= _DECON_EVAL)
    eval_set = d.filter(F.col("doc_id") < _DECON_EVAL)
    return ngram_hits(train, eval_set, "text")


# -- weighted corpus mixing -------------------------------------------------
# Data mixing for training: sample documents with probability increasing
# in their source's weight, deterministically. Priority = min of w
# independent 60-bit hashes (the "min of w uniforms" race: between two
# docs with weights w and v, the lower minimum goes to the heavier source
# with probability w/(w+v)) — integer-only, so the oracle reproduces every
# draw exactly; no transcendental functions whose last-ulp behavior could
# differ between engines. Selection = global top-k by priority, which
# Spark executes as a distributed TakeOrdered (no single-partition sort).

_MIX_W_SEED = 7
_MIX_P_SEEDS = (101, 102, 103, 104)
_MIX_K = 100


def weighted_mix(
    df: DataFrame,
    id_col: str,
    shard_col: str,
    k: int = _MIX_K,
) -> DataFrame:
    """Deterministic weighted corpus sample of ``k`` docs; weight 1-4 is
    hash-derived from the shard (stand-in for a supplied mixing table)."""
    from mini_etl_project_spark.operators.textops import hash64

    w = 1 + hash64(shard_col, _MIX_W_SEED) % 4
    hs = [
        hash64(f"CAST({id_col} AS STRING)", seed) for seed in _MIX_P_SEEDS
    ]
    priority = F.least(
        hs[0],
        F.when(w >= 2, hs[1]).otherwise(hs[0]),
        F.when(w >= 3, hs[2]).otherwise(hs[0]),
        F.when(w >= 4, hs[3]).otherwise(hs[0]),
    )
    return (
        df.select(
            F.col(id_col),
            F.col(shard_col),
            w.alias("weight"),
            priority.alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(k)
    )


def _h_sql(seed: int, expr: str) -> str:
    return (
        f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"
    )


_MIX_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         1 + ({_h_sql(_MIX_W_SEED, 'source')} % 4) AS weight,
         {_h_sql(_MIX_P_SEEDS[0], 'doc_id')} AS h1,
         {_h_sql(_MIX_P_SEEDS[1], 'doc_id')} AS h2,
         {_h_sql(_MIX_P_SEEDS[2], 'doc_id')} AS h3,
         {_h_sql(_MIX_P_SEEDS[3], 'doc_id')} AS h4
  FROM documents)
SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
       LEAST(h1,
             CASE WHEN weight >= 2 THEN h2 ELSE h1 END,
             CASE WHEN weight >= 3 THEN h3 ELSE h1 END,
             CASE WHEN weight >= 4 THEN h4 ELSE h1 END) AS priority
FROM t
ORDER BY priority, doc_id
LIMIT {_MIX_K}
"""


@query("q_corpus_mix", _MIX_ORACLE)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return weighted_mix(d, "doc_id", "source")


# -- PII scrubbing ----------------------------------------------------------
# Classic pre-training scrub pass: regex-redact emails and IPv4s, count
# redactions. The synthetic corpus contains no PII, so both engines plant
# the same deterministic contact line per doc first — the redaction
# machinery (global replace, match counting) then runs on live matches.
# Patterns use only syntax with identical semantics in Java regex (Spark)
# and RE2 (DuckDB); DuckDB needs the explicit 'g' flag to match Spark's
# replace-all behavior.

_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z0-9]"
_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com from 10.0.' || (doc_id % 256) || '.7' AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}'))
            + len(regexp_extract_all(t, '{_IP_RE}')) AS BIGINT)
         AS n_redactions,
       regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_IP_RE}', '<IP>', 'g') AS scrubbed
FROM aug
"""


def scrub_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Redact emails and IPv4 addresses; returns the scrubbed text and a
    per-doc redaction count. Stateless projection — scan-parallel."""
    t = F.col(text_col)
    n = (
        F.regexp_count(t, F.lit(_EMAIL_RE)) + F.regexp_count(t, F.lit(_IP_RE))
    ).cast("bigint")
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
    )
    return df.select(
        "doc_id", n.alias("n_redactions"), scrubbed.alias("scrubbed")
    )


@query("q_text_pii_scrub", _PII_ORACLE)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256),
            F.lit(".7"),
        ).alias("t"),
    )
    return scrub_pii(aug, "t")


# -- boilerplate chunk removal (CCNet-style) --------------------------------
# The classic web-corpus cleanup: split documents into paragraph-granular
# chunks, count each chunk's document frequency across the corpus, and
# drop chunks that recur in many documents (navigation, legal footers,
# subscribe prompts). The synthetic corpus has no natural paragraph
# boundaries, so chunks are fixed 12-word windows and a 12-word
# boilerplate line is planted on every 5th document — the removal
# machinery (corpus-wide chunk DF, relative threshold) runs live.
#
# 100 TB posture: one explode to chunk rows, one groupBy(chunk) for DF
# (map-side combined), one join back on chunk, one groupBy(doc). The DF
# table is orders of magnitude smaller than the corpus; no all-pairs
# anything.

_BP_K = 12
_BP_TEXT = (
    "subscribe to our newsletter for updates terms of service apply every day"
)
_BP_DF_FRAC = 0.05  # chunk appears in >5 % of docs → boilerplate

_BOILER_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN '{_BP_TEXT} ' || text
              ELSE text END AS t
  FROM documents),
tok AS (
  SELECT doc_id, string_split_regex(trim(t), '\\s+') AS w FROM aug),
chunks AS (
  SELECT doc_id,
         array_to_string(w[(i * {_BP_K} + 1):((i + 1) * {_BP_K})], ' ')
           AS chunk
  FROM tok,
       unnest(CASE WHEN len(w) > 0 THEN generate_series(
                0, CAST(ceil(len(w) / {_BP_K}.0) AS INT) - 1) END) AS u(i)),
dfreq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk),
nd AS (SELECT COUNT(*) AS n FROM aug)
SELECT c.doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f.df >= CAST({_BP_DF_FRAC} AS DOUBLE)
                          * (SELECT n FROM nd)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM chunks c JOIN dfreq f USING (chunk)
GROUP BY c.doc_id
"""


def remove_boilerplate_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = _BP_K,
    df_frac: float = _BP_DF_FRAC,
) -> DataFrame:
    """Per-doc chunk counts after corpus-DF boilerplate removal: chunks
    (fixed ``chunk_words``-word windows) occurring in more than
    ``df_frac`` of documents are flagged removed. Returns
    ``(id, n_chunks, n_removed)``; a writer keeps the unflagged chunks."""
    toks = tokens(text_col)
    n = F.size(toks)
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), F.ceil(n / chunk_words).cast("int") - 1),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * chunk_words + 1, chunk_words)
            ),
        ),
    )
    chunked = df.select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("chunk")
    )
    dfreq = chunked.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("df")
    )
    nd = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    return (
        chunked.join(dfreq, "chunk")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                (
                    F.col("df")
                    >= F.lit(df_frac) * F.col("__n_docs")
                ).cast("long")
            ).alias("n_removed"),
        )
    )


@query("q_corpus_boilerplate", _BOILER_ORACLE)
def q_corpus_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_BP_TEXT + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return remove_boilerplate_chunks(aug, "doc_id", "t")


# -- unigram-frequency quality score ----------------------------------------
# CCNet filters web text with a KenLM perplexity score; the in-container
# stand-in is the corpus's own unigram model. To stay bit-reproducible we
# avoid transcendental log (last-ulp behavior is not pinned across
# engines): the score is the mean relative frequency of the document's
# tokens — Σ count(token) stays in exact BIGINT, and the single double
# division at the end is IEEE-exact in every engine. Low commonness =
# rare-token-heavy documents (same ranking direction as high perplexity).
#
# 100 TB posture: vocab is a groupBy orders of magnitude smaller than the
# corpus; the score join is token→count equi-join, map-side combinable.

_UNIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents),
vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(v.cnt) AS BIGINT) AS sum_freq,
       CAST(SUM(v.cnt) AS DOUBLE) / COUNT(*) / (SELECT n FROM tot)
         AS commonness
FROM tok t JOIN vocab v USING (token)
GROUP BY t.doc_id
"""


@query("q_text_unigram_score", _UNIGRAM_ORACLE)
def q_text_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("__total"))
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").cast("bigint").alias("sum_freq"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            "sum_freq",
            (
                F.col("sum_freq").cast("double")
                / F.col("n_tokens")
                / F.col("__total")
            ).alias("commonness"),
        )
    )


# -- per-source token-budget subsampling ------------------------------------
# Data mixing under a hard token budget: walk each source's documents in
# deterministic order, keep documents while the running token count fits
# the per-source budget. One per-shard window cumsum — the same
# partition-local shape as sequence packing; no global state.

_BUDGET = 2000

_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents),
c AS (
  SELECT *,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM t)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {_BUDGET}
"""


@query("q_corpus_token_budget", _BUDGET_ORACLE)
def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(tokens("text"))).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    return (
        t.select(
            "doc_id",
            "source",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _BUDGET)
    )


# -- vocabulary induction with coverage -------------------------------------
# Tokenizer-prep step: rank the corpus vocabulary by frequency
# (deterministic tie-break: smaller token first) and report each
# candidate's cumulative corpus coverage — the curve that picks a vocab
# size. The unpartitioned window runs over the AGGREGATED vocab (bounded,
# orders of magnitude smaller than the corpus), per the repo's
# windows-sit-on-aggregates invariant.

_VOCAB_N = 30

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents),
vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
ranked AS (
  SELECT token, CAST(cnt AS BIGINT) AS cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM vocab)
SELECT token, cnt, CAST(rank AS BIGINT) AS rank,
       CAST(cum AS DOUBLE) / (SELECT n FROM tot) AS coverage
FROM ranked WHERE rank <= {_VOCAB_N}
"""


@query("q_corpus_vocab_coverage", _VOCAB_ORACLE)
def q_corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("__total"))
    # Vocabulary grows with corpus size, so pre-prune to the top N with a
    # distributed orderBy+limit (TakeOrdered) BEFORE the rank/cumsum
    # window. The query filters rank <= N anyway, and rank/cumsum over the
    # deterministic (cnt desc, token) order depend only on rows at or
    # above each survivor — so the prune is lossless and the window now
    # touches a bounded N-row input instead of the full vocab.
    top = vocab.orderBy(F.desc("cnt"), F.asc("token")).limit(_VOCAB_N)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.sum("cnt").over(wc).cast("bigint").alias("cum"),
        )
        .filter(F.col("rank") <= _VOCAB_N)
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "cnt",
            "rank",
            (F.col("cum").cast("double") / F.col("__total")).alias("coverage"),
        )
    )


# -- int8 embedding quantization -------------------------------------------

# The query surface explodes the quantized vector to scalar rows
# (vec_id, scale, idx, q): the comparison harness canonicalizes via pandas
# and cannot hash array cells (repo convention at functions_q.py — arrays
# never cross the comparison boundary; round-3's one red row was this
# query returning array<int> directly).
_QUANT_ORACLE = """
WITH m AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS mx,
         embedding
  FROM embeddings),
c AS (
  SELECT vec_id, mx, embedding,
         unnest(generate_series(1, len(embedding))) AS idx
  FROM m)
SELECT vec_id,
       mx / 127.0 AS scale,
       CAST(idx AS BIGINT) AS idx,
       CASE WHEN mx = 0 THEN 0
            ELSE CAST(floor(CAST(embedding[CAST(idx AS INT)] AS DOUBLE)
                            * 127.0 / mx + 0.5) AS INTEGER)
       END AS q
FROM c
"""


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization with per-vector scale: q = round(x /
    scale), scale = max|x| / 127. Rounding is floor(v + 0.5) — identical
    half-up behavior in every engine (library ``round`` functions differ
    on ties). 4× storage reduction for float32 embeddings; the dequantized
    dot is within 1/127 relative error, standard for ANN candidate scans.
    """
    mx = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    staged = df.withColumn("__mx", mx)
    qvec = F.when(
        F.col("__mx") == 0,
        F.transform(F.col(vec_col), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * 127.0 / F.col("__mx") + F.lit(0.5)
            ).cast("int"),
        )
    )
    return staged.select(
        "vec_id",
        (F.col("__mx") / 127.0).alias("scale"),
        qvec.alias("qvec"),
    )


@query("q_embed_quantize", _QUANT_ORACLE)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(e)
    # posexplode so only scalar columns reach the hash compare; idx is
    # 1-based to match the oracle's generate_series.
    return q.select("vec_id", "scale", F.posexplode("qvec")).select(
        "vec_id",
        "scale",
        (F.col("pos") + 1).cast("bigint").alias("idx"),
        F.col("col").alias("q"),
    )


# -- X242 multilingual corpus balancing (capped quota + redistribution) -----
#
# Training mixes over-sample head languages unless rebalanced. One-shot
# water-filling in two bounded steps: every language first gets
# min(supply, B/n_langs); the unclaimed remainder is then redistributed
# across unsaturated languages proportional to their remaining supply
# (integer floor-division — deterministic, no iteration). Selection is
# greedy per language by (n_chars DESC, doc_id) with a keyed cumsum
# window — the same per-key posture as q_corpus_token_budget. All counts
# integer; the language stat table is bounded (→ broadcast).

_LB_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(LEN(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         n_chars
  FROM documents),
supply AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS sup FROM t GROUP BY lang),
tot AS (
  SELECT CAST(SUM(sup) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(sup) // 2 AS BIGINT) AS budget
  FROM supply),
base AS (
  SELECT s.lang, s.sup,
         LEAST(s.sup, tot.budget // tot.n_langs) AS q0
  FROM supply s CROSS JOIN tot),
leftover AS (
  SELECT CAST((SELECT budget FROM tot) - SUM(q0) AS BIGINT) AS rem,
         CAST(SUM(CASE WHEN q0 < sup THEN sup - q0 ELSE 0 END) AS BIGINT)
           AS cap
  FROM base),
quota AS (
  SELECT b.lang,
         CAST(b.q0 + CASE WHEN b.sup > b.q0 AND l.cap > 0
                          THEN l.rem * (b.sup - b.q0) // l.cap
                          ELSE 0 END AS BIGINT) AS quota
  FROM base b CROSS JOIN leftover l),
ranked AS (
  SELECT t.doc_id, t.lang, t.n_tokens,
         CAST(SUM(t.n_tokens) OVER (PARTITION BY t.lang
                                    ORDER BY t.n_chars DESC, t.doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM t)
SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(r.n_tokens) AS BIGINT) AS n_tokens_kept,
       MIN(q.quota) AS quota
FROM ranked r JOIN quota q ON q.lang = r.lang
WHERE r.cum <= q.quota
GROUP BY r.lang
"""


@query("q_corpus_lang_balance", _LB_ORACLE)
def q_corpus_lang_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(tokens("text"))).cast("bigint")
    t = d.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), "n_chars"
    )
    supply = t.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("sup")
    )
    tot = supply.agg(
        F.sum("sup").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_langs"),
        F.expr("SUM(sup) DIV 2").alias("budget"),
    )
    base = supply.crossJoin(F.broadcast(tot)).select(
        "lang",
        "sup",
        F.least(F.col("sup"), F.expr("budget DIV n_langs")).alias("q0"),
        "budget",
    )
    leftover = base.agg(
        (F.min("budget") - F.sum("q0")).cast("bigint").alias("rem"),
        F.sum(
            F.when(F.col("q0") < F.col("sup"), F.col("sup") - F.col("q0"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("cap"),
    )
    quota = base.crossJoin(F.broadcast(leftover)).select(
        "lang",
        (
            F.col("q0")
            + F.when(
                (F.col("sup") > F.col("q0")) & (F.col("cap") > 0),
                F.expr("rem * (sup - q0) DIV cap"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("quota"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum"),
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("cum") <= F.col("quota"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_kept"),
            F.min("quota").alias("quota"),
        )
    )


# -- X278 deterministic training-order interleave ---------------------------
#
# Epoch shuffling that is reproducible AND source-balanced: documents
# are hash-shuffled within each source (md5 order — no RNG), numbered
# per source with a keyed window, then globally interleaved by
# (per-source position, source) so every k-source prefix contains ≈k
# docs per source — the round-robin data-order a multi-corpus trainer
# wants. The global order materializes only through a distributed
# TakeOrdered of the first 60 positions; nothing global-sorts the
# corpus.

_INTERLEAVE_ORACLE = """
WITH shuffled AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR) || '|epoch0') AS h,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)
                                         || '|epoch0')) AS pos
  FROM documents)
SELECT doc_id, source, CAST(pos AS BIGINT) AS pos
FROM shuffled
ORDER BY pos, source NULLS LAST, doc_id LIMIT 60
"""


@query("q_corpus_interleave", _INTERLEAVE_ORACLE)
def q_corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|epoch0")))
    shuffled = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(h))
        .cast("bigint")
        .alias("pos"),
    )
    # the NULL-source bucket interleaves LAST at each position, pinned
    # explicitly on both engines (Spark defaults NULLS FIRST on ASC,
    # DuckDB NULLS LAST — r12 NULL audit)
    return shuffled.orderBy(
        "pos", F.col("source").asc_nulls_last(), "doc_id"
    ).limit(60)


# -- X308 span-corruption statistics (T5/UL2 denoising objective) ----------
#
# The seq2seq denoising preprocessor's bookkeeping: mask ~15% of token
# positions (position-hashed, content-free, so the plan is a pure
# projection), coalesce adjacent masked positions into spans, and emit
# the resulting encoder/decoder sequence lengths — input keeps unmasked
# tokens plus one sentinel per span, target is the masked tokens plus the
# same sentinels. Everything runs as higher-order array expressions over
# a position sequence (no explode, no shuffle, no Python); the oracle
# replays the identical lambdas in DuckDB list functions.

_SPAN_HASH = 2_654_435_761  # Knuth multiplicative constant
_SPAN_PCT = 15

_SPAN_CORRUPT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
  FROM documents),
stats AS (
  SELECT doc_id, n,
    CASE WHEN n = 0 THEN 0 ELSE len(list_filter(range(0, n),
      i -> (i * {_SPAN_HASH}) % 100 < {_SPAN_PCT})) END AS n_masked,
    CASE WHEN n = 0 THEN 0 ELSE len(list_filter(range(0, n),
      i -> (i * {_SPAN_HASH}) % 100 < {_SPAN_PCT}
           AND (i = 0 OR NOT (((i - 1) * {_SPAN_HASH}) % 100
                              < {_SPAN_PCT})))) END AS n_spans
  FROM toks)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(n_masked AS BIGINT) AS n_masked,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n - n_masked + n_spans AS BIGINT) AS input_len,
       CAST(n_masked + n_spans AS BIGINT) AS target_len,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE (1000000 * n_masked) // n END AS BIGINT) AS mask_ppm
FROM stats
"""


@query("q_corpus_span_corruption", _SPAN_CORRUPT_ORACLE)
def q_corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = F.when(
        F.trim(F.col("text")) == "", F.lit(0)
    ).otherwise(F.size(tokens("text")))
    base = d.select("doc_id", n.alias("n"))

    def pred(i):
        return (i * F.lit(_SPAN_HASH)) % 100 < _SPAN_PCT

    seq = F.sequence(F.lit(0), F.col("n") - 1)
    n_masked = F.when(F.col("n") == 0, F.lit(0)).otherwise(
        F.size(F.filter(seq, pred))
    )
    n_spans = F.when(F.col("n") == 0, F.lit(0)).otherwise(
        F.size(
            F.filter(
                seq,
                lambda i: pred(i) & ((i == 0) | ~pred(i - 1)),
            )
        )
    )
    stats = base.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        n_spans.cast("bigint").alias("n_spans"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        (F.col("n_tokens") - F.col("n_masked") + F.col("n_spans"))
        .cast("bigint")
        .alias("input_len"),
        (F.col("n_masked") + F.col("n_spans")).cast("bigint").alias(
            "target_len"
        ),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(
            F.expr("(1000000 * n_masked) DIV n_tokens")
        )
        .cast("bigint")
        .alias("mask_ppm"),
    )


# -- X329: Tokenizer fertility audit ---------------------------------------
# Tokens-per-byte by (source, lang) — the standard pre-training audit for
# how expensively a tokenizer encodes each corpus slice (fertility spikes
# flag mis-languaged or binary-ish content). Token counts use the same
# alnum-run tokenizer as the text family; the ratio is emitted in exact
# integer parts-per-million so the driver hashes it bit-for-bit.

_FERTILITY_ORACLE = """
WITH t AS (
  SELECT source, lang,
         CAST(len(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(strlen(text) AS BIGINT) AS n_bytes
  FROM documents)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       CAST(SUM(n_bytes) AS BIGINT) AS bytes,
       CAST(SUM(n_tokens) * 1000000 // SUM(n_bytes) AS BIGINT)
         AS tokens_per_mb_ppm
FROM t GROUP BY source, lang
"""


@query("q_corpus_tokenizer_fertility", _FERTILITY_ORACLE)
def q_corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        "lang",
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""
            )
        ).cast("bigint").alias("n_tokens"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )
    return (
        t.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.sum("n_bytes").cast("bigint").alias("bytes"),
        )
        .withColumn(
            # exact integer floor division on both sides (no double round)
            "tokens_per_mb_ppm",
            F.expr("(tokens * 1000000) DIV bytes").cast("bigint"),
        )
    )


# -- X337: sequence-length histogram + packing-waste audit -----------------
# The pre-packing capacity audit: token-length distribution in 64-token
# buckets plus, per source, the padding waste a naive one-doc-per-row
# batcher would pay at context length 512 (ceil-to-context minus actual).
# All integer arithmetic — ceil via (t + 511) DIV 512 both sides.

_PACKWASTE_ORACLE = """
WITH t AS (
  SELECT source,
         CAST(len(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents)
SELECT source,
       CAST(n_tok // 64 AS BIGINT) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens,
       CAST(SUM(512 * ((n_tok + 511) // 512) - n_tok) AS BIGINT)
         AS pad_waste_at_512
FROM t GROUP BY source, len_bucket
"""


@query("q_corpus_packing_waste", _PACKWASTE_ORACLE)
def q_corpus_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""
            )
        ).cast("bigint").alias("n_tok"),
    )
    return (
        t.groupBy(
            "source",
            F.expr("n_tok DIV 64").cast("bigint").alias("len_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.sum(
                F.expr("512 * ((n_tok + 511) DIV 512) - n_tok")
            ).cast("bigint").alias("pad_waste_at_512"),
        )
    )


# -- X352: deterministic training-shard shuffle ----------------------------
#
# The reproducible global shuffle every pretraining run needs: shard =
# portable-hash(doc) mod 32, within-shard order = (hash, doc_id). Rank
# within shard comes from the grouped global_rank operator (range
# partitions on (shard, hash) + broadcast offsets) — NOT a 32-key
# window, which would funnel the whole corpus through 32 sort
# partitions at 100×. The bounded per-shard summary proves both the
# assignment and the ORDER are bit-reproducible: an order checksum
# (Σ rank·(doc_id mod 997)) only matches if every rank lands on the
# same document in both engines.

from mini_etl_project_spark.operators.rank import global_rank as _grank

_SHARD_ORACLE = """
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM documents),
r AS (
  SELECT doc_id, hv, hv % 32 AS shard,
         ROW_NUMBER() OVER (PARTITION BY hv % 32
                            ORDER BY hv, doc_id) AS rk
  FROM h)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(rk * (doc_id % 997)) AS BIGINT) AS order_checksum,
       CAST(arg_min(doc_id, rk) AS BIGINT) AS first_doc,
       CAST(arg_max(doc_id, rk) AS BIGINT) AS last_doc
FROM r GROUP BY shard
"""


@query("q_corpus_shard_shuffle", _SHARD_ORACLE)
def q_corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    h = d.withColumn(
        "hv",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("bigint"),
    ).withColumn("shard", F.col("hv") % 32)
    ranked = _grank(
        h,
        order=[F.col("hv"), F.col("doc_id")],
        rank_col="rk",
        n_col="__n",
        group=["shard"],
    )
    return ranked.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("rk") * (F.col("doc_id") % 997))
        .cast("bigint")
        .alias("order_checksum"),
        F.min_by("doc_id", "rk").cast("bigint").alias("first_doc"),
        F.max_by("doc_id", "rk").cast("bigint").alias("last_doc"),
    )
