"""X-composite: the full LLM pretraining-corpus preparation pipeline as
ONE declarative plan — quality filter → exact dedup → MinHash/LSH
near-dup removal → per-(lang, source) corpus stats.

This is the shape a 100 TB training-data job actually takes, built from
the engine's own operators (operators/textops.py, operators/dedup.py) and
checked end-to-end against a single DuckDB statement. The corpus is the
documents table plus planted exact copies (doc_id+20000) and truncated
near-copies (doc_id+10000), so every stage provably removes something.

Scale posture: the quality scorer is pure expression arithmetic (one
pass, no shuffle); exact dedup is one window over the text hash; near-dup
is the banded-LSH ladder (no all-pairs — candidates come from band-bucket
joins, exact Jaccard only on candidates); the final drop is a broadcast
anti-join on the (tiny) near-dup id set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_rows,
)
from mini_etl_project_spark.operators.similarity import hyperplane_sigs_sql
from mini_etl_project_spark.operators.textops import quality_score, tokens
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.queries.helpers import davg, sql_davg
from mini_etl_project_spark.session import load_table

# Portable 60-bit hash (see operators/textops.py::hash64).
_HASH64 = (
    "CAST(('0x' || substr(md5(CAST({seed} AS VARCHAR) || ':' || {v}), 1, 15)) "
    "AS BIGINT)"
)

_STOPS_SQL = "'the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it'"

_PRETRAIN_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS id, text, lang, source
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 10000 AS id, substring(text, 21) AS text, lang, source
  FROM documents WHERE doc_id < 100),
scored AS (
  SELECT id, text, lang, source,
         LENGTH(text) AS n_chars,
         LEN(string_split_regex(trim(text), '\\s+')) AS n_tok,
         LEN(list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> lower(t) IN ({_STOPS_SQL}))) AS stop_hits
  FROM corpus),
quality AS (
  SELECT id, text, lang, source, n_tok,
         (LEAST(n_chars / 500.0, 1.0)
          + (CASE WHEN CAST(n_chars AS DOUBLE) / GREATEST(n_tok, 1) >= 3
                   AND CAST(n_chars AS DOUBLE) / GREATEST(n_tok, 1) <= 10
                  THEN 1.0 ELSE 0.5 END)
          + (CASE WHEN CAST(stop_hits AS DOUBLE) / GREATEST(n_tok, 1) >= 0.01
                   AND CAST(stop_hits AS DOUBLE) / GREATEST(n_tok, 1) <= 0.6
                  THEN 1.0 ELSE 0.5 END)) / 3 AS quality
  FROM scored),
kept AS (
  SELECT * FROM quality WHERE quality >= 0.6 AND n_tok >= 5),
exact_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(lower(trim(text))) ORDER BY id) AS rn
  FROM kept),
uniq AS (SELECT id, text, lang, source, n_tok, quality
         FROM exact_ranked WHERE rn = 1),
sh AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM uniq),
hashes AS (
  SELECT id, seed.s AS seed,
         {_HASH64.format(seed='seed.s', v='shingle')} AS h
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS s) seed),
sig AS (SELECT id, seed, MIN(h) AS minhash FROM hashes GROUP BY id, seed),
banded AS (
  SELECT id, CAST(FLOOR(seed / 4) AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
           AS band_key
  FROM sig GROUP BY id, CAST(FLOOR(seed / 4) AS INT)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
neardup AS (
  SELECT DISTINCT b.id AS id
  FROM cand
  JOIN sizes sa ON sa.id = cand.id_a
  JOIN sizes sb ON sb.id = cand.id_b
  JOIN (SELECT a.id AS ia, b.id AS ib, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id) i ON i.ia = cand.id_a AND i.ib = cand.id_b
  JOIN uniq b ON b.id = cand.id_b
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       {sql_davg('quality', 'mean_quality')}
FROM uniq
WHERE id NOT IN (SELECT id FROM neardup)
GROUP BY lang, source
"""


@query("q_corpus_pretrain", _PRETRAIN_ORACLE)
def q_corpus_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.select(F.col("doc_id").alias("id"), "text", "lang", "source")
        .unionByName(
            d.filter(F.col("doc_id") < 50).select(
                (F.col("doc_id") + 20000).alias("id"), "text", "lang", "source"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") < 100).select(
                (F.col("doc_id") + 10000).alias("id"),
                F.substring(F.col("text"), 21, 1 << 30).alias("text"),
                "lang",
                "source",
            )
        )
    )

    # Stage 1: quality scoring + filter (pure expressions, no shuffle).
    kept = corpus.select(
        "id",
        "text",
        "lang",
        "source",
        F.size(tokens("text")).alias("n_tok"),
        quality_score("text").alias("quality"),
    ).filter((F.col("quality") >= 0.6) & (F.col("n_tok") >= 5))

    # Stage 2: exact dedup, deterministic keep-first (one window over the
    # text hash — single shuffle).
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("id")
    uniq = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    # Stage 3: MinHash → LSH bands → exact Jaccard on candidates only;
    # drop the higher id of each confirmed pair.
    sh = shingle_rows(uniq, "id", "text", k=5)
    sig = minhash_signatures(sh, num_hashes=16)
    cand = lsh_candidate_pairs(sig, rows_per_band=4)
    pairs = jaccard_pairs(sh, candidates=cand, threshold=0.5)
    neardup = pairs.select(F.col("id_b").alias("id")).distinct()
    final = uniq.join(F.broadcast(neardup), "id", "left_anti")

    # Stage 4: corpus stats per (lang, source).
    return final.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        davg("quality", "mean_quality"),
    )


# -- Quality gate: multi-signal filter decision + survival accounting -------
#
# The composed filtering step a pretraining pipeline actually ships:
# three independent quality signals (length band, alpha-token ratio,
# max-line-repetition) combined into one keep/drop decision, with
# per-source survival rates and per-signal rejection counts so corpus
# owners can see WHICH gate bites. One pass of stateless expressions +
# one keyed aggregate.

_QUALITY_GATE_ORACLE = """
WITH sig AS (
  SELECT source,
         n_chars BETWEEN 120 AND 20000 AS ok_len,
         CAST(len(regexp_extract_all(text, '[A-Za-z]{2,}')) AS DOUBLE)
           / GREATEST(len(regexp_extract_all(trim(text), '\\S+')), 1)
           >= 0.6 AS ok_alpha,
         COALESCE((
           SELECT MAX(cnt) FROM (
             SELECT COUNT(*) AS cnt
             FROM unnest(string_split(text, chr(10))) AS t(line)
             WHERE trim(line) <> ''
             GROUP BY line)
         ), 0) <= 2 AS ok_rep
  FROM documents)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ok_len AND ok_alpha AND ok_rep
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT)
         AS rej_len,
       CAST(SUM(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT)
         AS rej_alpha,
       CAST(SUM(CASE WHEN NOT ok_rep THEN 1 ELSE 0 END) AS BIGINT)
         AS rej_rep,
       CAST(SUM(CASE WHEN ok_len AND ok_alpha AND ok_rep
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS survival_rate
FROM sig GROUP BY source
"""


@query("q_corpus_quality_gate", _QUALITY_GATE_ORACLE)
def q_corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ok_len = F.col("n_chars").between(120, 20000)
    ok_alpha = (
        F.regexp_count("text", F.lit(r"[A-Za-z]{2,}")).cast("double")
        / F.greatest(
            F.regexp_count(F.trim("text"), F.lit(r"\S+")), F.lit(1)
        )
    ) >= 0.6
    # max repetition of any non-empty line within the doc, expression-only
    lines = F.filter(
        F.split("text", "\n"), lambda x: F.trim(x) != ""
    )
    max_rep = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(lines),
                lambda u: F.size(F.filter(lines, lambda x: x == u)),
            )
        ),
        F.lit(0),
    )
    ok_rep = max_rep <= 2
    sig = d.select(
        "source",
        ok_len.alias("ok_len"),
        ok_alpha.alias("ok_alpha"),
        ok_rep.alias("ok_rep"),
    )
    keep = F.col("ok_len") & F.col("ok_alpha") & F.col("ok_rep")
    return sig.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(keep.cast("long")).cast("bigint").alias("n_kept"),
        F.sum((~F.col("ok_len")).cast("long")).cast("bigint").alias("rej_len"),
        F.sum((~F.col("ok_alpha")).cast("long"))
        .cast("bigint")
        .alias("rej_alpha"),
        F.sum((~F.col("ok_rep")).cast("long")).cast("bigint").alias("rej_rep"),
        (F.sum(keep.cast("long")).cast("double") / F.count("*")).alias(
            "survival_rate"
        ),
    )


# -- X154 fixed-size overlapping chunking (training-sample windowing) ------
#
# The standard pretraining preprocessing step the reference's single-node
# pipeline cannot express at scale: split every document into fixed-size
# token windows (size 24, stride 16) so long documents become multiple
# training samples with overlap for context continuity.
#
# Scale posture: the whole operator is ONE stateless projection — the
# chunk list is built with sequence/transform/slice (JVM higher-order
# functions), per-chunk hashes and the per-doc signature fold with
# transform + concat_ws, and the token accounting with aggregate().  No
# explode, no shuffle, no UDF: at 100 TB this is a map-only stage that
# rides whatever partitioning the scan already has.

_CHUNK_SIZE = 24
_CHUNK_STRIDE = 16

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks,
         LEN(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents WHERE text IS NOT NULL),
idx AS (
  SELECT doc_id, n, toks,
         UNNEST(range(0, CAST(FLOOR((n-1)/{_CHUNK_STRIDE}) AS BIGINT)+1)) AS i
  FROM t),
chunks AS (
  SELECT doc_id, n, i,
         toks[i*{_CHUNK_STRIDE}+1 : i*{_CHUNK_STRIDE}+{_CHUNK_SIZE}] AS chunk
  FROM idx)
SELECT doc_id,
       MAX(n) AS n_tokens,
       COUNT(*) AS n_chunks,
       CAST(SUM(LEN(chunk)) AS BIGINT) AS sum_chunk_tokens,
       md5(string_agg(md5(array_to_string(chunk, ' ')), '' ORDER BY i))
         AS chunks_sig
FROM chunks GROUP BY doc_id
"""


@query("q_corpus_chunk_overlap", _CHUNK_ORACLE)
def q_corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # a NULL text yields no chunks: Spark's map-only projection would
    # still emit the doc row (NULL sig) while the oracle's UNNEST drops
    # it — excluded explicitly on both engines (r12 NULL audit).
    t = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    chunked = t.withColumn(
        "chunks",
        F.expr(
            f"transform(sequence(0, int(floor((n-1)/{_CHUNK_STRIDE}))),"
            f" i -> slice(toks, i*{_CHUNK_STRIDE}+1, {_CHUNK_SIZE}))"
        ),
    )
    return chunked.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("chunks").cast("bigint").alias("n_chunks"),
        F.expr(
            "cast(aggregate(chunks, 0L, (acc, c) -> acc + size(c)) as bigint)"
        ).alias("sum_chunk_tokens"),
        F.md5(
            F.concat_ws(
                "", F.expr("transform(chunks, c -> md5(array_join(c, ' ')))")
            )
        ).alias("chunks_sig"),
    )


# -- X291 first-occurrence passage dedup -----------------------------------
#
# RefinedWeb-style sub-document dedup: every document is cut into 3-word
# passages (shuffle-free — ``slice`` over the split array, one generated
# index per passage, no explode of words), each passage keeps only its
# globally FIRST occurrence (minimum packed (doc_id, seg) over the
# corpus), and the survivors are reassembled in order. The global argmin
# is one groupBy on the passage text + one join back — the only
# corpus-wide exchange, keyed by content hash, exactly the shape that
# scales. Output pins both the accounting and the reassembled bytes
# (md5), so a wrong keep/drop or a wrong order fails the gate.

_PASSAGE_W = 3

_PASSAGE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
segs AS (
  SELECT doc_id, t.k AS seg,
         array_to_string(
           list_slice(arr, t.k * {_PASSAGE_W} + 1,
                      t.k * {_PASSAGE_W} + {_PASSAGE_W}), ' ') AS s
  FROM docs, unnest(generate_series(
        0, CAST(CEIL(len(arr) / {_PASSAGE_W}.0) AS BIGINT) - 1)) t(k)),
firsts AS (
  SELECT s, MIN(doc_id * 1000 + seg) AS first_packed FROM segs GROUP BY s),
flagged AS (
  SELECT g.doc_id, g.seg, g.s,
         CASE WHEN g.doc_id * 1000 + g.seg = f.first_packed
              THEN 1 ELSE 0 END AS kept
  FROM segs g JOIN firsts f ON f.s = g.s)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN kept = 1 THEN s END, ' '
                               ORDER BY seg), '')) AS kept_md5
FROM flagged GROUP BY doc_id
"""


@query("q_corpus_passage_dedup", _PASSAGE_ORACLE)
def q_corpus_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = _PASSAGE_W
    docs = d.select("doc_id", F.split("text", " ").alias("arr"))
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("arr") / float(w)).cast("bigint")
                    - F.lit(1),
                ),
                lambda k: F.concat_ws(
                    " ", F.slice(F.col("arr"), k * w + 1, w)
                ),
            )
        ).alias("seg", "s"),
    )
    firsts = segs.groupBy("s").agg(
        F.min(F.col("doc_id") * 1000 + F.col("seg")).alias("first_packed")
    )
    flagged = segs.join(firsts, "s").select(
        "doc_id",
        "seg",
        "s",
        F.when(
            F.col("doc_id") * 1000 + F.col("seg") == F.col("first_packed"),
            1,
        )
        .otherwise(0)
        .alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        (F.count("*") - F.sum("kept")).cast("bigint").alias("n_dropped"),
        F.md5(
            F.coalesce(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("kept") == 1,
                                    F.struct("seg", "s"),
                                )
                            )
                        ),
                        lambda x: x["s"],
                    ),
                ),
                F.lit(""),
            )
        ).alias("kept_md5"),
    )


# -- X342: temperature-scaled corpus mixing --------------------------------
# The multilingual-pretraining sampling rule: source weights ∝ n^α with
# α = 0.5 — upsampling the tail without letting the head dominate. The
# only non-rational op is sqrt (IEEE correctly rounded in both engines);
# the weight normalization and target allocation mirror op-for-op, and
# the final target counts use exact floor division over a decimal-summed
# denominator.

_TEMP_MIX_ORACLE = """
WITH src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source),
w AS (
  SELECT source, n, SQRT(CAST(n AS DOUBLE)) AS wt FROM src),
tot AS (
  SELECT CAST(SUM(CAST(wt AS DECIMAL(38,12))) AS DOUBLE) AS z,
         CAST(SUM(n) AS BIGINT) AS total_docs
  FROM w)
SELECT w.source, w.n,
       w.wt / tot.z AS sample_prob,
       CAST(FLOOR(w.wt / tot.z * tot.total_docs) AS BIGINT)
         AS target_docs
FROM w, tot
"""


@query("q_corpus_temperature_mix", _TEMP_MIX_ORACLE)
def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = src.withColumn("wt", F.sqrt(F.col("n").cast("double")))
    tot = w.agg(
        F.sum(F.col("wt").cast("decimal(38,12)")).cast("double").alias("z"),
        F.sum("n").cast("bigint").alias("total_docs"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        (F.col("wt") / F.col("z")).alias("sample_prob"),
        F.floor(F.col("wt") / F.col("z") * F.col("total_docs"))
        .cast("bigint")
        .alias("target_docs"),
    )


# -- X343: preference-pair construction (RLHF-style chosen/rejected) -------
# Build (chosen, rejected) training pairs per (source, lang) prompt
# group: highest- vs lowest-scoring document under a deterministic
# integer quality score (length + distinct-token bonus − repetition
# penalty), doc_id tie-break. Keyed argmax/argmin via min/max over
# (score, doc_id) structs — one groupBy, no windows over facts.

_PREF_ORACLE = """
WITH scored AS (
  SELECT source, lang, doc_id,
         CAST(
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> ''))
           + 2 * len(list_distinct(
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')))
         AS BIGINT) AS score
  FROM documents WHERE text IS NOT NULL),
best AS (
  SELECT source, lang,
         MAX(struct_pack(s := score, d := -doc_id)) AS b,
         MIN(struct_pack(s := score, d := doc_id)) AS w2,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM scored GROUP BY source, lang)
SELECT source, lang, n_docs,
       CAST(-(b.d) AS BIGINT) AS chosen_doc,
       CAST(b.s AS BIGINT) AS chosen_score,
       CAST(w2.d AS BIGINT) AS rejected_doc,
       CAST(w2.s AS BIGINT) AS rejected_score
FROM best
"""


@query("q_corpus_preference_pairs", _PREF_ORACLE)
def q_corpus_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""
    )
    # a NULL text scores NULL, and NULL struct extrema sort opposite
    # ends on the two engines (the X514/ADVICE-r11 class) — excluded
    # explicitly on both sides (r12 NULL audit).
    d = d.filter(F.col("text").isNotNull())
    scored = d.select(
        "source",
        "lang",
        "doc_id",
        (F.size(toks) + 2 * F.size(F.array_distinct(toks)))
        .cast("bigint")
        .alias("score"),
    )
    best = scored.groupBy("source", "lang").agg(
        F.max(
            F.struct(
                F.col("score").alias("s"), (-F.col("doc_id")).alias("d")
            )
        ).alias("b"),
        F.min(
            F.struct(F.col("score").alias("s"), F.col("doc_id").alias("d"))
        ).alias("w2"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return best.select(
        "source",
        "lang",
        "n_docs",
        (-F.col("b.d")).cast("bigint").alias("chosen_doc"),
        F.col("b.s").cast("bigint").alias("chosen_score"),
        F.col("w2.d").cast("bigint").alias("rejected_doc"),
        F.col("w2.s").cast("bigint").alias("rejected_score"),
    )


# -- X344: JSONL round-trip fidelity ---------------------------------------
# Serialization audit for interchange with JSONL-based tooling: pack each
# document row to a JSON string, parse it back with the declared schema,
# and prove field-level identity — the md5 of the reconstructed fields
# equals the md5 of the originals, counted per source. Catches quoting,
# unicode-escape, and null-handling drift between writers and readers.

_JSONL_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN md5(CAST(doc_id AS VARCHAR) || '|' || text)
                          = md5(CAST(doc_id AS VARCHAR) || '|' || text)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
FROM documents GROUP BY source
"""


@query("q_corpus_jsonl_roundtrip", _JSONL_ORACLE)
def q_corpus_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    packed = d.select(
        "source",
        "doc_id",
        "text",
        F.to_json(F.struct("doc_id", "text", "lang")).alias("line"),
    )
    parsed = packed.select(
        "source",
        "doc_id",
        "text",
        F.from_json(
            "line", "doc_id bigint, text string, lang string"
        ).alias("back"),
    )
    ok = F.md5(
        F.concat(F.col("back.doc_id").cast("string"), F.lit("|"),
                 F.col("back.text"))
    ) == F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))
    )
    return parsed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias(
            "n_roundtrip_ok"
        ),
    )


# -- X402 Mixture drift: total variation + Hellinger ------------------------
#
# The corpus-mixture health check a training pipeline runs between two
# snapshots: has the source composition drifted? Snapshot A = even
# doc_ids, snapshot B = odd. Total variation distance stays EXACT
# integer — TV = sum|a_i*B - b_i*A| / (2AB), numerator in
# DECIMAL(38,0) (a_i*B ~ 1e24 at 100 TB). The Hellinger affinity
# sum sqrt(a_i*b_i) needs sqrt (correctly rounded per IEEE in both
# engines), accumulated in source order via a sequential fold over the
# BOUNDED per-source aggregate (sources are a small domain; the fact
# scan never sees a float sum). Both engines build bit-identical
# doubles, so the drift scores hash-match. KL/JS are deliberately NOT
# used: ln() is not correctly rounded and differs across libms — TV +
# Hellinger carry the same signal with portable arithmetic.

_MIXDRIFT_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS a,
         CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS b
  FROM documents GROUP BY source),
t AS (
  SELECT CAST(SUM(a) AS BIGINT) AS a_tot, CAST(SUM(b) AS BIGINT) AS b_tot,
         CAST(COUNT(*) AS BIGINT) AS k_sources
  FROM s),
d AS (
  SELECT CAST(SUM(ABS(CAST(s.a AS DECIMAL(38,0)) * t.b_tot
                      - CAST(s.b AS DECIMAL(38,0)) * t.a_tot))
              AS DECIMAL(38,0)) AS tv_num,
         list_aggregate(
           list(sqrt((CAST(((CAST(s.a AS DECIMAL(38,0)) * s.b) - (CAST(s.a AS DECIMAL(38,0)) * s.b) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((CAST(s.a AS DECIMAL(38,0)) * s.b) % 1073741824 AS DOUBLE)))
                ORDER BY s.source),
           'sum') AS bh_raw
  FROM s, t)
SELECT t.k_sources, t.a_tot, t.b_tot,
       (CAST(((d.tv_num) - (d.tv_num) % 1073741824) / 1073741824 AS DOUBLE) * 1073741824.0 + CAST((d.tv_num) % 1073741824 AS DOUBLE))
         / (2.0 * CAST(t.a_tot AS DOUBLE) * CAST(t.b_tot AS DOUBLE))
         AS tv_dist,
       d.bh_raw / sqrt(CAST(t.a_tot AS DOUBLE) * CAST(t.b_tot AS DOUBLE))
         AS bh_affinity,
       sqrt(GREATEST(
         1.0 - d.bh_raw
                 / sqrt(CAST(t.a_tot AS DOUBLE) * CAST(t.b_tot AS DOUBLE)),
         0.0)) AS hellinger
FROM t, d
"""


@query("q_corpus_mixture_drift", _MIXDRIFT_ORACLE)
def q_corpus_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import dec_to_double

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1))
        .cast("bigint")
        .alias("a"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1))
        .cast("bigint")
        .alias("b"),
    )
    t = s.agg(
        F.sum("a").cast("bigint").alias("a_tot"),
        F.sum("b").cast("bigint").alias("b_tot"),
        F.count(F.lit(1)).cast("bigint").alias("k_sources"),
    )
    st = s.crossJoin(F.broadcast(t))
    ab = F.col("a").cast("decimal(38,0)") * F.col("b")
    d = st.agg(
        F.sum(
            F.abs(
                F.col("a").cast("decimal(38,0)") * F.col("b_tot")
                - F.col("b").cast("decimal(38,0)") * F.col("a_tot")
            )
        )
        .cast("decimal(38,0)")
        .alias("tv_num"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("source"), F.sqrt(dec_to_double(ab)).alias("r")
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, row: acc + row["r"],
        ).alias("bh_raw"),
    )
    ad = F.col("a_tot").cast("double")
    bd = F.col("b_tot").cast("double")
    bh = F.col("bh_raw") / F.sqrt(ad * bd)
    return t.crossJoin(F.broadcast(d)).select(
        "k_sources",
        "a_tot",
        "b_tot",
        (dec_to_double("tv_num") / (F.lit(2.0) * ad * bd)).alias("tv_dist"),
        bh.alias("bh_affinity"),
        F.sqrt(F.greatest(F.lit(1.0) - bh, F.lit(0.0))).alias("hellinger"),
    )


# -- X427 Prefix-cache-aware grouping ---------------------------------------
#
# Modern LLM serving/training caches KV state per shared prompt
# prefix, so batch order matters: examples that share a prefix should
# sit adjacent. This surface orders the corpus by (prefix-key hash,
# doc_id) — the prefix key is the first 3 whitespace tokens — and
# audits the win: adjacent-pair same-prefix counts under the naive
# doc_id order vs the grouped order, plus the reusable-token mass.
# Ordering at scale is the grouped global_rank (range partitions, no
# single-partition sort); adjacency is a rank -> rank+1 self-join
# (the established adjacent-pair shape); counts are exact integers.

_PFX_TOKENS = 3


_PFX_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         array_to_string((string_split(text, ' '))[1:{_PFX_TOKENS}], ' ')
           AS pfx,
         CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
base AS (
  SELECT doc_id, pfx,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS r
  FROM d),
grp AS (
  SELECT doc_id, pfx, n_tokens,
         ROW_NUMBER() OVER (
           ORDER BY CAST(('0x' || substr(md5(pfx), 1, 15)) AS BIGINT),
                    doc_id) AS r
  FROM d),
adj_base AS (
  SELECT CAST(COUNT(CASE WHEN a.pfx = b.pfx THEN 1 END) AS BIGINT) AS same
  FROM base a JOIN base b ON b.r = a.r + 1),
adj_grp AS (
  SELECT CAST(COUNT(CASE WHEN a.pfx = b.pfx THEN 1 END) AS BIGINT) AS same,
         CAST(SUM(CASE WHEN a.pfx = b.pfx THEN {_PFX_TOKENS} ELSE 0 END)
              AS BIGINT) AS reuse_tokens
  FROM grp a JOIN grp b ON b.r = a.r + 1)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
       adj_base.same AS adjacent_same_baseline,
       adj_grp.same AS adjacent_same_grouped,
       adj_grp.reuse_tokens AS reuse_tokens_grouped
FROM adj_base, adj_grp
"""


@query("q_corpus_prefix_grouping", _PFX_ORACLE)
def q_corpus_prefix_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank
    from mini_etl_project_spark.queries.sampling_q import hash60

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, _PFX_TOKENS), " ").alias("pfx"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    base = global_rank(
        d.select("doc_id", "pfx"), order=[F.col("doc_id")], rank_col="r"
    )
    grp = global_rank(
        d.withColumn("h", hash60(F.col("pfx"))),
        order=[F.col("h"), F.col("doc_id")],
        rank_col="r",
    )

    def adjacent(df):
        a = df.select(F.col("r").alias("ra"), F.col("pfx").alias("pa"))
        b = df.select(F.col("r").alias("rb"), F.col("pfx").alias("pb"))
        return a.join(b, b.rb == a.ra + 1)

    adj_base = adjacent(base).agg(
        F.count(F.when(F.col("pa") == F.col("pb"), 1))
        .cast("bigint")
        .alias("adjacent_same_baseline")
    )
    adj_grp = adjacent(grp).agg(
        F.count(F.when(F.col("pa") == F.col("pb"), 1))
        .cast("bigint")
        .alias("adjacent_same_grouped"),
        F.sum(
            F.when(F.col("pa") == F.col("pb"), _PFX_TOKENS).otherwise(0)
        )
        .cast("bigint")
        .alias("reuse_tokens_grouped"),
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        n.crossJoin(F.broadcast(adj_base)).crossJoin(F.broadcast(adj_grp))
    )


# -- X430 Span-level extraction F1 ------------------------------------------
#
# The NER/extraction scorecard: two extractors emit token-position
# spans and the audit reports micro precision/recall/F1 of extractor
# B against reference A, per source. Extractor A tags tokens in
# {table, part}; extractor B tags {table, hash} — token positions
# come from ONE posexplode of the whitespace split (the engine's
# tokenizer primitive), true/false positives and false negatives are
# conditional counts on the exploded scan, and P/R/F1 quantize to
# exact integer ppm (2*tp*1e6 DIV (2*tp+fp+fn) — no float ratios).

_SPANF1_ORACLE = """
WITH t AS (
  SELECT d.source, tok.t AS tok
  FROM documents d,
       LATERAL (SELECT UNNEST(string_split(d.text, ' ')) AS t) tok),
c AS (
  SELECT source,
         CAST(COUNT(CASE WHEN tok = 'table' THEN 1 END) AS BIGINT) AS tp,
         CAST(COUNT(CASE WHEN tok = 'hash' THEN 1 END) AS BIGINT) AS fp,
         CAST(COUNT(CASE WHEN tok = 'part' THEN 1 END) AS BIGINT) AS fn
  FROM t GROUP BY source)
SELECT source, tp, fp, fn,
       CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
       CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT) AS f1_ppm
FROM c
"""


@query("q_corpus_span_f1", _SPANF1_ORACLE)
def q_corpus_span_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    c = t.groupBy("source").agg(
        F.count(F.when(F.col("tok") == "table", 1)).cast("bigint").alias("tp"),
        F.count(F.when(F.col("tok") == "hash", 1)).cast("bigint").alias("fp"),
        F.count(F.when(F.col("tok") == "part", 1)).cast("bigint").alias("fn"),
    )
    return c.select(
        "source",
        "tp",
        "fp",
        "fn",
        F.expr("CAST(tp * 1000000 DIV (tp + fp) AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST(tp * 1000000 DIV (tp + fn) AS BIGINT)").alias(
            "recall_ppm"
        ),
        F.expr(
            "CAST(2 * tp * 1000000 DIV (2 * tp + fp + fn) AS BIGINT)"
        ).alias("f1_ppm"),
    )


# =============================================================================
# Round-9 LLM-pipeline wave (X507-X509): curriculum ordering,
# conversation assembly, and the perplexity quality filter.
# =============================================================================

_TOKS9 = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"


# -- X507 curriculum ordering ---------------------------------------------------
#
# Curriculum learning's data side: order the corpus easy -> hard and cut
# it into three training phases. Difficulty here is the integer
# mean-word-length milli-score (n_chars*1000 DIV n_tokens — exact, no
# doubles); phases are equal-frequency thirds of the GLOBAL difficulty
# rank with (difficulty, doc_id) tie-break, so the assignment is total,
# deterministic, and partitioning-independent. Emits per-phase
# accounting (doc count, token budget, difficulty band) — what a
# curriculum scheduler consumes. The global rank is the distributed
# range-partition rank (operators/rank.py), never a single-partition
# sort at scale.

_CURRICULUM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, LEN({_TOKS9}) AS n_tok,
         LENGTH(text) * 1000 // GREATEST(LEN({_TOKS9}), 1) AS difficulty
  FROM documents
  WHERE LEN({_TOKS9}) > 0),
ranked AS (
  SELECT doc_id, n_tok, difficulty,
         ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM d)
SELECT CAST((rn - 1) * 3 // n AS BIGINT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS token_budget,
       CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
       CAST(MAX(difficulty) AS BIGINT) AS max_difficulty
FROM ranked GROUP BY 1
"""


@query("q_corpus_curriculum", _CURRICULUM_ORACLE)
def q_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    doc = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
    )
    d = doc.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.expr(
            "CAST(LENGTH(text) * 1000 DIV GREATEST(SIZE("
            "FILTER(SPLIT(TRIM(text), '\\\\s+'), t -> t != ''))"
            ", 1) AS BIGINT)"
        ).alias("difficulty"),
    ).filter(F.col("n_tok") > 0)
    ranked = global_rank(
        d, order=[F.col("difficulty"), F.col("doc_id")], rank_col="rn",
        n_col="n",
    )
    return (
        ranked.select(
            F.expr("CAST((rn - 1) * 3 DIV n AS BIGINT)").alias("phase"),
            "n_tok",
            "difficulty",
        )
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("token_budget"),
            F.min("difficulty").cast("bigint").alias("min_difficulty"),
            F.max("difficulty").cast("bigint").alias("max_difficulty"),
        )
    )


# -- X508 conversation assembly --------------------------------------------------
#
# The SFT-data primitive: assemble each user's event stream into an
# ordered multi-turn conversation record with role tags and a
# reproducible transcript fingerprint (md5 of the order-pinned
# role:type:cents serialization — ties on ts pinned by event_id, the
# house rule). Grouped collect + sort stays keyed on user_id; at 100 TB
# this is one shuffle on the conversation key, which is the minimum any
# conversation assembler pays.

_CONV_ORACLE = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('click', 'view') THEN 'user'
              ELSE 'assistant' END AS role,
         event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(CASE WHEN role = 'user' THEN 1 END) AS BIGINT)
         AS n_user_turns,
       CAST(COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS BIGINT)
         AS n_assistant_turns,
       md5(string_agg(role || ':' || COALESCE(event_type, '') || ':'
                      || COALESCE(CAST(cents AS VARCHAR), ''),
                      '|' ORDER BY (ts IS NULL), ts, event_id))
         AS transcript_fp
FROM t GROUP BY user_id
"""


@query("q_corpus_conversation_assembly", _CONV_ORACLE)
def q_corpus_conversation_assembly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    role = F.when(
        F.col("event_type").isin("click", "view"), F.lit("user")
    ).otherwise(F.lit("assistant"))
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        role.alias("role"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # NULL fields serialize as empty strings EXPLICITLY: concat_ws
    # silently skips NULL args (dropping the separator slot) while the
    # oracle's || nullifies the whole line, which string_agg then drops
    # — both wrong, and differently so (r12 NULL audit).
    line = F.concat_ws(
        ":",
        F.col("role"),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.coalesce(F.col("cents").cast("string"), F.lit("")),
    )
    # Turn order under NULL ts is PINNED on both engines (r12 ts-NULL
    # audit): Spark struct comparison sorts a NULL field FIRST while
    # DuckDB ORDER BY defaults NULLS LAST, so the sort key carries an
    # explicit null flag (false < true puts NULL-ts turns last) and a
    # coalesced ts (value irrelevant once flagged; ties fall to
    # event_id) — the oracle sorts BY (ts IS NULL), ts, event_id.
    return (
        t.select(
            "user_id",
            "role",
            F.struct(
                F.col("ts").isNull().alias("tnull"),
                F.coalesce(
                    F.col("ts"), F.lit("1970-01-01").cast("timestamp")
                ).alias("ts"),
                "event_id",
                line.alias("line"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.count(F.when(F.col("role") == "user", 1))
            .cast("bigint")
            .alias("n_user_turns"),
            F.count(F.when(F.col("role") == "assistant", 1))
            .cast("bigint")
            .alias("n_assistant_turns"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list("s")),
                        lambda s: s["line"],
                    ),
                )
            ).alias("transcript_fp"),
        )
    )


# -- X509 perplexity quality filter ----------------------------------------------
#
# The CCNet-style pretraining gate: score every document's mean
# surprisal under the corpus unigram LM (X491's machinery — one
# portable ln per VOCAB word) and DROP everything above the corpus mean
# (the "high-perplexity tail" rule), reporting per-(lang, source)
# survival accounting. The corpus-mean threshold is a distributed qsum
# over per-doc surprisals (full precision, order-independent), so the
# whole filter is oracle-exact end to end. Two corpus scans (LM
# estimate + scoring) — the floor any LM-filter pays.

_PPLX_FILTER_ORACLE = f"""
WITH toks AS (SELECT doc_id, lang, source, {_TOKS9} AS tk FROM documents),
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
lns AS ({{LN_LAYER}}),
perdoc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         -(list_reduce(list(l.lnv ORDER BY t.i), (a, x) -> a + x))
           / CAST(COUNT(*) AS DOUBLE) AS surp
  FROM tw t JOIN lns l ON t.w = l.uw
  GROUP BY 1),
thresh AS (
  SELECT {{QSUM_S}} / CAST(COUNT(*) AS DOUBLE) AS mean_surp,
         CAST(COUNT(*) AS BIGINT) AS n_scored
  FROM perdoc)
SELECT d.lang, d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN p.surp <= t.mean_surp THEN 1 END) AS BIGINT)
         AS n_kept,
       CAST(COUNT(CASE WHEN p.surp <= t.mean_surp THEN 1 END) * 1000000
            // COUNT(*) AS BIGINT) AS survival_ppm
FROM perdoc p
JOIN documents d USING (doc_id)
CROSS JOIN thresh t
GROUP BY 1, 2
"""


def _pplx_filter_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import (
        sql_ln_layer,
        sql_qsum_expr,
    )

    return _PPLX_FILTER_ORACLE.replace(
        "{LN_LAYER}", sql_ln_layer("pv", "uw")
    ).replace("{QSUM_S}", sql_qsum_expr("surp"))


@query("q_corpus_perplexity_filter", _pplx_filter_oracle())
def q_corpus_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mini_etl_project_spark.queries.helpers import (
        fold_sum,
        pln_finish,
        pln_k,
        pln_red,
        qsum,
    )

    doc = load_table(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
        ).alias("tk"),
    )
    tw = toks.select("doc_id", F.posexplode("tk").alias("i", "w"))
    ucnt = tw.groupBy(F.col("w").alias("uw")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cu")
    )
    utot = ucnt.agg(F.sum("cu").cast("bigint").alias("tu"))
    pv = ucnt.crossJoin(F.broadcast(utot)).select(
        "uw",
        (F.col("cu").cast("double") / F.col("tu").cast("double")).alias("v"),
    )
    lns = (
        pv.withColumn("red", pln_red("v"))
        .withColumn("kk", pln_k("v"))
        .select("uw", pln_finish("red", "kk").alias("lnv"))
    )
    j = tw.join(F.broadcast(lns), tw["w"] == lns["uw"]).select(
        "doc_id", "i", "lnv"
    )
    perdoc = (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("i", F.col("lnv").alias("l")))
            ).alias("ps"),
        )
        .select(
            "doc_id",
            (
                (-fold_sum(F.transform("ps", lambda p: p["l"])))
                / F.col("n_tokens").cast("double")
            ).alias("surp"),
        )
        # consumed by the threshold aggregate AND the survival join —
        # checkpoint so the two corpus scans happen exactly once
        .localCheckpoint(eager=True)
    )
    thresh = perdoc.agg(
        qsum("surp", "qs"), F.count(F.lit(1)).cast("bigint").alias("n_scored")
    ).select(
        (F.col("qs") / F.col("n_scored").cast("double")).alias("mean_surp")
    )
    kept = F.count(
        F.when(F.col("surp") <= F.col("mean_surp"), 1)
    ).cast("bigint")
    return (
        perdoc.join(doc.select("doc_id", "lang", "source"), "doc_id")
        .crossJoin(F.broadcast(thresh))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            kept.alias("n_kept"),
            F.expr(
                "CAST(COUNT(CASE WHEN surp <= mean_surp THEN 1 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("survival_ppm"),
        )
    )


# -- X513-X515: RLHF/SFT candidate-selection primitives ----------------------
#
# The reward-model stage of a training-data pipeline: per prompt
# (user_id), n candidate generations (events) each carrying a reward
# (value, held exactly as cents). Three selection primitives a 100 TB
# post-training corpus job needs, each a SINGLE keyed shuffle with
# output bounded by |prompts|:
#
# - X513 best-of-n rejection sampling: keep the argmax-reward candidate
#   (deterministic tie-break: smallest event_id) and report the
#   acceptance margin over the runner-up.
# - X514 DPO preference pairs: (chosen, rejected) = (argmax, argmin)
#   per prompt, strictly positive reward gap required (equal-reward
#   pairs carry no preference signal).
# - X515 GRPO group-relative advantage: z-score of the best candidate
#   against its OWN prompt's candidate group (mean/std ddof=1), the
#   group-normalized advantage GRPO-style RL training uses. Moments
#   come from exact integer/decimal sums (the q_ml_cohens_d lane), so
#   mean/sd/z are single correctly-rounded double ops on bit-identical
#   inputs — engine-portable without qsum.

_BESTOFN_ORACLE = """
WITH c AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC,
                                     event_id) AS rn
  FROM events)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       MAX(CASE WHEN rn = 1 THEN event_id END) AS best_event_id,
       MAX(CASE WHEN rn = 1 THEN cents END) AS best_cents,
       MAX(CASE WHEN rn = 1 THEN cents END)
         - MAX(CASE WHEN rn = 2 THEN cents END) AS margin_cents
FROM c GROUP BY user_id
"""


@query("q_corpus_best_of_n", _BESTOFN_ORACLE)
def q_corpus_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X513: best-of-n rejection sampling. One window shuffle on the
    prompt key; the following groupBy rides the same hash partitioning
    (no second exchange). Output = one row per prompt."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy(
        F.col("cents").desc(), F.col("event_id").asc()
    )
    c = ev.select("user_id", "event_id", cents.alias("cents")).withColumn(
        "rn", F.row_number().over(w)
    )
    best = F.max(F.when(F.col("rn") == 1, F.col("cents")))
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
            "best_event_id"
        ),
        best.alias("best_cents"),
        (best - F.max(F.when(F.col("rn") == 2, F.col("cents")))).alias(
            "margin_cents"
        ),
    )


_DPO_ORACLE = """
WITH c AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC,
                                     event_id) AS rn_hi,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT) ASC,
                                     event_id) AS rn_lo
  FROM events
  WHERE value IS NOT NULL),
p AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         MAX(CASE WHEN rn_hi = 1 THEN event_id END) AS chosen_event_id,
         MAX(CASE WHEN rn_hi = 1 THEN cents END) AS chosen_cents,
         MAX(CASE WHEN rn_lo = 1 THEN event_id END) AS rejected_event_id,
         MAX(CASE WHEN rn_lo = 1 THEN cents END) AS rejected_cents
  FROM c GROUP BY user_id)
SELECT user_id, n_candidates, chosen_event_id, chosen_cents,
       rejected_event_id, rejected_cents,
       chosen_cents - rejected_cents AS gap_cents
FROM p
WHERE n_candidates >= 2 AND chosen_cents - rejected_cents >= 1
"""


@query("q_corpus_dpo_pairs", _DPO_ORACLE)
def q_corpus_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X514: DPO preference-pair construction. ONE groupBy (struct
    min/max carry the argmin/argmax with their tie-breaks — no window,
    no self-join); map-side partials make it a straight keyed agg.

    NULL rewards are filtered EXPLICITLY on both engines (round-11 ADVICE
    pin): Spark's min(struct) sorts NULL cents first while DuckDB's ORDER
    BY defaults to NULLS LAST — without the filter the NULL convention
    would be an accident of the data rather than part of the contract."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = ev.filter(F.col("value").isNotNull()).select(
        "user_id", "event_id", cents.alias("cents")
    )
    # struct ordering is lexicographic: max picks highest cents, then
    # highest -event_id = SMALLEST event_id (mirrors the oracle's
    # ORDER BY cents DESC, event_id); min picks lowest cents, then
    # smallest event_id directly.
    hi = F.max(F.struct(F.col("cents"), (-F.col("event_id")).alias("nid")))
    lo = F.min(F.struct(F.col("cents"), F.col("event_id").alias("pid")))
    p = c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        hi.alias("hi"),
        lo.alias("lo"),
    )
    return (
        p.select(
            "user_id",
            "n_candidates",
            (-F.col("hi.nid")).alias("chosen_event_id"),
            F.col("hi.cents").alias("chosen_cents"),
            F.col("lo.pid").alias("rejected_event_id"),
            F.col("lo.cents").alias("rejected_cents"),
            (F.col("hi.cents") - F.col("lo.cents")).alias("gap_cents"),
        )
        .filter((F.col("n_candidates") >= 2) & (F.col("gap_cents") >= 1))
    )


def _grpo_oracle() -> str:
    from mini_etl_project_spark.queries.helpers import sql_dec_to_double

    num = sql_dec_to_double(
        "CAST(q AS DECIMAL(38,0)) * n - CAST(s AS DECIMAL(38,0)) * s"
    )
    return f"""
WITH c AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC,
                                     event_id) AS rn
  FROM events),
g AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(CAST(cents AS DECIMAL(28,0)) * cents) AS DECIMAL(38,0))
           AS q,
         MAX(CASE WHEN rn = 1 THEN event_id END) AS best_event_id,
         MAX(CASE WHEN rn = 1 THEN cents END) AS best_cents
  FROM c GROUP BY user_id),
pos AS (
  SELECT c.user_id,
         CAST(COUNT(CASE WHEN c.cents * g.n > g.s THEN 1 END) AS BIGINT)
           AS n_pos
  FROM c JOIN g USING (user_id) GROUP BY c.user_id)
SELECT g.user_id,
       g.n AS n_candidates,
       g.s AS sum_cents,
       g.best_event_id,
       g.best_cents,
       pos.n_pos,
       CASE WHEN CAST(q AS DECIMAL(38,0)) * n
                 - CAST(s AS DECIMAL(38,0)) * s = 0 THEN NULL
            ELSE (CAST(g.best_cents AS DOUBLE) - CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / sqrt({num} / CAST(n AS DOUBLE)
                        / (CAST(n AS DOUBLE) - 1.0))
       END AS adv_best
FROM g JOIN pos USING (user_id)
WHERE g.n >= 2
"""


@query("q_corpus_grpo_advantage", _grpo_oracle())
def q_corpus_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X515: GRPO group-relative advantage of the best candidate.
    Moments per prompt from ONE keyed agg (exact BIGINT/DECIMAL sums);
    n_pos (candidates above their group mean) compares in exact
    integers (cents*n > s avoids any double compare); the z itself is
    three correctly-rounded double ops on bit-identical inputs. The
    per-candidate re-join for n_pos rides the same hash partitioning.
    Zero-variance groups yield NULL advantage (decimal-exact gate)."""
    from mini_etl_project_spark.queries.helpers import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = ev.select("user_id", "event_id", cents.alias("cents"))
    # Group moments as WINDOW aggregates over the prompt key instead of
    # a groupBy + re-join: the per-row n_pos comparison then reads its
    # own group's (n, s) in place — ONE scan, ONE key shuffle (both
    # window specs and the groupBy share the user_id partitioning).
    wp = Window.partitionBy("user_id")
    wo = wp.orderBy(F.col("cents").desc(), F.col("event_id").asc())
    c2 = c.select(
        "user_id",
        "cents",
        "event_id",
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.sum("cents").over(wp).cast("bigint").alias("s"),
        F.sum(F.col("cents").cast("decimal(28,0)") * F.col("cents"))
        .over(wp)
        .cast("decimal(38,0)")
        .alias("q"),
        F.row_number().over(wo).alias("rn"),
    )
    g = c2.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("q").alias("q"),
        F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
            "best_event_id"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("cents"))).alias("best_cents"),
        F.count(F.when(F.col("cents") * F.col("n") > F.col("s"), 1))
        .cast("bigint")
        .alias("n_pos"),
    )
    num_dec = (
        F.col("q") * F.col("n") - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("decimal(38,0)")
    nd = F.col("n").cast("double")
    adv = (
        F.col("best_cents").cast("double") - F.col("s").cast("double") / nd
    ) / F.sqrt(dec_to_double(num_dec) / nd / (nd - F.lit(1.0)))
    return g.filter(F.col("n") >= 2).select(
        "user_id",
        F.col("n").alias("n_candidates"),
        F.col("s").alias("sum_cents"),
        "best_event_id",
        "best_cents",
        "n_pos",
        F.when(num_dec == 0, F.lit(None).cast("double"))
        .otherwise(adv)
        .alias("adv_best"),
    )


# -- X516: reward-margin -> win-rate calibration ----------------------------
#
# VERDICT r10 ask #6. X513/X514 emit raw reward margins in cents; a
# training pipeline needs to know what a margin is WORTH — the
# probability that the preference it encodes survives independent
# re-measurement. This query builds that calibration curve with a
# hash-held-out probe (the X214 reliability-bin machinery applied to
# preference pairs):
#
# 1. Candidates are paired WITHIN each prompt by a reward-independent
#    hash order (60-bit md5 of 'p'||event_id): rank, then pair ranks
#    (1,2), (3,4), ... — a deterministic held-out pairing that, unlike
#    X514's (argmax, argmin), yields a pair POPULATION whose margins
#    span the whole scale instead of one extreme pair per prompt.
# 2. Within a pair, chosen/rejected by reward (ties to smaller
#    event_id), margin = chosen - rejected cents >= 0.
# 3. The PROBE re-scores each candidate as cents + noise, where noise
#    is a second independent hash of the candidate (md5 of
#    'n'||event_id, uniform over [-25000, +25000] cents); a pair WINS
#    if the chosen side still scores strictly higher under the probe.
#    P(win | margin) is the noise-difference CDF — monotone in margin
#    by construction, saturating at exactly 1 for margin >= 50001
#    (at margin == 50000 a maximal adverse noise difference of -50000
#    yields a tie, not a win) — so the empirical curve has a
#    theoretical invariant the test suite pins (tests/test_round11.py).
# 4. Margins bin at 5000-cent width, capped at bin 10; the top bin's
#    lower edge (margin == 50000) can sub-saturate per the tie case
#    above, so only monotonicity — not rate 1.0 — is pinned for it.
#    Per bin: pair count, wins, win rate and mean margin in exact
#    integer ppm/cents (fixed-point DIV on non-negatives — the X214
#    lane).
#
# Scale posture: one window shuffle on the prompt key, a pair groupBy
# whose map-side partials collapse to one row per pair BEFORE its
# exchange (pair members are co-located by the window sort), and a
# final 11-row bin agg. Output bounded by the bin count.

_MARGIN_CAL_ORACLE = """
WITH c AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5('p' || CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS ph,
         CAST(('0x' || substr(md5('n' || CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 50001 - 25000 AS noise
  FROM events
  WHERE value IS NOT NULL),
r AS (
  SELECT user_id, event_id, cents, noise,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ph, event_id) AS rn
  FROM c),
p AS (
  SELECT user_id, CAST((rn - 1) // 2 AS BIGINT) AS pair_id,
         COUNT(*) AS n_members,
         MAX(CASE WHEN rr = 1 THEN cents END) AS chosen_cents,
         MAX(CASE WHEN rr = 1 THEN noise END) AS chosen_noise,
         MAX(CASE WHEN rr = 2 THEN cents END) AS rejected_cents,
         MAX(CASE WHEN rr = 2 THEN noise END) AS rejected_noise
  FROM (SELECT user_id, rn, cents, noise,
               ROW_NUMBER() OVER (PARTITION BY user_id, (rn - 1) // 2
                                  ORDER BY cents DESC, event_id) AS rr
        FROM r)
  GROUP BY user_id, CAST((rn - 1) // 2 AS BIGINT)),
pairs AS (
  SELECT chosen_cents - rejected_cents AS margin,
         CASE WHEN chosen_cents + chosen_noise
                   > rejected_cents + rejected_noise
              THEN 1 ELSE 0 END AS win
  FROM p WHERE n_members = 2)
SELECT CAST(LEAST(margin // 5000, 10) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(win) AS BIGINT) AS n_wins,
       CAST(SUM(win) * 1000000 // COUNT(*) AS BIGINT) AS win_rate_ppm,
       CAST(SUM(margin) // COUNT(*) AS BIGINT) AS mean_margin_cents
FROM pairs GROUP BY bin
"""


@query("q_corpus_margin_calibration", _MARGIN_CAL_ORACLE)
def q_corpus_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X516: margin->win-rate calibration of the X513/X514 reward margins
    under a hash-held-out probe. See the module comment above the oracle
    for the construction; the win-rate-vs-margin curve is monotone with
    a saturated top bin by the probe's design, and tests/test_round11.py
    recomputes the whole surface in plain Python and pins both."""
    ev = load_table(spark, sf_dir, "events")
    h60 = lambda prefix: F.conv(  # noqa: E731 — 60-bit md5 prefix, X214 lane
        F.substring(F.md5(F.concat(F.lit(prefix), F.col("event_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    c = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        h60("p").alias("ph"),
        (h60("n") % 50001 - 25000).alias("noise"),
    )
    w_pair = Window.partitionBy("user_id").orderBy("ph", "event_id")
    r = c.withColumn("rn", F.row_number().over(w_pair)).withColumn(
        "pair_id", ((F.col("rn") - 1) / 2).cast("bigint")
    )
    # argmax-by-reward within the 2-member pair via struct extrema (the
    # X514 lane): max picks (cents DESC, event_id ASC) with the member's
    # noise riding along. The REJECTED member is the pair complement, so
    # its cents/noise come from (pair sum - chosen) — exact integers, and
    # immune to the equal-cents tie (a min(struct) mirror would pick the
    # SAME member as the max when cents tie).
    hi = F.max(F.struct("cents", (-F.col("event_id")).alias("nid"), "noise"))
    p = r.groupBy("user_id", "pair_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        hi.alias("hi"),
        F.sum("cents").alias("sum_cents"),
        F.sum("noise").alias("sum_noise"),
    )
    rej_cents = F.col("sum_cents") - F.col("hi.cents")
    rej_noise = F.col("sum_noise") - F.col("hi.noise")
    pairs = p.filter(F.col("n_members") == 2).select(
        (F.col("hi.cents") - rej_cents).alias("margin"),
        F.when(
            F.col("hi.cents") + F.col("hi.noise") > rej_cents + rej_noise, 1
        )
        .otherwise(0)
        .alias("win"),
    )
    return pairs.groupBy(
        F.least(F.expr("margin DIV 5000"), F.lit(10)).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("win").cast("bigint").alias("n_wins"),
        F.expr("SUM(win) * 1000000 DIV COUNT(*)").cast("bigint").alias(
            "win_rate_ppm"
        ),
        F.expr("SUM(margin) DIV COUNT(*)").cast("bigint").alias(
            "mean_margin_cents"
        ),
    )


# -- X517: incremental corpus ingestion, composed end-to-end ----------------
#
# VERDICT r10 ask #4. The 100 TB shape users actually run is not any one
# dedup operator — it is the COMPOSITION: a new crawl batch arriving
# against an existing corpus snapshot, flowing through quality gate ->
# exact dedup (within batch, then vs corpus) -> asymmetric MinHash/LSH
# near-dup probe vs the corpus -> semantic (embedding-cosine) probe vs
# the corpus -> admission. Every stage exists as a verified operator
# (X153/X1/X227/X378); this query pins the composition itself with one
# oracle: the per-document DISPOSITION of the whole batch, where every
# planted duplicate crosses a batch boundary (exact copies of corpus
# docs at +50000, near-mutations of corpus docs at +60000 with the
# first 20 chars cut, and within-batch exact copies at +70000).
#
# Stage precedence per doc (first hit labels it): rejected_quality ->
# dup_exact_batch (keep-first by doc_id) -> dup_exact_corpus ->
# dup_near_corpus (LSH bands, exact Jaccard >= 0.5 verify) ->
# dup_semantic_corpus (4x4-bit exact-sign hyperplane buckets, exact
# cosine >= 0.35; only docs with embeddings can hit it) -> admitted.
#
# Scale posture: the gate is stateless map work; exact stages are keyed
# hash joins on md5 keys; the LSH probe is X227's asymmetric banding
# (existing bands x batch bands only — never a self-join of either
# side); the semantic probe buckets both sides and scores only bucket
# collisions. Nothing scans pair space; output is bounded by |batch|.
# The bounded derived tables (batch, corpus slice, vectors — hundreds
# of rows here, batch-sized in production) are eagerly checkpointed so
# the final plan re-derives nothing (the round-9 scan-audit rule). The
# snapshot-table leg of the same pipeline (exactly-once append_txn +
# CDC replay across two batches) is pinned by
# tests/test_round11b.py::test_ingest_exactly_once_two_batches.

_INGEST_TAU = 0.35
_INGEST_SIGS = hyperplane_sigs_sql(4, 4, 64, {"sig_vi": "v_inc", "sig_ve": "v_ex"})

_INGEST_ORACLE = f"""
WITH base AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 300),
existing AS (SELECT id, text FROM base WHERE id % 3 <> 0),
inc0 AS (SELECT id, text FROM base WHERE id % 3 = 0),
incoming AS (
  SELECT id, text FROM inc0
  UNION ALL
  SELECT id + 50000, text FROM existing WHERE id % 7 = 1
  UNION ALL
  SELECT id + 60000, substring(text, 21) FROM existing WHERE id % 11 = 2
  UNION ALL
  SELECT id + 70000, text FROM inc0 WHERE id % 13 = 3),
q AS (
  SELECT id, text,
         COALESCE(length(trim(text)) >= 80
         AND CAST(len(regexp_extract_all(text, '[A-Za-z]{{2,}}')) AS DOUBLE)
             / GREATEST(len(regexp_extract_all(trim(text), '\\S+')), 1)
             >= 0.6, FALSE) AS ok
  FROM incoming),
qk AS (
  SELECT id, text, md5(lower(trim(text))) AS k,
         ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY id) AS rk
  FROM q WHERE ok),
ek AS (SELECT DISTINCT md5(lower(trim(text))) AS k FROM existing
       WHERE text IS NOT NULL),
s_batch AS (SELECT id FROM qk WHERE rk > 1),
s_exact AS (SELECT qk.id FROM qk JOIN ek USING (k) WHERE rk = 1),
surv AS (
  SELECT id, text FROM qk
  WHERE rk = 1 AND k NOT IN (SELECT k FROM ek)),
sh_e AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM existing),
sh_s AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM surv),
sig_e AS (
  SELECT id, seed.s AS seed, MIN(__H64__) AS mh
  FROM sh_e, (SELECT unnest(generate_series(0, 15)) AS s) seed
  GROUP BY id, seed.s),
sig_s AS (
  SELECT id, seed.s AS seed, MIN(__H64__) AS mh
  FROM sh_s, (SELECT unnest(generate_series(0, 15)) AS s) seed
  GROUP BY id, seed.s),
band_e AS (
  SELECT id, CAST(FLOOR(seed / 4) AS INT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM sig_e GROUP BY id, CAST(FLOOR(seed / 4) AS INT)),
band_s AS (
  SELECT id, CAST(FLOOR(seed / 4) AS INT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM sig_s GROUP BY id, CAST(FLOOR(seed / 4) AS INT)),
cand AS (
  SELECT DISTINCT s.id AS inc_id, e.id AS ex_id
  FROM band_s s JOIN band_e e
    ON s.band = e.band AND s.band_key = e.band_key),
sizes_e AS (SELECT id, COUNT(*) AS n FROM sh_e GROUP BY id),
sizes_s AS (SELECT id, COUNT(*) AS n FROM sh_s GROUP BY id),
inter AS (
  SELECT c.inc_id, c.ex_id, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh_s a ON a.id = c.inc_id
  JOIN sh_e b ON b.id = c.ex_id AND b.shingle = a.shingle
  GROUP BY c.inc_id, c.ex_id),
near AS (
  SELECT DISTINCT i.inc_id AS id
  FROM inter i
  JOIN sizes_s sa ON sa.id = i.inc_id
  JOIN sizes_e sb ON sb.id = i.ex_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5),
surv2 AS (SELECT id FROM surv WHERE id NOT IN (SELECT id FROM near)),
vecs AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
v_inc AS (
  SELECT vec_id, embedding FROM vecs WHERE vec_id IN (SELECT id FROM surv2)),
v_ex AS (
  SELECT vec_id, embedding FROM vecs WHERE vec_id % 3 <> 0),
{_INGEST_SIGS},
scand AS (
  SELECT DISTINCT a.vec_id AS inc_id, b.vec_id AS ex_id
  FROM sig_vi a JOIN sig_ve b ON a.tbl = b.tbl AND a.bucket = b.bucket),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(CAST(embedding[t.i] AS DOUBLE)
                       * CAST(embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE) AS sq
  FROM vecs, unnest(generate_series(1, 64)) t(i)
  GROUP BY vec_id),
sem AS (
  SELECT DISTINCT sc.inc_id AS id
  FROM scand sc
  JOIN v_inc a ON a.vec_id = sc.inc_id
  JOIN v_ex b ON b.vec_id = sc.ex_id
  JOIN norms na ON na.vec_id = sc.inc_id
  JOIN norms nb ON nb.vec_id = sc.ex_id,
       unnest(generate_series(1, 64)) t(i)
  GROUP BY sc.inc_id, sc.ex_id, na.sq, nb.sq
  HAVING CAST(SUM(CAST(CAST(a.embedding[t.i] AS DOUBLE)
                       * CAST(b.embedding[t.i] AS DOUBLE)
                  AS DECIMAL(38,10))) AS DOUBLE)
         / (SQRT(na.sq) * SQRT(nb.sq)) >= {_INGEST_TAU})
SELECT q.id AS doc_id,
       CASE WHEN NOT q.ok THEN 'rejected_quality'
            WHEN q.id IN (SELECT id FROM s_batch) THEN 'dup_exact_batch'
            WHEN q.id IN (SELECT id FROM s_exact) THEN 'dup_exact_corpus'
            WHEN q.id IN (SELECT id FROM near) THEN 'dup_near_corpus'
            WHEN q.id IN (SELECT id FROM sem) THEN 'dup_semantic_corpus'
            ELSE 'admitted'
       END AS disposition
FROM q
"""

# splice in the portable 64-bit shingle hash (the X2/X227 lane); a plain
# token replace because .format() would trip on the regex braces above
from mini_etl_project_spark.queries.dedup_q import _HASH64 as _H64  # noqa: E402

_INGEST_ORACLE = _INGEST_ORACLE.replace(
    "__H64__", _H64.format(seed="seed.s", v="shingle")
)


@query("q_corpus_incremental_ingest", _INGEST_ORACLE)
def q_corpus_incremental_ingest(
    spark: SparkSession, sf_dir: str, *, bound: int = 300
) -> DataFrame:
    """X517: the composed incremental-ingestion pipeline (see the module
    comment above the oracle). Returns (doc_id, disposition) for every
    incoming-batch doc; the six dispositions are mutually exclusive and
    exhaustive by construction, so the union below IS the batch.

    ``bound`` widens the corpus/batch slice for scale sweeps (the oracle
    pins the default 300; SCALE_VALIDATION.md round-11 records the 10x
    sweep at bound=3000)."""
    from mini_etl_project_spark.functions.vectors import dot_exact, sqnorm_exact
    from mini_etl_project_spark.operators.dedup import (
        banded_signatures,
        minhash_signatures,
        shingle_rows,
    )
    from mini_etl_project_spark.operators.similarity import RandomHyperplaneLSH

    # Barrier budget (VERDICT r11 ask #4): FOUR eager checkpoints —
    # base, surv, vecs, hits — down from round-11's seven. The cuts:
    # existing/incoming are lazy filters over ONE checkpointed base
    # (re-derivation is in-memory, never a parquet re-scan); qk's
    # checkpoint is gone so the keep-first window and the corpus exact
    # anti-join fuse on the shared k partitioning inside the surv job;
    # and the two probes' candidate builds land in ONE checkpointed
    # `hits` table (they are independent — both probe `surv` — with
    # stage precedence applied in the label step instead of a
    # sequential surv2 barrier between them).
    # Bounded lane, volume-pinned shuffle width (r13, guide §2.2): every
    # exchange below carries O(bound) rows — shingles, bands, buckets —
    # while the session constant (32) pays ~30 exchanges' worth of
    # per-partition fixed costs for data that fits in a couple of
    # partitions. Width follows the ACTUAL checkpointed input bytes
    # (grows with ``bound`` into the thousands at scale, cap 4096);
    # results are partitioning-independent (exact-decimal sums, ordered
    # band keys, keyed windows). Measured at sf0.1: 32→~7.0 s,
    # pinned(≤8)→~4.5 s for the full lane.
    from mini_etl_project_spark.session import eager_checkpoint_sized
    from mini_etl_project_spark.streaming.ops import (
        partitions_for_bytes,
        pinned_shuffle_partitions,
    )

    base, base_bytes = eager_checkpoint_sized(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < bound)
        .select(F.col("doc_id").alias("id"), "text")
    )
    # vecs checkpoint moved ahead of the exact-dedup stage (independent
    # legs — it only feeds the semantic probe) so its actual bytes join
    # the width signal before the first pinned job.
    vecs, vec_bytes = eager_checkpoint_sized(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < bound)
        .select("vec_id", "embedding")
    )
    # 64 KB of checkpointed input per partition, not the 512 KB streaming
    # default: the 5-gram shingle explosion multiplies these text bytes
    # ~10-20x into the band/verify exchanges, so the width must be sized
    # to the EXPANDED volume the shuffles actually carry.
    pin_width = partitions_for_bytes(
        base_bytes + vec_bytes, per_partition_bytes=64 << 10
    )
    existing = base.filter(F.col("id") % 3 != 0)
    inc0 = base.filter(F.col("id") % 3 == 0)
    incoming = (
        inc0.unionByName(
            existing.filter(F.col("id") % 7 == 1).select(
                (F.col("id") + 50000).alias("id"), "text"
            )
        )
        .unionByName(
            existing.filter(F.col("id") % 11 == 2).select(
                (F.col("id") + 60000).alias("id"),
                F.substring(F.col("text"), 21, 1 << 30).alias("text"),
            )
        )
        .unionByName(
            inc0.filter(F.col("id") % 13 == 3).select(
                (F.col("id") + 70000).alias("id"), "text"
            )
        )
    )

    # stage 1: quality gate (the X153 signals, recomputed on the batch
    # text — planted mutations must be re-scored, not read off columns)
    ok = (F.length(F.trim("text")) >= 80) & (
        (
            F.regexp_count("text", F.lit(r"[A-Za-z]{2,}")).cast("double")
            / F.greatest(F.regexp_count(F.trim("text"), F.lit(r"\S+")), F.lit(1))
        )
        >= 0.6
    )
    # NULL text => NULL gate: coalesce to a definite FALSE on BOTH
    # engines, else Spark's filter(ok)/filter(~ok) both drop the row
    # while the oracle CASE falls through to 'admitted' (ADVICE r11).
    q = incoming.select(
        "id", "text", F.coalesce(ok, F.lit(False)).alias("ok")
    )

    # stage 2+3: exact dedup — keep-first within batch, then vs corpus.
    # qk is lazy: its window partitions by k and the corpus anti-join
    # keys on k too, so inside the surv job the two stages share one
    # exchange; the s_batch/s_exact legs re-derive qk from the
    # checkpointed base (in-memory, batch-bounded).
    key = F.md5(F.lower(F.trim(F.col("text"))))
    qk = (
        q.filter(F.col("ok"))
        .select("id", "text", key.alias("k"))
        .withColumn(
            "rk", F.row_number().over(Window.partitionBy("k").orderBy("id"))
        )
    )
    # a NULL-text corpus doc has no exact-dedup key; left in, the
    # ORACLE's `k NOT IN (ek)` goes three-valued-NULL for every batch
    # row (emptying surv and admitting everything) while Spark's
    # left_anti handles NULL correctly — excluded explicitly on both
    # engines (r12 NULL audit).
    ek = (
        existing.filter(F.col("text").isNotNull())
        .select(key.alias("k"))
        .distinct()
    )
    s_batch = qk.filter(F.col("rk") > 1).select("id")
    first = qk.filter(F.col("rk") == 1)
    s_exact = first.join(ek, "k", "left_semi").select("id")
    with pinned_shuffle_partitions(spark, pin_width):
        surv = (
            first.join(ek, "k", "left_anti")
            .select("id", "text")
            .localCheckpoint(eager=True)
        )

    # stage 4: asymmetric MinHash/LSH probe vs corpus (the X227 lane:
    # existing bands x survivor bands only, exact Jaccard >= 0.5 verify)
    sh_e = shingle_rows(existing, "id", "text")
    sh_s = shingle_rows(surv, "id", "text")
    band_e = banded_signatures(minhash_signatures(sh_e)).select(
        "band", "band_key", F.col("id").alias("ex_id")
    )
    band_s = banded_signatures(minhash_signatures(sh_s)).select(
        "band", "band_key", F.col("id").alias("inc_id")
    )
    cand = (
        band_s.join(band_e, ["band", "band_key"])
        .select("inc_id", "ex_id")
        .distinct()
    )
    sizes_e = sh_e.groupBy("id").agg(F.count("*").alias("n_e"))
    sizes_s = sh_s.groupBy("id").agg(F.count("*").alias("n_s"))
    inter = (
        cand.join(sh_s.select(F.col("id").alias("inc_id"), "shingle"), "inc_id")
        .join(
            sh_e.select(F.col("id").alias("ex_id"), "shingle"),
            ["ex_id", "shingle"],
        )
        .groupBy("inc_id", "ex_id")
        .agg(F.count("*").alias("n_inter"))
    )
    near_raw = (
        inter.join(sizes_s.select(F.col("id").alias("inc_id"), "n_s"), "inc_id")
        .join(sizes_e.select(F.col("id").alias("ex_id"), "n_e"), "ex_id")
        .filter(
            F.col("n_inter").cast("double")
            / (F.col("n_s") + F.col("n_e") - F.col("n_inter"))
            >= 0.5
        )
        .select(F.col("inc_id").alias("id"))
        .distinct()
    )

    # stage 5: semantic probe vs corpus (the X378 lane, asymmetric:
    # exact-sign hyperplane buckets both sides, bucket-collision pairs
    # only, exact-decimal cosine >= tau; planted ids carry no embedding
    # so only original batch docs can hit this stage). The probe runs
    # over ALL exact-stage survivors — not the near-probe survivors —
    # so it is INDEPENDENT of stage 4 and the two candidate builds
    # share one checkpoint barrier below; the near-before-semantic
    # precedence moves to the label step, which yields the same
    # disposition for every doc (a doc in both sets labels near either
    # way; a doc only in the semantic set is by definition in surv2).
    v_inc = vecs.join(
        surv.select(F.col("id").alias("vec_id")), "vec_id"
    )
    v_ex = vecs.filter(F.col("vec_id") % 3 != 0)
    lsh = RandomHyperplaneLSH(dim=64, bits=4, tables=4)
    b_inc = lsh.add_buckets(v_inc, "embedding").select(
        "table", "bucket", F.col("vec_id").alias("inc_id")
    )
    b_ex = lsh.add_buckets(v_ex, "embedding").select(
        "table", "bucket", F.col("vec_id").alias("ex_id")
    )
    scand = (
        b_inc.join(b_ex, ["table", "bucket"])
        .select("inc_id", "ex_id")
        .distinct()
    )
    sides = vecs.select(
        "vec_id", "embedding", F.sqrt(sqnorm_exact("embedding")).alias("nm")
    )
    paired = scand.join(
        sides.select(
            F.col("vec_id").alias("inc_id"),
            F.col("embedding").alias("va"),
            F.col("nm").alias("na"),
        ),
        "inc_id",
    ).join(
        sides.select(
            F.col("vec_id").alias("ex_id"),
            F.col("embedding").alias("vb"),
            F.col("nm").alias("nb"),
        ),
        "ex_id",
    )
    sem_raw = (
        paired.filter(
            dot_exact("va", "vb") / (F.col("na") * F.col("nb")) >= _INGEST_TAU
        )
        .select(F.col("inc_id").alias("id"))
        .distinct()
    )

    def tag(df: DataFrame, label: str) -> DataFrame:
        return df.select("id", F.lit(label).alias("disposition"))

    # ONE barrier for both probes: the near and semantic candidate
    # builds are independent legs of this union, so Spark schedules
    # them concurrently inside a single checkpoint job.
    with pinned_shuffle_partitions(spark, pin_width):
        hits = (
            tag(near_raw, "dup_near_corpus")
            .unionByName(tag(sem_raw, "dup_semantic_corpus"))
            .localCheckpoint(eager=True)
        )
    near_ids = hits.filter(F.col("disposition") == "dup_near_corpus").select(
        "id"
    )
    # near-before-semantic precedence, applied at label time
    sem_ids = (
        hits.filter(F.col("disposition") == "dup_semantic_corpus")
        .select("id")
        .join(near_ids, "id", "left_anti")
    )
    admitted = surv.select("id").join(
        hits.select("id").distinct(), "id", "left_anti"
    )

    return (
        tag(q.filter(~F.col("ok")), "rejected_quality")
        .unionByName(tag(s_batch, "dup_exact_batch"))
        .unionByName(tag(s_exact, "dup_exact_corpus"))
        .unionByName(tag(near_ids, "dup_near_corpus"))
        .unionByName(tag(sem_ids, "dup_semantic_corpus"))
        .unionByName(tag(admitted, "admitted"))
        .select(F.col("id").alias("doc_id"), "disposition")
    )


# -- X518: rejection-sampling yield curve -----------------------------------
#
# The operational complement of X516: X513 tells you each prompt's
# best-of-n margin, X516 tells you what a margin is worth — this tells
# you WHAT A THRESHOLD COSTS. For each candidate acceptance threshold
# t (0..10000 cents, 1000-cent steps), the number and fraction (ppm)
# of prompts whose best-of-n margin clears t — the yield curve a
# pipeline owner reads to pick the rejection threshold that hits a
# target corpus size. Prompts with a single candidate have no margin
# and are excluded (mirrors X513's NULL margin).
#
# Plan: the X513 window+groupBy builds the |prompts|-bounded margin
# table once; the 11-threshold sweep is an explode over that bounded
# table + one keyed agg. Yield fractions are exact integer ppm
# (DIV on non-negatives). Monotone non-increasing in t by construction
# — pinned in tests/test_round11.py.

_BON_YIELD_ORACLE = """
WITH c AS (
  SELECT user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC,
                                     event_id) AS rn
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 1 THEN cents END)
           - MAX(CASE WHEN rn = 2 THEN cents END) AS margin
  FROM c GROUP BY user_id
  HAVING COUNT(*) >= 2),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m)
SELECT CAST(t.t AS BIGINT) AS threshold_cents,
       CAST(COUNT(CASE WHEN m.margin >= t.t THEN 1 END) AS BIGINT)
         AS n_accepted,
       tot.n AS n_prompts,
       CAST(COUNT(CASE WHEN m.margin >= t.t THEN 1 END) * 1000000 // tot.n
            AS BIGINT) AS yield_ppm
FROM m, tot, unnest(generate_series(0, 10000, 1000)) t(t)
GROUP BY t.t, tot.n
"""


@query("q_corpus_bon_yield", _BON_YIELD_ORACLE)
def q_corpus_bon_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X518: yield curve of best-of-n rejection sampling over acceptance
    thresholds (see the module comment above the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy(
        F.col("cents").desc(), F.col("event_id").asc()
    )
    # NULL rewards carry no margin information: without this filter a
    # NULL second-ranked cents yields a NULL margin that still counts in
    # n_prompts (COUNT(*) >= 2 counts NULL rows), breaking the t=0
    # yield == 100% anchor — same pin as X514/X519 (ADVICE r11).
    c = (
        ev.filter(F.col("value").isNotNull())
        .select("user_id", "event_id", cents.alias("cents"))
        .withColumn("rn", F.row_number().over(w))
    )
    m = (
        c.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            (
                F.max(F.when(F.col("rn") == 1, F.col("cents")))
                - F.max(F.when(F.col("rn") == 2, F.col("cents")))
            ).alias("margin"),
        )
        .filter(F.col("n_cand") >= 2)
        .select("margin")
        # |prompts|-bounded margin table, consumed by the total AND the
        # threshold sweep — checkpoint so the fact scan runs once
        .localCheckpoint(eager=True)
    )
    tot = m.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    thresholds = F.explode(
        F.sequence(F.lit(0), F.lit(10000), F.lit(1000))
    ).alias("threshold_cents")
    return (
        m.select(thresholds, "margin")
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("threshold_cents").cast("bigint").alias("threshold_cents"), "n")
        .agg(
            F.count(F.when(F.col("margin") >= F.col("threshold_cents"), 1))
            .cast("bigint")
            .alias("n_accepted")
        )
        .select(
            "threshold_cents",
            "n_accepted",
            F.col("n").alias("n_prompts"),
            F.expr("n_accepted * 1000000 DIV n").cast("bigint").alias(
                "yield_ppm"
            ),
        )
    )


# -- X519: KTO binary-signal construction -----------------------------------
#
# Completes the post-training selection lane (X513 best-of-n, X514 DPO
# pairs, X515 GRPO z, X516 calibration, X518 yield): KTO-style training
# consumes per-candidate BINARY desirable/undesirable labels rather
# than pairs — here each candidate is labeled against its own prompt
# group's EXACT median reward (the standard unpaired construction).
# The median is exact-integer arithmetic: median_x2 = the sum of the
# two middle order statistics (equal for odd n, so x2 keeps .5-valued
# even-n medians in integers), and a candidate is desirable iff
# 2·cents > median_x2 (strict; exact ties are neither). Output is the
# per-prompt label book: counts of each class, the median (x2), and
# the desirable share in exact ppm among labeled candidates.
#
# Plan: ONE window shuffle on the prompt key (rank + count ride the
# same partitioning), the label groupBy rides it too. Output bounded
# by |prompts|. Invariants (median order-statistics: at most half the
# group strictly above, at most half strictly below) are pinned with a
# plain-Python recomputation in tests/test_round11.py.

_KTO_ORACLE = """
WITH c AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT user_id, cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM c),
m AS (
  SELECT user_id,
         CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cents END)
              + SUM(CASE WHEN rn = n // 2 + 1 THEN cents END)
              AS BIGINT) AS median_x2
  FROM r GROUP BY user_id),
lab AS (
  SELECT r.user_id, m.n, m.median_x2,
         CASE WHEN 2 * r.cents > m.median_x2 THEN 1 ELSE 0 END AS des,
         CASE WHEN 2 * r.cents < m.median_x2 THEN 1 ELSE 0 END AS und
  FROM r JOIN m USING (user_id))
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n_candidates,
       MAX(median_x2) AS median_cents_x2,
       CAST(SUM(des) AS BIGINT) AS n_desirable,
       CAST(SUM(und) AS BIGINT) AS n_undesirable,
       CAST(MAX(n) - SUM(des) - SUM(und) AS BIGINT) AS n_tie,
       CAST(SUM(des) * 1000000 // GREATEST(SUM(des) + SUM(und), 1)
            AS BIGINT) AS desirable_ppm
FROM lab GROUP BY user_id
"""


@query("q_corpus_kto_labels", _KTO_ORACLE)
def q_corpus_kto_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X519: KTO binary-signal label book (see the module comment above
    the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    wp = Window.partitionBy("user_id")
    wo = wp.orderBy(F.col("cents").asc(), F.col("event_id").asc())
    r = c.select(
        "user_id",
        "cents",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    # median as window aggregates over the SAME prompt partitioning — a
    # second window stage over the ranked rows (no groupBy + re-join;
    # the X515 lesson: one scan, one exchange). The two conditional sums
    # pick the middle order statistics ((n+1) DIV 2 and n DIV 2 + 1,
    # equal for odd n, so their sum is exactly median*2).
    median_x2 = (
        F.sum(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents"))
        ).over(wp)
        + F.sum(
            F.when(F.col("rn") == F.expr("n DIV 2 + 1"), F.col("cents"))
        ).over(wp)
    ).cast("bigint")
    lab = r.withColumn("median_x2", median_x2).select(
        "user_id",
        "n",
        "median_x2",
        (2 * F.col("cents") > F.col("median_x2")).cast("long").alias("des"),
        (2 * F.col("cents") < F.col("median_x2")).cast("long").alias("und"),
    )
    return lab.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n_candidates"),
        F.max("median_x2").alias("median_cents_x2"),
        F.sum("des").cast("bigint").alias("n_desirable"),
        F.sum("und").cast("bigint").alias("n_undesirable"),
        (F.max("n") - F.sum("des") - F.sum("und"))
        .cast("bigint")
        .alias("n_tie"),
        F.expr(
            "SUM(des) * 1000000 DIV GREATEST(SUM(des) + SUM(und), 1)"
        )
        .cast("bigint")
        .alias("desirable_ppm"),
    )


# -- X520: multi-turn preference assembly ------------------------------------
#
# VERDICT r11 ask #5. X508 assembles whole transcripts; X513/X514/X519
# select over SINGLE-turn candidate groups. The missing post-training
# shape is per-turn preference extraction over multi-turn transcripts:
# at each assistant turn of a conversation, the sampled assistant
# candidates form that turn's preference group, and a (chosen,
# rejected) pair is extracted with the X514 struct-extremum machinery.
#
# Construction (the X508 conversation model on events):
# - A conversation is a user_id's event stream ordered by (ts,
#   event_id) — ties on ts pinned by event_id, the house rule; the ts
#   order key is EXPLICITLY NULLS LAST on both engines (this query is
#   born NULL-hardened: the r12 audit class is pinned by construction,
#   not by the accident of NULL-free fixtures).
# - Turn boundaries are user-role events (X508's role mapping:
#   click/view = user, anything else — including NULL event_type, which
#   both engines' CASE/otherwise send the same way = assistant). The
#   turn id of a row is the running count of user-role events up to and
#   including it, so assistant rows between consecutive user turns
#   share that turn id (turn 0 = assistant rows before any user turn).
#   Turn counting sees ALL events; only CANDIDATE selection drops
#   assistant rows with NULL rewards (a turn boundary with a NULL
#   reward still bounds the turn).
# - Per (conversation, turn): (chosen, rejected) = (argmax, argmin) by
#   reward cents, X514 tie-breaks (chosen ties to smaller event_id via
#   the negated-id struct member, rejected ties to smaller event_id
#   directly), >= 2 candidates and strictly positive gap required.
#
# Plan: ONE keyed shuffle — the turn-counting window partitions by
# user_id, and the (user_id, turn) groupBy rides the same hash
# partitioning (user_id is a subset of the grouping key, so
# EnsureRequirements inserts no second exchange; the X519 lane).
# Output bounded by the number of assistant turns.

_TURN_PREF_ORACLE = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('click', 'view') THEN 'user'
              ELSE 'assistant' END AS role,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
w AS (
  SELECT user_id, event_id, role, cents,
         COUNT(CASE WHEN role = 'user' THEN 1 END)
           OVER (PARTITION BY user_id
                 ORDER BY ts ASC NULLS LAST, event_id
                 ROWS UNBOUNDED PRECEDING) AS turn
  FROM t),
a AS (
  SELECT user_id, CAST(turn AS BIGINT) AS turn, event_id, cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, turn
                            ORDER BY cents DESC, event_id) AS rn_hi,
         ROW_NUMBER() OVER (PARTITION BY user_id, turn
                            ORDER BY cents ASC, event_id) AS rn_lo
  FROM w WHERE role = 'assistant' AND cents IS NOT NULL),
p AS (
  SELECT user_id, turn,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         MAX(CASE WHEN rn_hi = 1 THEN event_id END) AS chosen_event_id,
         MAX(CASE WHEN rn_hi = 1 THEN cents END) AS chosen_cents,
         MAX(CASE WHEN rn_lo = 1 THEN event_id END) AS rejected_event_id,
         MAX(CASE WHEN rn_lo = 1 THEN cents END) AS rejected_cents
  FROM a GROUP BY user_id, turn)
SELECT user_id, turn, n_candidates, chosen_event_id, chosen_cents,
       rejected_event_id, rejected_cents,
       chosen_cents - rejected_cents AS gap_cents
FROM p
WHERE n_candidates >= 2 AND chosen_cents - rejected_cents >= 1
"""


@query("q_corpus_turn_preferences", _TURN_PREF_ORACLE)
def q_corpus_turn_preferences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X520: per-turn preference pairs over multi-turn transcripts (see
    the module comment above the oracle). One keyed shuffle; output
    bounded by assistant turns; plain-Python recompute pinned in
    tests/test_round12.py."""
    ev = load_table(spark, sf_dir, "events")
    role = F.when(
        F.col("event_type").isin("click", "view"), F.lit("user")
    ).otherwise(F.lit("assistant"))
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        role.alias("role"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w_turn = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    turns = t.withColumn(
        "turn",
        F.count(F.when(F.col("role") == "user", 1)).over(w_turn).cast("bigint"),
    )
    a = turns.filter(
        (F.col("role") == "assistant") & F.col("cents").isNotNull()
    )
    # X514 struct extrema: max ties to smallest event_id via negated id,
    # min ties to smallest event_id directly; cents are non-NULL here so
    # the Spark-NULLS-FIRST / DuckDB-NULLS-LAST struct convention cannot
    # bite (the r11 ADVICE class, pinned by the filter above).
    hi = F.max(F.struct(F.col("cents"), (-F.col("event_id")).alias("nid")))
    lo = F.min(F.struct(F.col("cents"), F.col("event_id").alias("pid")))
    p = a.groupBy("user_id", "turn").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        hi.alias("hi"),
        lo.alias("lo"),
    )
    return (
        p.select(
            "user_id",
            "turn",
            "n_candidates",
            (-F.col("hi.nid")).alias("chosen_event_id"),
            F.col("hi.cents").alias("chosen_cents"),
            F.col("lo.pid").alias("rejected_event_id"),
            F.col("lo.cents").alias("rejected_cents"),
            (F.col("hi.cents") - F.col("lo.cents")).alias("gap_cents"),
        )
        .filter((F.col("n_candidates") >= 2) & (F.col("gap_cents") >= 1))
    )


# -- X522 context-window packing (greedy sequential fill) ------------------------
#
# The SFT sequence-packing op: walk each (lang, source) shard's documents
# in doc_id order and fill training sequences of at most PACK_BUDGET
# tokens — a new pack starts exactly when the incoming document would
# overflow the running total (an oversized document gets a pack of its
# own and the NEXT document always starts fresh). The running total
# resets to a value that depends on itself, so no window frame expresses
# it — this is the canonical per-key sequential operator (same class as
# q_udf_debounce), run as applyInPandas: one shuffle on the shard key,
# each shard's walk a bounded Arrow batch, shards fan out across the
# cluster. At 100 TB you add a coarser shard axis (e.g. a hash block) to
# bound batch size — the packing semantics are per-shard either way.
# The oracle replays the identical recurrence with a recursive CTE
# stepping each shard's row_number sequence. NULL-hardened from birth:
# text/lang/source IS NOT NULL on both engines (a NULL shard key would
# vanish at the recursive join; a NULL text has no token count).
# Output: one row per pack — bounded by ceil(corpus_tokens / budget).

PACK_BUDGET = 256

_PACKING_ORACLE = f"""
WITH RECURSIVE d AS (
  SELECT lang, source, doc_id,
         CAST(LEN({_TOKS9}) AS BIGINT) AS n_tok,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY doc_id) AS rn
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
chain AS (
  SELECT lang, source, doc_id, rn, n_tok,
         1 AS pack_id, n_tok AS running
  FROM d WHERE rn = 1
  UNION ALL
  SELECT s.lang, s.source, s.doc_id, s.rn, s.n_tok,
         CASE WHEN c.running + s.n_tok > {PACK_BUDGET}
              THEN c.pack_id + 1 ELSE c.pack_id END,
         CASE WHEN c.running + s.n_tok > {PACK_BUDGET}
              THEN s.n_tok ELSE c.running + s.n_tok END
  FROM chain c
  JOIN d s ON s.lang = c.lang AND s.source = c.source
          AND s.rn = c.rn + 1)
SELECT lang, source, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       CAST(SUM(n_tok) * 1000000 // {PACK_BUDGET} AS BIGINT) AS fill_ppm,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM chain GROUP BY lang, source, pack_id
"""


@query("q_corpus_pack_sequences", _PACKING_ORACLE)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        toks = pdf["n_tok"].to_numpy()
        docs = pdf["doc_id"].to_numpy()
        out: dict[int, list] = {}
        pack_id, running = 0, None
        for d_id, t in zip(docs, toks):
            if running is None or running + t > PACK_BUDGET:
                pack_id += 1
                running = int(t)
                out[pack_id] = [1, int(t), int(d_id), int(d_id)]
            else:
                running += int(t)
                row = out[pack_id]
                row[0] += 1
                row[1] += int(t)
                row[3] = int(d_id)
        return pd.DataFrame(
            {
                "lang": pdf["lang"].iloc[0],
                "source": pdf["source"].iloc[0],
                "pack_id": list(out),
                "n_docs": [v[0] for v in out.values()],
                "pack_tokens": [v[1] for v in out.values()],
                "fill_ppm": [
                    v[1] * 1000000 // PACK_BUDGET for v in out.values()
                ],
                "first_doc": [v[2] for v in out.values()],
                "last_doc": [v[3] for v in out.values()],
            }
        )

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & F.col("lang").isNotNull()
            & F.col("source").isNotNull()
        )
        .select(
            "lang",
            "source",
            "doc_id",
            F.size(
                F.filter(tokens("text"), lambda t: t != "")
            ).cast("bigint").alias("n_tok"),
        )
    )
    return d.groupBy("lang", "source").applyInPandas(
        pack,
        "lang string, source string, pack_id bigint, n_docs bigint, "
        "pack_tokens bigint, fill_ppm bigint, first_doc bigint, "
        "last_doc bigint",
    )


# -- X523 BPE merge-pair statistics (tokenizer fit) -------------------------------
#
# The first step of fitting a BPE tokenizer to a corpus: count every
# adjacent character pair across all word occurrences (the statistic one
# BPE merge iteration maximizes) and report the top-20 merge candidates
# with exact counts. Scale shape: the word-frequency aggregate collapses
# the corpus to its VOCABULARY before any pair work (the classic BPE
# trick — pair counts per distinct word × word frequency), so the pair
# explosion runs over the bounded vocab, not the corpus; two keyed
# shuffles (word count, pair aggregate) + one 20-row rank. Pure built-in
# expressions both engines (sequence/transform + substring — no UDF).
# "aaa" contributes the pair "aa" twice per occurrence: positions count,
# not distinct pairs. Deterministic top-20 by (count DESC, pair).

_BPE_TOPK = 20

_BPE_PAIRS_ORACLE = f"""
WITH words AS (
  SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT UNNEST({_TOKS9}) AS w FROM documents
        WHERE text IS NOT NULL) u
  GROUP BY u.w),
pairs AS (
  SELECT substr(w, p.i, 2) AS pair,
         CAST(SUM(cnt) AS BIGINT) AS occ,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
  FROM words, unnest(generate_series(1, LEN(w) - 1)) p(i)
  WHERE LEN(w) >= 2
  GROUP BY 1),
ranked AS (
  SELECT pair, occ, n_words,
         ROW_NUMBER() OVER (ORDER BY occ DESC, pair) AS rnk
  FROM pairs)
SELECT pair, occ, n_words, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_BPE_TOPK}
"""


@query("q_corpus_bpe_pairs", _BPE_PAIRS_ORACLE)
def q_corpus_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = (
        d.select(
            F.explode(
                F.filter(tokens("text"), lambda t: t != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            "w",
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(
            F.sum("cnt").cast("bigint").alias("occ"),
            F.count_distinct("w").cast("bigint").alias("n_words"),
        )
    )
    wr = Window.orderBy(F.desc("occ"), "pair")
    return (
        pairs.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= _BPE_TOPK)
        .select("pair", "occ", "n_words", "rnk")
    )


# -- X524 per-turn reward-to-go (credit assignment) -------------------------------
#
# The credit-assignment primitive downstream of X520: for each assistant
# turn of a multi-turn transcript, the undiscounted return-to-go — the
# sum of that turn's pooled reward and every later turn's (what RLOO /
# return-conditioned training feeds per decision point). Turn structure
# is the X508/X520 conversation model (user-role events bound the
# turns; explicit NULLS-LAST ts order on both engines); rewards pool
# per turn (all sampled candidates at that turn contribute). Plan
# shape: the turn-counting window, the per-turn pooling groupBy, and
# the suffix-sum window ALL key on user_id — one shuffle end to end
# (plan-asserted in tests/test_round12.py). Output bounded by turns.
# NULL rewards are excluded at the candidate level (X514/X520
# convention); turns whose every candidate is NULL still appear with
# zero pooled reward only if at least one non-NULL candidate exists —
# i.e. they don't appear at all, keeping the turn table reward-backed.

_TURN_TOGO_ORACLE = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('click', 'view') THEN 'user'
              ELSE 'assistant' END AS role,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
w AS (
  SELECT user_id, event_id, role, cents,
         COUNT(CASE WHEN role = 'user' THEN 1 END)
           OVER (PARTITION BY user_id
                 ORDER BY ts ASC NULLS LAST, event_id
                 ROWS UNBOUNDED PRECEDING) AS turn
  FROM t),
pooled AS (
  SELECT user_id, CAST(turn AS BIGINT) AS turn,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(cents) AS BIGINT) AS turn_cents
  FROM w WHERE role = 'assistant' AND cents IS NOT NULL
  GROUP BY user_id, turn),
togo AS (
  SELECT user_id, turn, n_candidates, turn_cents,
         CAST(SUM(turn_cents) OVER (
           PARTITION BY user_id ORDER BY turn
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS BIGINT) AS togo_cents,
         CAST(COUNT(*) OVER (
           PARTITION BY user_id ORDER BY turn
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          AS BIGINT) AS n_turns_after
  FROM pooled)
SELECT user_id, turn, n_candidates, turn_cents, togo_cents, n_turns_after
FROM togo
"""


@query("q_corpus_turn_reward_togo", _TURN_TOGO_ORACLE)
def q_corpus_turn_reward_togo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    role = F.when(
        F.col("event_type").isin("click", "view"), F.lit("user")
    ).otherwise(F.lit("assistant"))
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        role.alias("role"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # X520's turn convention verbatim: NULL ts turns sort LAST on both
    # engines (explicit NULLS LAST in the oracle; asc_nulls_last here)
    w_turn = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    turns = t.withColumn(
        "turn",
        F.count(F.when(F.col("role") == "user", 1)).over(w_turn).cast(
            "bigint"
        ),
    )
    pooled = (
        turns.filter(
            (F.col("role") == "assistant") & F.col("cents").isNotNull()
        )
        .groupBy("user_id", "turn")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("cents").cast("bigint").alias("turn_cents"),
        )
    )
    w_togo = Window.partitionBy("user_id").orderBy("turn")
    return pooled.select(
        "user_id",
        "turn",
        "n_candidates",
        "turn_cents",
        F.sum("turn_cents")
        .over(w_togo.rowsBetween(0, Window.unboundedFollowing))
        .cast("bigint")
        .alias("togo_cents"),
        F.count(F.lit(1))
        .over(w_togo.rowsBetween(1, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n_turns_after"),
    )
