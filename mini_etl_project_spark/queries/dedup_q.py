"""Deduplication queries over ``documents`` (X1, X2) — the full
MinHash+LSH pipeline AND SimHash, both fully oracle-checked (every hash is
md5-derived, so DuckDB reproduces signatures, bands, candidates, and
verified pairs bit-for-bit).

The corpus has no strong natural near-dups (max 5-gram Jaccard ≈ 0.3 —
measured), so the LSH query PLANTS deterministic near-duplicates: each doc
with id < 150 gets a copy (id + 10000) with its first 20 characters
removed. Both engines build the identical planted corpus; the check then
covers recall mechanics end-to-end, not just empty-set agreement.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.dedup import (
    banded_signatures,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_rows,
    simhash,
)
from mini_etl_project_spark.queries import query
from mini_etl_project_spark.session import load_table

# -- X1 exact dedup on a normalization key ---------------------------------

_EXACT_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source,
         md5(lower(trim(text))) AS text_key
  FROM documents),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY text_key ORDER BY doc_id) AS rn
  FROM keyed)
SELECT COUNT(*) AS n_docs,
       COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_unique,
       COUNT(CASE WHEN rn > 1 THEN 1 END) AS n_dropped
FROM ranked
"""


@query("q_dedup_exact", _EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("text_key").orderBy("doc_id")
    ranked = d.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("text_key")
    ).withColumn("rn", F.row_number().over(w))
    return ranked.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_unique"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dropped"),
    )


# -- X2 MinHash + LSH banding + exact-Jaccard verification -----------------

_HASH64 = (
    "CAST(('0x' || substr(md5(CAST({seed} AS VARCHAR) || ':' || {v}), 1, 15)) "
    "AS BIGINT)"
)

_MINHASH_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 10000 AS id, substring(text, 21) AS text
  FROM documents WHERE doc_id < 150),
sh AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM corpus),
hashes AS (
  SELECT id, seed.s AS seed,
         {_HASH64.format(seed='seed.s', v='shingle')} AS h
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS s) seed),
sig AS (SELECT id, seed, MIN(h) AS minhash FROM hashes GROUP BY id, seed),
banded AS (
  SELECT id, CAST(FLOOR(seed / 4) AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY id, CAST(FLOOR(seed / 4) AS INT)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b,
       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
"""


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    orig = d.select(F.col("doc_id").alias("id"), "text")
    mutated = d.select(
        (F.col("doc_id") + 10000).alias("id"),
        F.substring(F.col("text"), 21, 1 << 30).alias("text"),
    )
    return orig.unionByName(mutated)


@query("q_dedup_minhash_lsh", _MINHASH_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    sh = shingle_rows(corpus, "id", "text", k=5)
    sig = minhash_signatures(sh, num_hashes=16)
    cand = lsh_candidate_pairs(sig, rows_per_band=4)
    return jaccard_pairs(sh, candidates=cand, threshold=0.5)


# -- X2 SimHash fingerprints ----------------------------------------------

_SIMHASH_BITS = 32


def _simhash_oracle() -> str:
    h = _HASH64.format(seed="0", v="tok")
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents),
hashed AS (SELECT id, {h} AS h FROM toks),
bits AS (
  SELECT id, {bit_sums}
  FROM hashed GROUP BY id)
SELECT id, {fp} AS simhash FROM bits
"""


@query("q_dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=_SIMHASH_BITS)


# -- X2 SimHash near-dup pairs on the planted corpus (Hamming ≤ 6) ---------

_SIMHASH_PAIRS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 10000 AS id, substring(text, 21) AS text
  FROM documents WHERE doc_id < 150),
toks AS (
  SELECT id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM corpus),
hashed AS (SELECT id, {_HASH64.format(seed="0", v="tok")} AS h FROM toks),
bits AS (
  SELECT id,
         {", ".join(f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(_SIMHASH_BITS))}
  FROM hashed GROUP BY id),
fp AS (
  SELECT id,
         {" + ".join(f"(CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)" for j in range(_SIMHASH_BITS))}
           AS simhash
  FROM bits)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


@query("q_dedup_simhash_pairs", _SIMHASH_PAIRS_ORACLE)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    fp = simhash(corpus, "id", "text", bits=_SIMHASH_BITS)
    a = fp.select(F.col("id").alias("id_a"), F.col("simhash").alias("fp_a"))
    b = fp.select(F.col("id").alias("id_b"), F.col("simhash").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


# -- X2 exact set-similarity self-join via prefix filtering (AllPairs) -----
#
# The oracle is BRUTE FORCE (all pairs sharing >= 1 shingle, no filter):
# the prefix+length filters must be lossless, so the filtered Spark plan
# has to reproduce the unfiltered ground truth exactly.

_PREFIX_JOIN_ORACLE = """
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 10000 AS id, substring(text, 21) AS text
  FROM documents WHERE doc_id < 150),
sh AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM corpus),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b,
       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
"""


@query("q_dedup_prefix_join", _PREFIX_JOIN_ORACLE)
def q_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.dedup import prefix_filter_pairs

    corpus = _planted_corpus(spark, sf_dir)
    sh = shingle_rows(corpus, "id", "text", k=5)
    cand = prefix_filter_pairs(sh, threshold=0.5)
    return jaccard_pairs(sh, candidates=cand, threshold=0.5)


# -- URL canonicalization dedup ---------------------------------------------
#
# Web-crawl dedup's first line of defense: two syntactic variants of the
# same resource (case-shifted scheme/host, tracking params, fragments,
# unordered query strings) must collapse to ONE canonical key before any
# content hashing. Canonicalization is a stateless expression chain —
# lowercase scheme+host, drop the fragment, strip utm_* params, sort the
# survivors — so the dedup is a single keyed groupBy at any scale. The
# messy variants are built deterministically from the part table (two
# per part), and the oracle re-derives the same canonical form in SQL:
# the collapse 2->1 per part is the property under test.

_URL_CANON_ORACLE = """
WITH variants AS (
  SELECT p_partkey, 0 AS variant,
         'https://shop.example.com/p/' || p_partkey || '?color='
           || lower(split_part(p_name, ' ', 1)) AS url
  FROM part
  UNION ALL
  SELECT p_partkey, 1,
         'HTTPS://Shop.Example.COM/p/' || p_partkey
           || '?utm_source=mail&color=' || lower(split_part(p_name, ' ', 1))
           || '&utm_campaign=x#frag'
  FROM part),
parsed AS (
  SELECT p_partkey, variant,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM variants),
split_q AS (
  SELECT p_partkey, variant,
         regexp_extract(nofrag, '^([^?]*)', 1) AS base,
         regexp_extract(nofrag, '\\?(.*)$', 1) AS q
  FROM parsed),
canon AS (
  SELECT p_partkey, variant,
         lower(regexp_extract(base, '^([a-zA-Z]+://[^/]*)', 1))
           || substr(base,
                     length(regexp_extract(base, '^([a-zA-Z]+://[^/]*)', 1))
                     + 1)
           || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url
  FROM (
    SELECT *, array_to_string(
                list_sort(list_filter(string_split(q, '&'),
                                      x -> x NOT LIKE 'utm_%')), '&') AS cq
    FROM split_q))
SELECT canon_url, COUNT(*) AS n_variants,
       CAST(MIN(variant) AS INT) AS kept_variant
FROM canon GROUP BY canon_url
"""


@query("q_dedup_url_canonical", _URL_CANON_ORACLE)
def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    color = F.lower(F.split_part("p_name", F.lit(" "), F.lit(1)))
    clean = F.concat(
        F.lit("https://shop.example.com/p/"),
        F.col("p_partkey").cast("string"),
        F.lit("?color="),
        color,
    )
    messy = F.concat(
        F.lit("HTTPS://Shop.Example.COM/p/"),
        F.col("p_partkey").cast("string"),
        F.lit("?utm_source=mail&color="),
        color,
        F.lit("&utm_campaign=x#frag"),
    )
    variants = p.select(
        "p_partkey", F.lit(0).alias("variant"), clean.alias("url")
    ).unionByName(
        p.select("p_partkey", F.lit(1).alias("variant"), messy.alias("url"))
    )
    nofrag = F.regexp_replace("url", r"#.*$", "")
    parsed = variants.select(
        "p_partkey", "variant", nofrag.alias("nofrag")
    ).select(
        "p_partkey",
        "variant",
        F.regexp_extract("nofrag", r"^([^?]*)", 1).alias("base"),
        F.regexp_extract("nofrag", r"\?(.*)$", 1).alias("q"),
    )
    hostp = F.regexp_extract("base", r"^([a-zA-Z]+://[^/]*)", 1)
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split("q", "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = parsed.select(
        "p_partkey",
        "variant",
        F.concat(
            F.lower(hostp),
            F.expr(
                "substr(base,"
                " length(regexp_extract(base, '^([a-zA-Z]+://[^/]*)', 1))"
                " + 1)"
            ),
            F.when(cq == "", F.lit("")).otherwise(F.concat(F.lit("?"), cq)),
        ).alias("canon_url"),
    )
    return canon.groupBy("canon_url").agg(
        F.count("*").alias("n_variants"),
        F.min("variant").cast("int").alias("kept_variant"),
    )


# -- Duplicate-cluster size distribution ------------------------------------
#
# The dedup diagnostic a corpus owner reads first: group documents by
# exact content hash, and report how many clusters exist of each size
# plus how many rows deduplication would remove. Two keyed aggregations;
# the histogram is bounded by the max cluster size.

_DUP_CLUSTER_ORACLE = f"""
WITH corpus AS (
  SELECT text FROM documents
  UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0
  UNION ALL SELECT text FROM documents WHERE doc_id % 21 = 0),
clusters AS (
  SELECT md5(text) AS h, COUNT(*) AS sz
  FROM corpus GROUP BY md5(text))
SELECT sz AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz - 1) AS BIGINT) AS n_removable
FROM clusters GROUP BY sz
"""


@query("q_dedup_cluster_stats", _DUP_CLUSTER_ORACLE)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.select("text")
        .unionAll(d.filter(F.col("doc_id") % 7 == 0).select("text"))
        .unionAll(d.filter(F.col("doc_id") % 21 == 0).select("text"))
    )
    clusters = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("sz")
    )
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
    )


# -- Cross-document duplicated-substring spans (ExactSubstr-style) ----------
#
# The training-data dedup insight behind suffix-array ExactSubstr
# (Lee et al., "Deduplicating Training Data Makes Language Models
# Better"), reshaped for a distributed engine: every 40-char gram of
# every document, hashed; grams appearing in >= 2 DISTINCT documents
# mark duplicated spans [pos, pos+39]; per document, overlapping spans
# merge via the keyed island pattern (lag + running max of span end) and
# the query reports how much of each document is covered by cross-doc
# duplicated text. Explode is linear in corpus chars; everything after
# is keyed by gram hash or doc — no pairwise comparisons anywhere.

_SUBSTR_L = 40

_SUBSTR_SPANS_ORACLE = f"""
WITH docs AS (SELECT doc_id, text, len(text) AS n FROM documents),
sh AS (
  SELECT doc_id, n, g.p AS pos,
         md5(substr(text, g.p, {_SUBSTR_L})) AS h
  FROM docs, LATERAL unnest(generate_series(1, n - {_SUBSTR_L - 1})) g(p)
  WHERE n >= {_SUBSTR_L}),
dup AS (
  SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
marks AS (
  SELECT s.doc_id, s.n, s.pos,
         s.pos + {_SUBSTR_L - 1} AS fin
  FROM sh s JOIN dup ON s.h = dup.h),
islands AS (
  SELECT doc_id, n, pos, fin,
         CASE WHEN pos > COALESCE(MAX(fin) OVER (
                PARTITION BY doc_id ORDER BY pos, fin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS is_new
  FROM marks),
grp AS (
  SELECT doc_id, n, pos, fin,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos, fin
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM islands),
merged AS (
  SELECT doc_id, MAX(n) AS n, island,
         MIN(pos) AS s, MAX(fin) AS e
  FROM grp GROUP BY doc_id, island)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
       CAST(SUM(e - s + 1) AS DOUBLE) / MAX(n) AS dup_frac
FROM merged GROUP BY doc_id
"""


@query("q_dedup_substring_spans", _SUBSTR_SPANS_ORACLE)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", "text", F.length("text").alias("n")).filter(
        F.col("n") >= _SUBSTR_L
    )
    sh = docs.select(
        "doc_id",
        "n",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n - {_SUBSTR_L - 1}),"
                f" p -> md5(substr(text, p, {_SUBSTR_L})))"
            )
        ).alias("pos0", "h"),
    ).select(
        "doc_id", "n", (F.col("pos0") + 1).alias("pos"), "h"
    )
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    marks = sh.join(dup, "h").select(
        "doc_id", "n", "pos", (F.col("pos") + _SUBSTR_L - 1).alias("fin")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "fin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "fin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marks.withColumn(
        "is_new",
        F.when(
            F.col("pos")
            > F.coalesce(F.max("fin").over(w_prev), F.lit(0)) + 1,
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("is_new").over(w_run))
    merged = islands.groupBy("doc_id", "island").agg(
        F.max("n").alias("n"), F.min("pos").alias("s"), F.max("fin").alias("e")
    )
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_chars"),
        (
            F.sum(F.col("e") - F.col("s") + 1).cast("double") / F.max("n")
        ).alias("dup_frac"),
    )


# -- X177 shingle containment join (sub-document duplication) --------------
#
# Containment C(A,B) = |A∩B| / |A| is the asymmetric cousin of Jaccard:
# it catches a document EMBEDDED in another (quotes, boilerplate
# wrappers, truncated reposts) that resemblance misses when sizes
# differ.  Candidates come from RARE-SHINGLE BLOCKING — only shingles
# with document frequency ≤ 5 generate pairs, so the self-join fan-out
# is bounded by df² per rare shingle instead of corpus² (hot shingles
# like common words never explode); the planted truncated copies share
# almost all their (df=2) shingles, so recall on the true pairs is
# intact.  Exact intersection sizes then come from one array_intersect
# per surviving pair.  Both containment directions output in exact
# milli-units.

_CONTAIN_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 10000 AS id, substring(text, 21) AS text
  FROM documents WHERE doc_id < 150),
sh AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM corpus),
dfreq AS (
  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
rare AS (SELECT shingle FROM dfreq WHERE df <= 5),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a
  JOIN rare r ON r.shingle = a.shingle
  JOIN sh b ON b.shingle = a.shingle AND a.id < b.id),
sets AS (
  SELECT id, list(shingle) AS shset, COUNT(*) AS n
  FROM sh GROUP BY id),
pairs AS (
  SELECT c.id_a, c.id_b, sa.n AS n_a, sb.n AS n_b,
         CAST(len(list_intersect(sa.shset, sb.shset)) AS BIGINT) AS inter
  FROM cand c
  JOIN sets sa ON sa.id = c.id_a
  JOIN sets sb ON sb.id = c.id_b)
SELECT id_a, id_b, n_a, n_b, inter,
       inter * 1000 // n_a AS cont_a_milli,
       inter * 1000 // n_b AS cont_b_milli
FROM pairs
WHERE inter * 1000 >= 500 * LEAST(n_a, n_b)
"""


@query("q_dedup_containment", _CONTAIN_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    sh = shingle_rows(corpus, "id", "text", k=5)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 5)
        .select("shingle")
    )
    a = sh.join(rare, "shingle").select(
        F.col("id").alias("id_a"), "shingle"
    )
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy("id").agg(
        F.collect_set("shingle").alias("shset"), F.count("*").alias("n")
    )
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("shset").alias("set_a"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("shset").alias("set_b"),
        F.col("n").alias("n_b"),
    )
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("bigint")
            .alias("inter"),
        )
    )
    return pairs.filter(
        F.col("inter") * 1000 >= 500 * F.least("n_a", "n_b")
    ).select(
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        "inter",
        F.expr("inter * 1000 DIV n_a").alias("cont_a_milli"),
        F.expr("inter * 1000 DIV n_b").alias("cont_b_milli"),
    )


# -- X227 incremental dedup (new batch vs existing corpus) -----------------
#
# The continual-crawl shape: an INCOMING batch is deduplicated against
# the EXISTING corpus without ever re-deduping the corpus against
# itself. Layer 1 drops incoming docs whose exact normalized-text hash
# already exists (anti join on the key — one keyed shuffle). Layer 2
# runs MinHash/LSH banding ASYMMETRICALLY: band signatures on both
# sides, join existing-bands × survivor-bands only (never self-join
# either side), verify candidates with exact Jaccard ≥ 0.5. Planted
# exact copies (id%7=1 → +50000) and near-mutations (id%11=2 → +60000,
# first 20 chars sliced off) make every layer's counts non-trivial at
# any scale factor. Output: the four-way disposition of the batch.

_INCR_DEDUP_ORACLE = f"""
WITH base AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id < 300 AND text IS NOT NULL),
existing AS (SELECT id, text FROM base WHERE id % 3 <> 0),
incoming AS (
  SELECT id, text FROM base WHERE id % 3 = 0
  UNION ALL
  SELECT id + 50000, text FROM existing WHERE id % 7 = 1
  UNION ALL
  SELECT id + 60000, substring(text, 21) FROM existing WHERE id % 11 = 2),
ek AS (SELECT DISTINCT md5(lower(trim(text))) AS k FROM existing),
ik AS (SELECT id, md5(lower(trim(text))) AS k, text FROM incoming),
exact_dup AS (SELECT ik.id FROM ik JOIN ek ON ik.k = ek.k),
surv AS (SELECT id, text FROM ik WHERE k NOT IN (SELECT k FROM ek)),
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
  SELECT id, seed.s AS seed, MIN({_HASH64.format(seed='seed.s', v='shingle')}) AS mh
  FROM sh_e, (SELECT unnest(generate_series(0, 15)) AS s) seed
  GROUP BY id, seed.s),
sig_s AS (
  SELECT id, seed.s AS seed, MIN({_HASH64.format(seed='seed.s', v='shingle')}) AS mh
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
  SELECT DISTINCT i.inc_id
  FROM inter i
  JOIN sizes_s sa ON sa.id = i.inc_id
  JOIN sizes_e sb ON sb.id = i.ex_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5)
SELECT CAST((SELECT COUNT(*) FROM incoming) AS BIGINT) AS n_incoming,
       CAST((SELECT COUNT(*) FROM exact_dup) AS BIGINT) AS n_exact_dup,
       CAST((SELECT COUNT(*) FROM near) AS BIGINT) AS n_near_dup,
       CAST((SELECT COUNT(*) FROM surv) AS BIGINT)
         - CAST((SELECT COUNT(*) FROM near) AS BIGINT) AS n_clean
"""


@query("q_dedup_incremental", _INCR_DEDUP_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text docs are excluded from dedup accounting on BOTH engines:
    # they have no key and no shingles, and the oracle's `k NOT IN (ek)`
    # goes three-valued-NULL on a NULL key (emptying surv) while Spark's
    # left_anti keeps NULL-key rows — the r12 NULL-audit class.
    base = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 300) & F.col("text").isNotNull())
        .select(F.col("doc_id").alias("id"), "text")
    )
    existing = base.filter(F.col("id") % 3 != 0)
    incoming = (
        base.filter(F.col("id") % 3 == 0)
        .unionByName(
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
    )
    key = F.md5(F.lower(F.trim(F.col("text"))))
    ek = existing.select(key.alias("k")).distinct()
    ik = incoming.select("id", key.alias("k"), "text")
    exact_dup = ik.join(ek, "k", "left_semi")
    surv = ik.join(ek, "k", "left_anti").select("id", "text")

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
        cand.join(
            sh_s.select(F.col("id").alias("inc_id"), "shingle"), "inc_id"
        )
        .join(
            sh_e.select(F.col("id").alias("ex_id"), "shingle"),
            ["ex_id", "shingle"],
        )
        .groupBy("inc_id", "ex_id")
        .agg(F.count("*").alias("n_inter"))
    )
    near = (
        inter.join(
            sizes_s.select(F.col("id").alias("inc_id"), "n_s"), "inc_id"
        )
        .join(sizes_e.select(F.col("id").alias("ex_id"), "n_e"), "ex_id")
        .filter(
            F.col("n_inter").cast("double")
            / (F.col("n_s") + F.col("n_e") - F.col("n_inter"))
            >= 0.5
        )
        .select("inc_id")
        .distinct()
    )
    n_inc = incoming.agg(F.count("*").cast("bigint").alias("n_incoming"))
    n_ex = exact_dup.agg(F.count("*").cast("bigint").alias("n_exact_dup"))
    n_near = near.agg(F.count("*").cast("bigint").alias("n_near_dup"))
    n_surv = surv.agg(F.count("*").cast("bigint").alias("n_surv"))
    return (
        n_inc.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(n_near))
        .crossJoin(F.broadcast(n_surv))
        .select(
            "n_incoming",
            "n_exact_dup",
            "n_near_dup",
            (F.col("n_surv") - F.col("n_near_dup"))
            .cast("bigint")
            .alias("n_clean"),
        )
    )


# -- X287 entity-resolution blocking pipeline ------------------------------
#
# The record-linkage workflow over a dirtied mention table: every
# customer yields a clean mention plus a typo'd one (one digit of the
# name bumped at a custkey-determined position — both engines synthesize
# the identical corruption), candidate pairs come ONLY from a blocking
# join on (nation, name-digit prefix) — never all-pairs across the
# corpus — an edit-distance ≤ 1 verifier prunes them, and each mention's
# cluster representative is its one-hop minimum (full closure lives in
# operators/dedup.connected_components). Blocking bounds the quadratic
# term by block size, which is the property that survives at 100 TB; a
# digit bumped inside the blocking prefix knocks the mention out of its
# block, so the pipeline's miss path is exercised too, deterministically.
# Output: per-nation linkage accounting.

_ER_ORACLE = """
WITH mentions AS (
  SELECT c_custkey * 2 AS mention_id, c_nationkey, c_name AS nm
  FROM customer
  UNION ALL
  SELECT c_custkey * 2 + 1 AS mention_id, c_nationkey,
         substr(c_name, 1, 9 + (c_custkey % 8))
           || CAST((CAST(substr(c_name, 10 + (c_custkey % 8), 1) AS BIGINT)
                    + 1) % 10 AS VARCHAR)
           || substr(c_name, 11 + (c_custkey % 8)) AS nm
  FROM customer),
blocked AS (
  SELECT mention_id, c_nationkey, nm,
         substr(nm, 10, 5) AS blk
  FROM mentions),
pairs AS (
  SELECT a.c_nationkey, a.mention_id AS ma, b.mention_id AS mb
  FROM blocked a JOIN blocked b
    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
   AND a.mention_id < b.mention_id
  WHERE levenshtein(a.nm, b.nm) <= 1),
reps AS (
  SELECT m.c_nationkey, m.mention_id,
         LEAST(m.mention_id,
               COALESCE(MIN(p.ma), m.mention_id)) AS rep
  FROM mentions m
  LEFT JOIN pairs p ON p.mb = m.mention_id
                   AND p.c_nationkey = m.c_nationkey
  GROUP BY m.c_nationkey, m.mention_id)
SELECT r.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST((SELECT COUNT(*) FROM pairs p
             WHERE p.c_nationkey = r.c_nationkey) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN rep <> mention_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_merged
FROM reps r GROUP BY r.c_nationkey ORDER BY r.c_nationkey
"""


@query("q_er_blocking", _ER_ORACLE)
def q_er_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    clean = c.select(
        (F.col("c_custkey") * 2).alias("mention_id"),
        "c_nationkey",
        F.col("c_name").alias("nm"),
    )
    pos = F.lit(10) + F.col("c_custkey") % 8  # 1-based digit position
    dirty = c.select(
        (F.col("c_custkey") * 2 + 1).alias("mention_id"),
        "c_nationkey",
        F.concat(
            F.expr("substr(c_name, 1, 9 + c_custkey % 8)"),
            (
                (F.expr("substr(c_name, 10 + c_custkey % 8, 1)").cast(
                    "bigint"
                ) + 1)
                % 10
            ).cast("string"),
            F.expr("substr(c_name, 11 + c_custkey % 8)"),
        ).alias("nm"),
    )
    mentions = clean.unionByName(dirty)
    blocked = mentions.withColumn("blk", F.expr("substr(nm, 10, 5)"))
    a = blocked.select(
        F.col("c_nationkey").alias("nk"),
        F.col("blk").alias("bk"),
        F.col("mention_id").alias("ma"),
        F.col("nm").alias("nma"),
    )
    b = blocked.select(
        F.col("c_nationkey").alias("nk"),
        F.col("blk").alias("bk"),
        F.col("mention_id").alias("mb"),
        F.col("nm").alias("nmb"),
    )
    pairs = (
        a.join(b, ["nk", "bk"])
        .filter(F.col("ma") < F.col("mb"))
        .filter(F.levenshtein("nma", "nmb") <= 1)
        .select("nk", "ma", "mb")
    )
    reps = (
        mentions.join(
            pairs,
            (pairs["mb"] == mentions["mention_id"])
            & (pairs["nk"] == mentions["c_nationkey"]),
            "left",
        )
        .groupBy("c_nationkey", "mention_id")
        .agg(
            F.least(
                F.col("mention_id"),
                F.coalesce(F.min("ma"), F.col("mention_id")),
            ).alias("rep")
        )
    )
    pair_counts = pairs.groupBy(F.col("nk").alias("c_nationkey")).agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    return (
        reps.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.countDistinct("rep").cast("bigint").alias("n_clusters"),
            F.sum(
                F.when(F.col("rep") != F.col("mention_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_merged"),
        )
        .join(F.broadcast(pair_counts), "c_nationkey", "left")
        .select(
            "c_nationkey",
            "n_mentions",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            "n_clusters",
            "n_merged",
        )
    )


# -- X328: MinHash fidelity audit (estimate vs exact Jaccard) --------------
# The property that justifies MinHash at 100 TB — E[matches/k] = J — made
# driver-checkable: for each planted (original, mutated-twin) pair, emit
# the number of agreeing minhash components next to the EXACT shingle
# intersection/union counts. Everything is integers over the portable
# md5 hash family, so the driver hashes the estimator's fidelity itself.

_MINHASH_AUDIT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id < 60 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 10000 AS id, substring(text, 21) AS text
  FROM documents WHERE doc_id < 60 AND text IS NOT NULL),
sh AS (
  SELECT DISTINCT id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(length(text)-4, 1)),
             i -> substring(text, i, 5)))) AS shingle
  FROM corpus),
hashes AS (
  SELECT id, seed.s AS seed,
         {_HASH64.format(seed='seed.s', v='shingle')} AS h
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS s) seed),
sig AS (SELECT id, seed, MIN(h) AS minhash FROM hashes GROUP BY id, seed),
matches AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
              AS BIGINT) AS mh_matches
  FROM sig a JOIN sig b ON b.id = a.id + 10000 AND a.seed = b.seed
  GROUP BY a.id, b.id),
sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON b.id = a.id + 10000 AND a.shingle = b.shingle
  GROUP BY a.id)
SELECT m.id_a, m.id_b, m.mh_matches, CAST(16 AS BIGINT) AS k,
       COALESCE(i.n_inter, 0) AS n_inter,
       sa.n + sb.n - COALESCE(i.n_inter, 0) AS n_union
FROM matches m
JOIN sizes sa ON sa.id = m.id_a
JOIN sizes sb ON sb.id = m.id_b
LEFT JOIN inter i ON i.id_a = m.id_a
"""


@query("q_dedup_minhash_fidelity", _MINHASH_AUDIT_ORACLE)
def q_dedup_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text docs have no shingles and no signature — excluded
    # explicitly on both engines (r12 NULL audit; without the pin the
    # two sides disagree on whether a signature-less pair exists).
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 60) & F.col("text").isNotNull()
    )
    corpus = d.select(F.col("doc_id").alias("id"), "text").unionByName(
        d.select(
            (F.col("doc_id") + 10000).alias("id"),
            F.substring(F.col("text"), 21, 1 << 30).alias("text"),
        )
    )
    sh = shingle_rows(corpus, "id", "text", k=5)
    sig = minhash_signatures(sh, num_hashes=16)
    a = sig.select(F.col("id").alias("id_a"), F.col("minhashes").alias("ma"))
    b = sig.select(F.col("id").alias("id_b"), F.col("minhashes").alias("mb"))
    matches = a.join(b, F.col("id_b") == F.col("id_a") + 10000).select(
        "id_a",
        "id_b",
        F.size(
            F.filter(
                F.zip_with("ma", "mb", lambda x, y: x == y), lambda t: t
            )
        ).cast("bigint").alias("mh_matches"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sha = sh.select(F.col("id").alias("id_a"), "shingle")
    shb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = sha.join(
        shb,
        (F.col("id_b") == F.col("id_a") + 10000)
        & (sha["shingle"] == shb["shingle"]),
    ).groupBy("id_a").agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    return (
        matches.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .join(inter, "id_a", "left")
        .select(
            "id_a",
            "id_b",
            "mh_matches",
            F.lit(16).cast("bigint").alias("k"),
            F.coalesce("n_inter", F.lit(0)).cast("bigint").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0)))
            .cast("bigint")
            .alias("n_union"),
        )
    )


# -- X354: Fellegi-Sunter agreement-pattern counts -------------------------
#
# The probabilistic-record-linkage preliminary: for every candidate
# pair inside a block, compute the field-agreement VECTOR and count
# pattern frequencies — the sufficient statistics from which m/u
# probabilities (and hence match weights) are estimated. Blocking keeps
# the pair space linear-ish: pairs form only within
# (nation, mktsegment, coarse-balance-bucket) blocks, so the self-join
# is a keyed equi-join whose fan-out is the block size, never all-pairs.

_FS_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(ROUND(c_acctbal) AS BIGINT) // 1000 AS bal_kb,
         CAST(ROUND(c_acctbal) AS BIGINT) AS bal,
         substr(c_name, 1, 12) AS name12,
         right(c_name, 3) AS name_sfx
  FROM customer WHERE c_custkey <= 2000),
pairs AS (
  SELECT a.bal AS bal_a, b.bal AS bal_b,
         CASE WHEN a.name12 = b.name12 THEN 1 ELSE 0 END AS agr_name,
         CASE WHEN a.name_sfx = b.name_sfx THEN 1 ELSE 0 END AS agr_sfx,
         CASE WHEN ABS(a.bal - b.bal) <= 100 THEN 1 ELSE 0 END AS agr_bal
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.bal_kb = b.bal_kb
   AND a.c_custkey < b.c_custkey)
SELECT agr_name, agr_sfx, agr_bal,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY agr_name, agr_sfx, agr_bal
"""


@query("q_er_fellegi_patterns", _FS_ORACLE)
def q_er_fellegi_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 2000)
        .select(
            "c_custkey",
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(ROUND(c_acctbal) AS BIGINT) DIV 1000").alias(
                "bal_kb"
            ),
            F.round("c_acctbal").cast("bigint").alias("bal"),
            F.substring("c_name", 1, 12).alias("name12"),
            F.substring("c_name", -3, 3).alias("name_sfx"),
        )
    )
    a = c.alias("a")
    b = c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.bal_kb") == F.col("b.bal_kb"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.when(F.col("a.name12") == F.col("b.name12"), 1)
        .otherwise(0)
        .alias("agr_name"),
        F.when(F.col("a.name_sfx") == F.col("b.name_sfx"), 1)
        .otherwise(0)
        .alias("agr_sfx"),
        F.when(F.abs(F.col("a.bal") - F.col("b.bal")) <= 100, 1)
        .otherwise(0)
        .alias("agr_bal"),
    )
    return pairs.groupBy("agr_name", "agr_sfx", "agr_bal").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


# -- X361: sorted-neighborhood ER blocking ---------------------------------
#
# The OTHER classic blocking scheme (vs hash blocks, X354): sort all
# records by a fuzzy key and compare only records within a fixed window
# of positions. The global sort rank comes from the distributed
# global_rank operator, and "within w positions" is an EQUI-join —
# explode the offsets 1..w and join on rank+offset — so the candidate
# set is exactly n·w pairs with no window scan and no skew: linear at
# any scale. Output: agreement-pattern histogram over the candidates.

_SNM_W = 3

_SNM_ORACLE = f"""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(ROUND(c_acctbal) AS BIGINT) AS bal
  FROM customer WHERE c_custkey <= 2000),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rk
  FROM c),
pairs AS (
  SELECT a.c_nationkey = b.c_nationkey AS same_nation,
         a.c_mktsegment = b.c_mktsegment AS same_seg,
         ABS(a.bal - b.bal) <= 100 AS near_bal
  FROM r a
  JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + {_SNM_W})
SELECT CAST(same_nation AS INT) AS agr_nation,
       CAST(same_seg AS INT) AS agr_segment,
       CAST(near_bal AS INT) AS agr_bal,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2, 3
"""


@query("q_er_sorted_neighborhood", _SNM_ORACLE)
def q_er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.operators.rank import global_rank

    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 2000)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            "c_mktsegment",
            F.round("c_acctbal").cast("bigint").alias("bal"),
        )
    )
    r = global_rank(
        c,
        order=[F.col("c_name"), F.col("c_custkey")],
        rank_col="rk",
        n_col="__n",
    )
    a = r.select(
        F.col("rk").alias("rk_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("bal").alias("bal_a"),
    )
    b = r.select(
        F.col("rk").alias("rk_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("bal").alias("bal_b"),
    )
    probes = a.withColumn(
        "off", F.explode(F.array(*[F.lit(i) for i in range(1, _SNM_W + 1)]))
    ).withColumn("rk_b", F.col("rk_a") + F.col("off"))
    pairs = probes.join(b, "rk_b")
    return pairs.groupBy(
        (F.col("nat_a") == F.col("nat_b")).cast("int").alias("agr_nation"),
        (F.col("seg_a") == F.col("seg_b")).cast("int").alias("agr_segment"),
        (F.abs(F.col("bal_a") - F.col("bal_b")) <= 100)
        .cast("int")
        .alias("agr_bal"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


# -- X445 Jaro-Winkler ER scoring on blocked candidates ---------------------
#
# The X405 kernel put to work inside the entity-resolution stack: the
# q_er_blocking corpus (clean + one-digit-corrupted name mentions)
# generates candidates by prefix block, and Jaro-Winkler — not edit
# distance — scores them, the metric record linkage actually prefers
# for typos. Blocking keeps candidate pairs ~linear (no all-pairs);
# scoring is the Arrow-batched UDF proven bit-exact against DuckDB's
# native builtin; the threshold verdict (>= 0.95) plus per-block
# accounting come back as exact integers with the raw double score.

_ER_JW_ORACLE = """
WITH c AS (SELECT c_custkey, c_nationkey, c_name FROM customer),
clean AS (
  SELECT c_custkey * 2 AS mention_id, c_nationkey, c_name AS nm FROM c),
dirty AS (
  SELECT c_custkey * 2 + 1 AS mention_id, c_nationkey,
         substr(c_name, 1, CAST(9 + c_custkey % 8 AS INT))
           || CAST((CAST(substr(c_name,
                    CAST(10 + c_custkey % 8 AS INT), 1) AS BIGINT) + 1)
                   % 10 AS VARCHAR)
           || substr(c_name, CAST(11 + c_custkey % 8 AS INT)) AS nm
  FROM c),
mentions AS (SELECT * FROM clean UNION ALL SELECT * FROM dirty),
blocked AS (SELECT *, substr(nm, 10, 5) AS blk FROM mentions),
pairs AS (
  SELECT a.c_nationkey AS nk,
         jaro_winkler_similarity(a.nm, b.nm) AS jw
  FROM blocked a JOIN blocked b
    ON b.c_nationkey = a.c_nationkey AND b.blk = a.blk
   AND b.mention_id > a.mention_id)
SELECT nk,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(CASE WHEN jw >= 0.95 THEN 1 END) AS BIGINT)
         AS n_matches,
       MIN(jw) AS min_jw, MAX(jw) AS max_jw
FROM pairs GROUP BY nk
"""


@query("q_er_jaro_blocking", _ER_JW_ORACLE)
def q_er_jaro_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mini_etl_project_spark.queries.functions_q import _jaro_winkler

    @F.pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    c = load_table(spark, sf_dir, "customer")
    clean = c.select(
        (F.col("c_custkey") * 2).alias("mention_id"),
        "c_nationkey",
        F.col("c_name").alias("nm"),
    )
    dirty = c.select(
        (F.col("c_custkey") * 2 + 1).alias("mention_id"),
        "c_nationkey",
        F.concat(
            F.expr("substr(c_name, 1, 9 + c_custkey % 8)"),
            (
                (
                    F.expr("substr(c_name, 10 + c_custkey % 8, 1)").cast(
                        "bigint"
                    )
                    + 1
                )
                % 10
            ).cast("string"),
            F.expr("substr(c_name, 11 + c_custkey % 8)"),
        ).alias("nm"),
    )
    blocked = clean.unionByName(dirty).withColumn(
        "blk", F.expr("substr(nm, 10, 5)")
    )
    a = blocked.select(
        F.col("c_nationkey").alias("nk"),
        F.col("blk").alias("bk"),
        F.col("mention_id").alias("ma"),
        F.col("nm").alias("nma"),
    )
    b = blocked.select(
        F.col("c_nationkey").alias("nk"),
        F.col("blk").alias("bk"),
        F.col("mention_id").alias("mb"),
        F.col("nm").alias("nmb"),
    )
    pairs = a.join(b, ["nk", "bk"]).filter(F.col("mb") > F.col("ma"))
    scored = pairs.select(
        "nk", jw(F.col("nma"), F.col("nmb")).alias("jw")
    )
    # bounded per-nation roll-up: counts are exact ints, min/max are
    # order-independent doubles — each must equal DuckDB's builtin on
    # the same pair, so kernel parity stays hash-checked
    return scored.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.when(F.col("jw") >= 0.95, 1))
        .cast("bigint")
        .alias("n_matches"),
        F.min("jw").alias("min_jw"),
        F.max("jw").alias("max_jw"),
    )
