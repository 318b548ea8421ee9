"""Text-analysis operators (X6–X9): tokenization, shingling, language ID,
quality scoring, fingerprinting — all as portable Column expressions
(deterministic across Spark and the DuckDB oracle; hashing goes through
md5, which both engines implement identically).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language function-word lexicons for the lexicon-join language
#: scorer (X8). Deliberately small and public-knowledge; the operator's
#: mechanics (per-doc lexicon hit counting + argmax) are what scale.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "les", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (X6)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles as an array (X2 primitive).

    Built with sequence+transform (JVM-side); no UDF, no explode needed
    until the caller wants one row per shingle.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, k)))


def hash64(col: str, seed: int = 0) -> Column:
    """Deterministic 60-bit hash portable to the DuckDB oracle:
    first 15 hex digits of md5(seed || ':' || value) as a bigint.

    ``col`` is a column name or any SQL expression text; the hash is one
    ``F.expr``. (xxhash64 would be faster but is Spark-specific; this one
    lets every hash-dependent operator — minhash, simhash, LSH — be
    oracle-checked.)
    """
    return F.expr(
        f"CAST(conv(substring(md5(concat('{int(seed)}', ':', {col})), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


def quality_score(col: Column | str) -> Column:
    """X9: heuristic doc-quality score in [0, 1] from length, mean word
    length, and stopword ratio — pure arithmetic, portable to SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    mean_word = n_chars.cast("double") / F.greatest(n_tok, F.lit(1))
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / F.greatest(n_tok, F.lit(1))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 10), 1.0).otherwise(0.5)
    stop_score = F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.6), 1.0).otherwise(0.5)
    return (len_score + word_score + stop_score) / 3


def fingerprint(col: Column | str) -> Column:
    """X9: order-insensitive document fingerprint — md5 of the sorted
    token bag — so permuted near-duplicates collapse to one key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.array_join(F.array_sort(tokens(c)), " "))


def lang_scores(col: Column | str) -> list[Column]:
    """X8: per-language lexicon hit counts (aliased ``score_<lang>``)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    out = []
    for lang, words in LANG_LEXICONS.items():
        hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))
        out.append(hits.alias(f"score_{lang}"))
    return out
