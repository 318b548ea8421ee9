"""Vector/embedding expression builders (X3–X5, SURVEY.md §2.C).

All numerics use the exact-decimal accumulation trick: float32 elements
promote to double exactly, per-element products are deterministic doubles,
and the DECIMAL(28,10) sum is order-independent — so cosine similarity is
bit-identical under any partitioning AND matches a sequential oracle.
Everything stays in higher-order functions (JVM-side, no UDFs).

Each builder takes column names (any SQL expression text) and returns ONE
``F.expr`` over SQL text: one parse per expression instead of dozens of
py4j round trips of Column-API construction, so nothing needs caching.
The ``*_sql`` helpers return the SQL text itself, for callers that fold it
into a larger expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Precision 28, not 38: Spark types decimal(38,10)+decimal(38,10) as
# decimal(38,9) (allowPrecisionLoss), silently rounding every partial sum.
# At (28,10) the addition widens to (29,10) — exact — and the re-cast back
# to (28,10) is lossless for our magnitudes. DuckDB oracles may keep
# DECIMAL(38,10): per-term values round identically at scale 10.
_DEC = "DECIMAL(28,10)"


def dec_sum_sql(arr: str) -> str:
    """Exact sum of a double-array expression via decimal accumulation,
    as double."""
    return (
        f"CAST(aggregate({arr}, CAST(0 AS {_DEC}), "
        f"(acc, x) -> CAST(acc + CAST(x AS {_DEC}) AS {_DEC})) AS DOUBLE)"
    )


def _prods_sql(a: str, b: str) -> str:
    return f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"


def _sqnorm_sql(a: str) -> str:
    return dec_sum_sql(f"transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def dot_exact(a: str, b: str) -> Column:
    """Order-independent exact dot product of two float arrays."""
    return F.expr(dec_sum_sql(_prods_sql(a, b)))


def sqnorm_exact(a: str) -> Column:
    """Exact squared L2 norm of a float array."""
    return F.expr(_sqnorm_sql(a))


def dot_sign_nonneg_sql(a: str, b: str) -> str:
    """SQL for ``dot_exact(a, b) >= 0``, computed fast: a plain double
    fold decides the sign except within ±1e-6 of zero, where the exact
    decimal fold is consulted (lazy CASE branch — evaluated only for
    ambiguous rows). ``a`` and ``b`` are SQL text: a column name, or a
    lambda variable of an enclosing higher-order function.

    Bit-identical to the decimal sign by construction: the decimal path
    rounds each product to 1e-10 (≤ 5e-11 error ×64 terms = 3.2e-9) and
    the sequential double fold adds ~1e-13, so double and decimal sums
    can only disagree on sign inside ±~4e-9 ≪ 1e-6. LSH bucketing is
    sign-only, which makes this the hot-path form — the full decimal
    fold is ~10× costlier per term (boxed BigDecimal vs double).
    """
    # The finish lambda reads the double fold once; its variable name
    # must not shadow a column that ``a``/``b`` name.
    return (
        f"aggregate({_prods_sql(a, b)}, 0.0D, (acc, x) -> acc + x, "
        f"_d -> CASE WHEN abs(_d) > 1e-6 THEN _d >= 0 "
        f"ELSE {dec_sum_sql(_prods_sql(a, b))} >= 0 END)"
    )


def cosine_exact(a: str, b: str) -> Column:
    """Exact-deterministic cosine similarity (null on zero vectors)."""
    denom = f"sqrt({_sqnorm_sql(a)}) * sqrt({_sqnorm_sql(b)})"
    return F.expr(
        f"CASE WHEN {denom} != 0 THEN {dec_sum_sql(_prods_sql(a, b))} / ({denom}) END"
    )
