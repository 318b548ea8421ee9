"""Shared expression builders for the query surface.

Exact aggregation: summing ``double`` in floating point is
accumulation-order dependent, so a distributed sum is not reproducible
across partitionings (nor comparable bit-for-bit against a single-threaded
oracle). :func:`exact_sum` instead turns each term into one scaled integer
``k = rint(x * 10^6)`` and sums ``k`` exactly as two BIGINT sums; only the
per-group total becomes a decimal and then a double. Every permutation of
inputs yields the same result, the plan stays JVM-side and
whole-stage-codegen'd, and map-side partial aggregation stays intact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


DEC = "decimal(38,6)"

#: exact_sum's term scale: k = rint(x * 10^6), the unscaled DECIMAL(38,6)
_SCALE = 1_000_000
#: exact_sum's split: hi = k >> 20 (arithmetic), lo = k & (2^20 - 1) >= 0
_LO_BITS = 20


def exact_sum(col: Column | str) -> Column:
    """Order-independent exact sum of a double column, as an unaliased
    double; the aggregate behind :func:`dsum` and :func:`davg`.

    Each term becomes ``k = CAST(rint(x * 1e6) AS BIGINT)``; the total is
    ``sum(k >> 20) * 2^20 + sum(k & (2^20 - 1))``, joined once per group
    as a DECIMAL(38,0), divided by 10^6 and cast to double.

    - Exact range: for a term with <= 6 decimals and |x| < 2^32 (about
      4.29e9), ``x * 1e6`` lands within 0.24 of the integer, so ``k`` is
      the unscaled value of ``CAST(x AS DECIMAL(38,6))`` and the double
      result equals the DECIMAL(38,6) sum's (``Decimal.toDouble`` is
      ``BigDecimal.doubleValue``, correctly rounded from the same exact
      total). From 2^32 up, the product can round to a half-integer and
      ``rint`` can miss by one unit of 1e-6 (about a quarter of random
      6-dp terms in [2^32, 4.5e9)).
    - Headroom: the low sum holds 2^43 rows per group, the high sum an
      exact total up to about 9.7e18 (2^83 / 10^6). A single BIGINT sum
      of ``k`` would overflow once the total passed 9.2e12.
    - Beyond it, ANSI mode (Spark 4's default) raises, never a wrong
      value: a term with |x| >= 2^63 / 10^6 (about 9.2e12) fails the
      BIGINT cast, and an overflowing sum fails the BIGINT add. With ANSI
      off neither is checked, as for any BIGINT arithmetic. NULL terms
      are skipped; an all-NULL group gives NULL.
    - Cost: no per-row decimal. ``CAST(double AS DECIMAL(38,6))`` builds a
      ``BigDecimal`` through ``Double.toString`` for every row, and the
      decimal sum buffer is rewritten on every update. Dropping it took
      a warm ``q01_pricing_summary`` on a 400k-row lineitem from a median
      1.34-1.54 to 0.90-0.97 CPU s per run (driver plus whole JVM,
      ``local[2]`` on 4 vCPUs, two processes each)."""
    c = F.col(col) if isinstance(col, str) else col
    k = F.rint(c * float(_SCALE)).cast("bigint")
    hi = F.sum(F.shiftright(k, _LO_BITS)).cast("decimal(38,0)")
    lo = F.sum(k.bitwiseAND((1 << _LO_BITS) - 1))
    return ((hi * (1 << _LO_BITS) + lo) / _SCALE).cast("double")


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a double column, as double
    (:func:`exact_sum`, aliased).

    PORTABILITY CONSTRAINT (round-9 finding): safe ONLY for terms whose
    exact value has <= 6 decimal digits (money/quantity lanes) and
    |x| < 2^32 — then both this sum and the oracle's DECIMAL(38,6) cast
    are exact. For full-precision terms (sqrt, ln, odd divisions) the
    engines' roundings to 6 decimals can differ — use :func:`qsum`.

    Four kinds of sum keep the per-row ``F.sum(x.cast(DEC))``: window
    sums (``.over(w)`` cannot take the two-sum form), ``sum_distinct``
    (distinct ``k`` halves are not distinct terms), a sum whose DECIMAL
    value is the output (``operators/skew.py``), and
    ``streaming/ops.py``'s buffer, which is the state-store schema of a
    checkpointed stream."""
    return exact_sum(col).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent mean: :func:`exact_sum` / count of non-NULL
    terms, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (exact_sum(c) / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB oracle equivalent of :func:`dsum`: the per-term
    ``CAST(... AS DECIMAL(38,6))`` sum, kept as the reference that
    :func:`exact_sum`'s integer form is checked against."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB oracle equivalent of :func:`davg`."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


#: 2^30 — split point for dec_to_double: both halves stay < 2^53, where
#: decimal→double conversion is EXACT in both engines (DuckDB's
#: int128→double double-rounds above 2^53; Spark's BigDecimal.doubleValue
#: is correctly rounded — the difference shows up as 1-ulp drift on huge
#: moment sums, found by the round-7 cross-SF gate on q_ml_anova_oneway).
_SPLIT = 1 << 30


def dec_to_double(col: Column | str) -> Column:
    """Engine-portable decimal→double for values that may exceed 2^53.

    hi = (x − x%2^30)/2^30 is an exact integer-valued decimal division
    and lo = x%2^30 is exact; both cast to double exactly (< 2^53). The
    reassembly multiply+add are single correctly-rounded IEEE ops, so
    both engines produce the SAME double (within-engine determinism is
    not enough for hash parity — the rounding path must match too).
    Mirror with sql_dec_to_double."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    # (x - x%S)/S is an EXACT integer-valued decimal division (no
    # floor/rounding ambiguity between engines); non-negative inputs only
    return (
        ((c - c % _SPLIT) / _SPLIT).cast("double") * float(_SPLIT)
        + (c % _SPLIT).cast("double")
    )


def sql_dec_to_double(expr: str) -> str:
    """DuckDB twin of dec_to_double (// on DECIMAL is true division, so
    floor() it to mirror Spark's truncating decimal DIV on non-negatives;
    both uses here are non-negative magnitude sums)."""
    return (
        f"(CAST((({expr}) - ({expr}) % {_SPLIT}) / {_SPLIT} AS DOUBLE)"
        f" * {_SPLIT}.0 + CAST(({expr}) % {_SPLIT} AS DOUBLE))"
    )


# -- portable natural log (pln) ---------------------------------------------
# Runtime ln() is libm-dependent (java.lang.Math.log vs DuckDB's C libm
# differ in the last ulp on some inputs), which is why the text stack
# (TF-IDF, PMI, Zipf) historically ranks by log-free monotone transforms.
# pln removes that restriction: ln built ONLY from IEEE-exact-or-
# correctly-rounded single ops (+, -, *, /, power-of-two scaling), so
# identical expression trees produce bit-identical doubles in any
# IEEE-754 engine; the one libm call (log2) only proposes the exponent,
# which exact comparisons then settle (step 1).
#
#   1. Argument reduction by an EXACT power of two: pick k with
#      r = x * 2^-k  in [0.75, 1.5).  k0 = floor(log2(x/0.75)) may be
#      off by one (log2 is libm), so it is corrected with two exact
#      comparisons on r0 = x * 2^-k0: k = k0 + [r0 >= 1.5] - [r0 < 0.75].
#      pow(2, integer) is exact in both engines and scaling a double by
#      2^±k is exponent arithmetic (no rounding), so every engine lands
#      on the same k and the same r.
#   2. atanh series on the reduced argument: t = (r-1)/(r+1) lands in
#      [-1/7, 1/5); ln r = 2*t*(1 + t^2/3 + ... ), 13 Horner terms over
#      literal double coefficients.  Truncation error <= |t|^27/27
#      ~ 5e-21 — below the ulp of the result.
#   3. Reassembly: ln x = ln r + k*ln2, with ln2 a shared literal.
#
# Domain: [0.75*2^-60, 1.5*2^6); outside -> NULL in BOTH engines so a
# domain escape shows up as a red row, never as silent drift.  The
# domain guard wraps the log2, which DuckDB rejects on zero/negatives.
#
# The SQL side is STAGED (reduction columns in one CTE, series over
# column refs in the next) because pln_finish references red ~50x:
# inlining the reduction into the Horner chain would repeat it that
# often; the Spark side mirrors the same staging via withColumn so both
# expression trees match op-for-op. Accuracy + Spark<->DuckDB
# bit-identity pinned in tests/test_round9.py and tests/test_round10.py.

_PLN_TERMS = 13
_PLN_COEFFS = [1.0 / (2 * k + 1) for k in range(_PLN_TERMS)]
_PLN_LN2 = 0.6931471805599453  # repr(math.log(2.0)) — shared literal
_PLN_KLO, _PLN_KHI = -60, 7
_PLN_LO, _PLN_HI = 0.75 * 2.0**_PLN_KLO, 1.5 * 2.0 ** (_PLN_KHI - 1)


def pln_k(col: Column | str) -> Column:
    """Stage 1 (Spark): the reduction exponent k as double, NULL outside
    the domain."""
    x = F.col(col) if isinstance(col, str) else col
    ok = (x >= F.lit(_PLN_LO)) & (x < F.lit(_PLN_HI))
    k0 = F.floor(F.log2(x / F.lit(0.75))).cast("double")
    r0 = x * F.pow(F.lit(2.0), -k0)
    up = (r0 >= F.lit(1.5)).cast("double")
    down = (r0 < F.lit(0.75)).cast("double")
    return F.when(ok, k0 + up - down)


def pln_red(col: Column | str) -> Column:
    """Stage 1 (Spark): exactly power-of-two-reduced argument in
    [0.75, 1.5), NULL outside the domain."""
    x = F.col(col) if isinstance(col, str) else col
    return x * F.pow(F.lit(2.0), -pln_k(x))


def pln_finish(red: Column | str, kk: Column | str) -> Column:
    """Stage 2 (Spark): atanh series on the reduced argument + k*ln2."""
    red = F.col(red) if isinstance(red, str) else red
    kk = F.col(kk) if isinstance(kk, str) else kk
    t = (red - F.lit(1.0)) / (red + F.lit(1.0))
    t2 = t * t
    s = F.lit(_PLN_COEFFS[-1])
    for c in reversed(_PLN_COEFFS[:-1]):
        s = s * t2 + F.lit(c)
    return F.lit(2.0) * t * s + kk * F.lit(_PLN_LN2)


def _sql_d(v: float) -> str:
    # DuckDB parses plain decimal literals as DECIMAL and would
    # otherwise run decimal arithmetic
    return f"CAST('{v!r}' AS DOUBLE)"


def sql_pln_k(expr: str) -> str:
    """Stage 1 (DuckDB): reduction exponent — mirror of pln_k.

    Every literal is CAST AS DOUBLE (see _sql_d)."""
    x = f"({expr})"
    k0 = f"FLOOR(LOG2({x} / {_sql_d(0.75)}))"
    r0 = f"({x} * POW({_sql_d(2.0)}, -{k0}))"
    return (
        f"CASE WHEN {x} >= {_sql_d(_PLN_LO)} AND {x} < {_sql_d(_PLN_HI)}"
        f" THEN {k0} + CAST({r0} >= {_sql_d(1.5)} AS DOUBLE)"
        f" - CAST({r0} < {_sql_d(0.75)} AS DOUBLE) END"
    )


def sql_pln_red(expr: str) -> str:
    """Stage 1 (DuckDB): reduced argument — mirror of pln_red."""
    return f"(({expr}) * POW({_sql_d(2.0)}, -({sql_pln_k(expr)})))"


def sql_pln_finish(red: str, kk: str) -> str:
    """Stage 2 (DuckDB): series + reassembly over COLUMN REFS (pass
    plain column names so the string stays compact)."""
    t = (
        f"((({red}) - CAST(1.0 AS DOUBLE))"
        f" / (({red}) + CAST(1.0 AS DOUBLE)))"
    )
    t2 = f"({t} * {t})"
    s = f"CAST('{_PLN_COEFFS[-1]!r}' AS DOUBLE)"
    for c in reversed(_PLN_COEFFS[:-1]):
        s = f"(({s}) * {t2} + CAST('{c!r}' AS DOUBLE))"
    return (
        f"(CAST(2.0 AS DOUBLE) * {t} * ({s})"
        f" + ({kk}) * CAST('{_PLN_LN2!r}' AS DOUBLE))"
    )


def fold_sum(xs: Column) -> Column:
    """Left-fold sum of a bounded NONEMPTY double array — the
    bit-identical Spark twin of DuckDB's
    ``list_reduce(xs, (a, x) -> a + x)``: seed with the first element,
    fold the rest in order. Summation order is part of the contract
    (double addition is non-associative), which is why callers sort the
    array deterministically first (the X458 EWMA lane)."""
    return F.aggregate(
        F.slice(xs, 2, 1000000),
        F.element_at(xs, 1),
        lambda a, x: a + x,
    )


# -- qsum: the portable sum lane for FULL-PRECISION doubles -------------------
#
# dsum's DECIMAL(38,6) cast is only cross-engine-safe when the term's
# exact value has <= 6 decimal digits (money/quantity lanes — then the
# cast does no rounding at all). For irrational terms (sqrt, ln, odd
# divisions) the engines disagree on the cast itself: Spark rounds the
# double's EXACT binary expansion (BigDecimal HALF_UP) while DuckDB
# multiplies by 10^scale IN DOUBLE first and rounds that — a
# double-rounding whose divergence probability grows with |x|*10^6*eps
# (found live: three of 31 KL-drift terms at |x|~1e9 crossed a boundary;
# see test_round9b). qsum quantizes portably instead: floor(x * scale)
# is an INTEGER-VALUED double (floor is exact in both engines, and the
# single multiply rounds identically), so the decimal cast is
# unambiguous at any magnitude. The sum is then exact, order-independent
# and distributed (map-side partials intact); dec_to_double brings it
# back above 2^53 safely. Quantization: 1/scale absolute per term,
# floor-biased — identical in both engines, which is the whole point.

QSCALE = 1e12


#: qsum term-domain bound: |term| < 1e6 keeps |term*QSCALE| < 1e18 <
#: 2^62, inside Spark's BIGINT floor() range (floor(DOUBLE) returns
#: BIGINT in Spark and silently wraps past 2^63). Out-of-domain terms
#: poison the whole sum to NULL in BOTH engines — a domain escape is a
#: visible red row, never silent drift (the pln convention).
QLIM = 1e6


def qsum(col: Column | str, alias: str) -> Column:
    """Order-independent, engine-portable sum of full-precision doubles
    (quantized at 1e-12 per term; term domain |x| < 1e6), as double.
    The signed total routes through ABS + sign because dec_to_double
    (and decimal %) is non-negative-only — the q_fn_regr_family trick."""
    c = F.col(col) if isinstance(col, str) else col
    s = (
        F.sum(F.floor(c * F.lit(QSCALE)).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
    )
    sgn = F.when(s < 0, -1.0).otherwise(1.0)
    bad = F.max(F.when(F.abs(c) >= F.lit(QLIM), 1).otherwise(0))
    return (
        F.when(bad > 0, F.lit(None).cast("double")).otherwise(
            sgn * dec_to_double(F.abs(s)) / F.lit(QSCALE)
        )
    ).alias(alias)


def sql_qsum_expr(expr: str) -> str:
    """DuckDB qsum as a bare aggregate expression (no alias)."""
    s = (
        f"CAST(SUM(CAST(FLOOR(({expr}) * 1e12) AS DECIMAL(38,0)))"
        f" AS DECIMAL(38,0))"
    )
    signed = (
        f"((CASE WHEN {s} < 0 THEN -1.0 ELSE 1.0 END)"
        f" * ({sql_dec_to_double(f'ABS({s})')}) / 1e12)"
    )
    return (
        f"(CASE WHEN MAX(CASE WHEN ABS({expr}) >= 1e6 THEN 1 ELSE 0 END) > 0"
        f" THEN NULL ELSE {signed} END)"
    )


def sql_qsum(expr: str, alias: str) -> str:
    """DuckDB oracle equivalent of :func:`qsum`."""
    return f"{sql_qsum_expr(expr)} AS {alias}"


def sql_ln_layer(stack_cte: str, keys: str) -> str:
    """The two-layer staged-ln CTE body over a stack(keys..., v) CTE —
    the unpivot-ln pattern every pln consumer shares: red/kk staged as
    real columns first (pln_finish references red ~50x), series over
    column refs second, so the oracle string stays compact and the
    Spark twin (withColumn red/kk, then pln_finish) matches op-for-op."""
    return (
        f"SELECT {keys}, v, {sql_pln_finish('red', 'kk')} AS lnv"
        f" FROM (SELECT {keys}, v, {sql_pln_red('v')} AS red,"
        f" {sql_pln_k('v')} AS kk FROM {stack_cte})"
    )
