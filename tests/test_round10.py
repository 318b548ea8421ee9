"""Round-10 hardening: exhaustive pln branch-boundary pinning.

VERDICT r9 ask #4: the portable-ln kernel's cross-engine bit-identity
was argued from IEEE properties (0.75*2^k is an exact double; scaling
by 2^k is exponent arithmetic; * and / are correctly rounded) and
tested on fixture data. These tests make the argument airtight at its
seams: BOTH engines are evaluated at every exact branch-boundary double
(0.75*2^k for all 67 k) and one ulp either side of it, plus the domain
edges, plus a deterministic log-spaced sweep of the full domain —
asserting exact bit equality Spark<->DuckDB and <=2-ulp accuracy vs
libm (`math.log`).
"""

from __future__ import annotations

import math
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from mini_etl_project_spark.queries.helpers import (
    _PLN_KHI,
    _PLN_KLO,
    pln_finish,
    pln_k,
    pln_red,
    sql_pln_finish,
    sql_pln_k,
    sql_pln_red,
)

_DOM_LO = 0.75 * 2.0**_PLN_KLO  # inclusive
_DOM_HI = 1.5 * 2.0 ** (_PLN_KHI - 1)  # exclusive


def _bits(v: float | None) -> str:
    # struct-level compare: stricter than repr (distinguishes -0.0/0.0
    # and any hypothetical NaN payload)
    return "NULL" if v is None else struct.pack("<d", v).hex()


def _boundary_points() -> tuple[list[float], list[float]]:
    """(in-domain points, out-of-domain points) at every branch seam."""
    inside: list[float] = []
    outside: list[float] = []
    for k in range(_PLN_KLO, _PLN_KHI):
        b = 0.75 * 2.0**k  # lower edge of branch k == upper edge of k-1
        below = math.nextafter(b, 0.0)
        inside += [b, math.nextafter(b, math.inf)]
        (inside if below >= _DOM_LO else outside).append(below)
    top = _DOM_HI  # exclusive upper edge of the last branch
    outside.append(top)
    outside.append(math.nextafter(top, math.inf))
    inside.append(math.nextafter(top, 0.0))
    return inside, outside


def _sweep_points(n: int = 600) -> list[float]:
    """Deterministic log-spaced sweep of the full domain (no RNG: the
    seams are what matter, the sweep just fills the interior)."""
    lo, hi = math.log(_DOM_LO), math.log(_DOM_HI)
    pts = []
    for i in range(n):
        x = math.exp(lo + (hi - lo) * (i + 0.5) / n)
        if _DOM_LO <= x < _DOM_HI:
            pts.append(x)
    return pts


def _spark_pln(spark, vals: list[float]) -> dict[float, float | None]:
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    staged = df.withColumn("red", pln_red(F.col("x"))).withColumn(
        "kk", pln_k(F.col("x"))
    )
    return {
        r["x"]: r["l"]
        for r in staged.select(
            "x", pln_finish(F.col("red"), F.col("kk")).alias("l")
        ).collect()
    }


def _duck_pln(vals: list[float]) -> dict[float, float | None]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v AS SELECT * FROM (VALUES "
        + ",".join(f"(CAST('{v!r}' AS DOUBLE))" for v in vals)
        + ") t(x)"
    )
    return dict(
        con.sql(
            f"WITH r AS (SELECT x, {sql_pln_red('x')} AS red, "
            f"{sql_pln_k('x')} AS kk FROM v) "
            f"SELECT x, {sql_pln_finish('red', 'kk')} AS l FROM r"
        ).fetchall()
    )


def test_pln_branch_boundaries_bit_identical(spark):
    """Every branch seam double (and its +-1-ulp neighbours) must take
    the same branch in both engines and produce the same 64 bits."""
    inside, outside = _boundary_points()
    vals = inside + outside
    assert len(inside) == 3 * (_PLN_KHI - _PLN_KLO)  # 67 seams x 3 - 1 + 1
    srows, drows = _spark_pln(spark, vals), _duck_pln(vals)
    assert len(drows) == len(set(vals))
    for v in vals:
        assert _bits(srows[v]) == _bits(drows[v]), (
            v,
            srows[v],
            drows[v],
        )
    for v in outside:
        assert srows[v] is None, (v, srows[v])
    for v in inside:
        assert srows[v] is not None, v


def test_pln_branch_boundaries_two_ulp_of_libm(spark):
    """At every seam (where the reduced argument hits the interval ends
    0.75 / 1.5-eps and truncation error peaks) pln stays within 2 ulp of
    libm's ln."""
    inside, _ = _boundary_points()
    srows = _spark_pln(spark, inside)
    worst = 0.0
    for v in inside:
        ref = math.log(v)
        err = abs(srows[v] - ref) / math.ulp(ref)
        worst = max(worst, err)
        assert err <= 2.0, (v, srows[v], ref, err)
    # keep a visible record of the measured ceiling in -v output
    assert worst <= 2.0


def test_pln_domain_sweep_bit_identical_and_accurate(spark):
    """600-point log-spaced interior sweep: bit equality across engines
    and <=2 ulp vs libm everywhere, not just at the fixture values."""
    vals = _sweep_points()
    srows, drows = _spark_pln(spark, vals), _duck_pln(vals)
    for v in vals:
        assert _bits(srows[v]) == _bits(drows[v]), v
        ref = math.log(v)
        err = abs(srows[v] - ref) / math.ulp(ref)
        assert err <= 2.0, (v, err)


def test_pln_reduction_is_exact_at_seams(spark):
    """The reduced argument r = x * 2^-k must be EXACTLY representable
    (scaling by a power of two is exponent arithmetic): at each seam,
    red must equal 0.75 exactly, and one ulp below a seam must reduce
    to just under 1.5 — never 1.5 itself (which would mean the branch
    predicate and the scaling disagreed). The exponent comes from
    floor(log2), so kk is pinned too: k at each seam, k-1 one ulp
    below it."""
    ks = range(_PLN_KLO, _PLN_KHI)
    df = spark.createDataFrame(
        [(k, 0.75 * 2.0**k) for k in ks], "k long, x double"
    )
    sel = [
        "k",
        "x",
        pln_red(F.col("x")).alias("red"),
        pln_k(F.col("x")).alias("kk"),
    ]
    for r in df.select(*sel).collect():
        assert r["red"] == 0.75, (r["x"], r["red"])
        assert r["kk"] == float(r["k"]), (r["x"], r["kk"])
    df2 = spark.createDataFrame(
        [(k, math.nextafter(0.75 * 2.0**k, 0.0)) for k in ks[1:]],
        "k long, x double",
    )
    for r in df2.select(*sel).collect():
        assert 0.75 <= r["red"] < 1.5, (r["x"], r["red"])
        assert r["red"] > 1.49, (r["x"], r["red"])
        assert r["kk"] == float(r["k"] - 1), (r["x"], r["kk"])
