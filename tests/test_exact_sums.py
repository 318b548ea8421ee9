"""Exact sums: ``dsum``/``davg``/``exact_sum`` (queries/helpers.py).

Each term becomes the scaled integer ``k = rint(x * 1e6)``, summed as two
BIGINT sums (``k >> 20`` and ``k & (2^20 - 1)``) and joined once per group.
The reference is Python ``decimal``: each term rounded HALF_UP to 6
decimals from its shortest repr (what ``CAST(x AS DECIMAL(38,6))`` does),
summed exactly, and converted to the nearest double.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import pytest

from mini_etl_project_spark.queries import QUERIES
from mini_etl_project_spark.queries.helpers import davg, dsum

_EPS = Decimal("0.000001")


def _ref_sum(xs):
    terms = [Decimal(repr(x)).quantize(_EPS, ROUND_HALF_UP) for x in xs if x is not None]
    return float(sum(terms)) if terms else None


def _ref_avg(xs):
    s = _ref_sum(xs)
    n = sum(x is not None for x in xs)
    return None if s is None else s / n


def _groups():
    rng = random.Random(7)
    money = [
        p * (1 - d) * (1 + t)
        for p, d, t in (
            (rng.randrange(90_000, 10_500_000) / 100, rng.randrange(11) / 100,
             rng.randrange(9) / 100)
            for _ in range(400)
        )
    ]
    # the top of the exact range: 6-dp terms just under 2^32
    big = [rng.randrange(4_200_000_000_000_000, 4_294_967_295_000_000) / 1e6
           for _ in range(200)]
    return {
        # k = -1, -2^20, 2^20 - 1, 2^20: the split's sign and carry edges
        0: [-1e-6, -1.048576, 1.048575, 1.048576, 1e-6, 0.0, -0.0],
        1: [rng.randrange(-10**9, 10**9) / 1e6 for _ in range(500)],
        2: money,
        3: big + [-x for x in big[:150]],
        4: [-4294967295.999999, 4294967295.999999, -4294967295.999999, -1e-6],
        5: [None, 2.5, None, -0.75, 1e-6],
        6: [None, None],
    }


def _frame(spark, groups):
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    random.Random(11).shuffle(rows)
    return spark.createDataFrame(rows, "g int, x double")


def _agg(df):
    out = df.groupBy("g").agg(dsum("x", "s"), davg("x", "m")).collect()
    return {r["g"]: (r["s"], r["m"]) for r in out}


def test_dsum_davg_match_decimal_reference(spark):
    groups = _groups()
    got = _agg(_frame(spark, groups))
    for g, xs in groups.items():
        assert got[g] == (_ref_sum(xs), _ref_avg(xs)), g
    assert got[6] == (None, None)  # all-NULL group
    assert got[5][1] == _ref_sum(groups[5]) / 3  # davg divides by non-NULL count


def test_exact_sum_bits_independent_of_partitioning(spark):
    df = _frame(spark, _groups())
    one = _agg(df.repartition(1))
    seven = _agg(df.repartition(7))
    assert one.keys() == seven.keys()
    for g in one:
        assert [None if v is None else v.hex() for v in one[g]] == [
            None if v is None else v.hex() for v in seven[g]
        ]


def test_exact_sum_term_out_of_range_raises_under_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame([(0, 1.0), (0, 9.3e12)], "g int, x double")
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            df.groupBy("g").agg(dsum("x", "s")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_q01_plan_has_no_per_row_decimal_cast(spark, sf_dir):
    """The flagship's sums stay BIGINT per row: no DECIMAL(38,6) cast."""
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "as decimal(38,6)" not in plan
