"""Property/metamorphic tests (SURVEY.md §5.2 item 4) on the cleaners:
idempotence, null-sentinel totality, dedup count laws. Hypothesis drives
value generation; each property batch evaluates through a single Spark job.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.cleaning import (
    TEXT_SENTINELS,
    clean_numeric,
    clean_text,
)
from mini_etl_project_spark.functions.dates import parse_date_multi

# messy-string alphabet biased toward cleaner-relevant shapes
messy = st.one_of(
    st.text(alphabet="0123456789.,+-$ eE", max_size=18),
    st.sampled_from(list(TEXT_SENTINELS)),
    st.text(max_size=12),
    st.dates(datetime.date(1, 1, 1), datetime.date(9999, 12, 31)).map(
        lambda d: d.isoformat()
    ),
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _col(spark, values, builder):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(builder("v").alias("o")).collect()]


@given(st.lists(messy, min_size=1, max_size=25))
@_SETTINGS
def test_text_clean_idempotent(spark, vals):
    once = _col(spark, vals, lambda c: clean_text(c, True))
    twice = _col(
        spark, [v if v is not None else None for v in once], lambda c: clean_text(c, True)
    )
    assert once == twice


@given(st.lists(messy, min_size=1, max_size=25))
@_SETTINGS
def test_numeric_clean_total_and_idempotent(spark, vals):
    # totality: never raises, output is double-or-null
    out = _col(spark, vals, lambda c: clean_numeric(c, compat=True))
    assert all(v is None or isinstance(v, float) for v in out)
    # idempotence on the stringified result (re-cleaning a clean number)
    again = _col(
        spark,
        [None if v is None else repr(v) for v in out],
        lambda c: clean_numeric(c, compat=False),
    )
    for a, b in zip(out, again):
        assert (a is None and b is None) or a == b


@given(st.lists(messy, min_size=1, max_size=25))
@_SETTINGS
def test_date_parse_total(spark, vals):
    out = _col(spark, vals, parse_date_multi)
    assert all(v is None or isinstance(v, datetime.date) for v in out)


def test_sentinels_always_null(spark):
    out = _col(spark, list(TEXT_SENTINELS), lambda c: clean_text(c, False))
    assert out == [None] * len(TEXT_SENTINELS)


def test_dedup_count_law(spark, sf_dir):
    from mini_etl_project_spark.session import load_table

    l = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    assert l.dropDuplicates().count() == l.distinct().count()


# -- round-5 session-2 operator properties ---------------------------------


@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        min_size=1,
        max_size=120,
    )
)
@_SETTINGS
def test_chunking_covers_every_token_once_per_chunk(spark, toks):
    """For any token list: the engine's chunk expression yields
    floor((n-1)/stride)+1 chunks whose concatenation with overlap removed
    reconstructs the original sequence."""
    size, stride = 24, 16
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    rows = df.select(
        F.expr(
            f"transform(sequence(0, int(floor((size(toks)-1)/{stride}))),"
            f" i -> slice(toks, i*{stride}+1, {size}))"
        ).alias("chunks")
    ).collect()
    chunks = rows[0]["chunks"]
    n = len(toks)
    assert len(chunks) == (n - 1) // stride + 1
    # de-overlap: first chunk whole, then tail beyond the overlap
    rebuilt = list(chunks[0])
    for ch in chunks[1:]:
        rebuilt.extend(ch[size - stride :])
    assert rebuilt == toks


@given(
    st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=200)
)
@_SETTINGS
def test_hist_quantile_within_one_bucket_on_random_ints(spark, vals):
    """Histogram-interpolated p50 lands within one bucket width of the
    exact discrete median for arbitrary non-negative ints."""
    width = 10**5
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    hist = (
        df.select(F.expr(f"c DIV {width}").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    n = len(vals)
    rank = (n - 1) * 50 // 100 + 1
    cum = 0
    est = None
    for row in sorted(hist, key=lambda r: r["b"]):
        if cum + row["cnt"] >= rank:
            est = row["b"] * width + (rank - cum - 1) * width // row["cnt"]
            break
        cum += row["cnt"]
    exact = sorted(vals)[rank - 1]
    assert est is not None and abs(est - exact) <= width


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=1, max_value=8),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=5,  # each example runs a multi-round Spark BFS
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_bfs_distance_is_min_over_paths(spark, pairs):
    """BFS distances satisfy the triangle property: for every edge (u,v)
    with both endpoints reached, |d(u) - d(v)| <= 1."""
    from mini_etl_project_spark.operators.graph import bfs_distances

    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    e = df.unionByName(
        df.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    src = spark.createDataFrame([(pairs[0][0],)], "node bigint")
    d = {
        r["node"]: r["d"]
        for r in bfs_distances(e, src, max_hops=8).collect()
    }
    for u, v in pairs:
        if u in d and v in d:
            assert abs(d[u] - d[v]) <= 1
