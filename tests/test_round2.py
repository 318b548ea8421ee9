"""Round-2 operator tests: nearest as-of join (incl. the row-level NULL
payload semantics), interval-overlap join, and the AutoETL per-SF row-count
and output-hash tripwires (VERDICT r1 items 7 and 8), plus the sampled-vs-full-profile
differential for `q_etl_pipeline`."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.asof import asof_join
from mini_etl_project_spark.operators.interval import interval_join


def _ts(h: int, m: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(12)), (1, _ts(23)), (2, _ts(5))],
        "k int, lts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(9), 90.0), (1, _ts(13), None), (1, _ts(22), 220.0)],
        "k int, rts timestamp, val double",
    )
    return left, right


def test_asof_nearest_picks_smaller_delta(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", direction="nearest"
    )
    got = {(r["k"], r["lts"].hour): r["rts"] for r in out.collect()}
    assert got[(1, 10)] == _ts(9)      # |1h| back vs |3h| fwd
    assert got[(1, 12)] == _ts(13)     # |1h| fwd beats |3h| back
    assert got[(1, 23)] == _ts(22)     # only backward exists
    assert got[(2, 5)] is None         # no right rows for key 2


def test_asof_match_carries_right_rows_own_nulls(spark, asof_frames):
    """A matched right row whose payload is NULL must surface that NULL —
    not inherit the column from an older right row (ADVICE r1, medium)."""
    left, right = asof_frames
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", direction="backward"
    )
    by_hour = {r["lts"].hour: r for r in out.collect()}
    # 23:00 matches the 22:00 row (220.0); 12:00 matches 9:00 (90.0);
    # a left row at 14:00 would match 13:00 whose val is NULL:
    out2 = asof_join(
        spark.createDataFrame([(1, _ts(14))], "k int, lts timestamp"),
        right,
        on="k",
        left_ts="lts",
        right_ts="rts",
        direction="backward",
    ).collect()
    assert out2[0]["rts"] == _ts(13)
    assert out2[0]["val"] is None      # NOT 90.0 from the older 9:00 row
    assert by_hour[23]["val"] == 220.0
    assert by_hour[10]["val"] == 90.0


def test_asof_nearest_tie_breaks_backward(spark):
    left = spark.createDataFrame([(1, _ts(12))], "k int, lts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(11), "back"), (1, _ts(13), "fwd")], "k int, rts timestamp, tag string"
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", direction="nearest"
    ).collect()
    assert out[0]["tag"] == "back"


def test_interval_join_overlaps_and_dedups(spark):
    a = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 50.0, 60.0), (3, 90.0, 95.0)],
        "a_key int, a_s double, a_e double",
    )
    b = spark.createDataFrame(
        [(10, 5.0, 7.0),    # inside a1
         (11, 9.0, 52.0),   # spans a1..a2 across many buckets
         (12, 200.0, 210.0)],  # overlaps nothing
        "b_key int, b_s double, b_e double",
    )
    out = interval_join(a, b, "a_s", "a_e", "b_s", "b_e", bucket_width=8.0)
    pairs = sorted((r["a_key"], r["b_key"]) for r in out.collect())
    # each overlapping pair exactly once, despite multi-bucket spans
    assert pairs == [(1, 10), (1, 11), (2, 11)]


def test_interval_join_open_bounds(spark):
    a = spark.createDataFrame([(1, 0.0, 10.0)], "a_key int, a_s double, a_e double")
    b = spark.createDataFrame([(2, 10.0, 20.0)], "b_key int, b_s double, b_e double")
    closed = interval_join(a, b, "a_s", "a_e", "b_s", "b_e", bucket_width=8.0)
    opened = interval_join(
        a, b, "a_s", "a_e", "b_s", "b_e", bucket_width=8.0, how_bounds="open"
    )
    assert closed.count() == 1 and opened.count() == 0


#: Pinned output of the generic (rows-only) AutoETL query per SF: row
#: count (the regression tripwire VERDICT r1 item 8 asked for), the
#: sha256 of its sorted full-precision row reprs, and the ``price`` column's
#: cleaning-report lines (its mode fill is the one data-dependent value
#: the output alone does not name). The same at 2 and 4 local cores.
_PIPELINE_GOLDEN = {
    "0.001": (
        6000,
        "437fc4dda7819f7596db635cc5f1deda9cc4155ae4fbf0c7db4bdc3f67c1a271",
        "$32637.82",
    ),
    "0.01": (
        59999,
        "01914b93f47dff6cb1206b54924a704fd95013ed679da296ce36788534d2272a",
        "$35870.85",
    ),
    "0.1": (
        599995,
        "f84c06b2d3ba689bc55eb7f549365d623305a595452922ab8266e54e550a11d4",
        "$26750.52",
    ),
}


def _check_pipeline_golden(spark, monkeypatch, sf_dir, sf):
    import hashlib
    import os

    from mini_etl_project_spark.queries import QUERIES, etl_q

    pipes = []
    real = etl_q.AutoETLPipeline

    def capture(**kw):
        pipes.append(real(**kw))
        return pipes[-1]

    monkeypatch.setattr(etl_q, "AutoETLPipeline", capture)
    sf_path = os.path.join(os.path.dirname(sf_dir), f"sf{sf}")
    rows = QUERIES["q_etl_pipeline"](spark, sf_path).collect()
    n, digest, price_fill = _PIPELINE_GOLDEN[sf]
    assert len(rows) == n
    text = "\n".join(sorted(repr(tuple(r)) for r in rows))
    assert hashlib.sha256(text.encode()).hexdigest() == digest
    assert pipes[0].cleaning_report["price"] == [
        "detected column type: unknown",
        "cleaned text column",
        f"filled missing values with value: {price_fill}",
    ]


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_pipeline_sf_rowcounts(spark, monkeypatch, sf_dir, sf):
    _check_pipeline_golden(spark, monkeypatch, sf_dir, sf)


def test_pipeline_sf01_rowcount(spark, monkeypatch, sf_dir):
    _check_pipeline_golden(spark, monkeypatch, sf_dir, "0.1")


def test_pipeline_sampled_profile_matches_full_profile(
    spark, sf_dir, monkeypatch
):
    """``q_etl_pipeline`` profiles a 1/20 hash sample; every data decision
    reads full-scan jobs, so its output must be the same row multiset as
    the identical pipeline configuration profiling every row."""
    from collections import Counter

    from mini_etl_project_spark.queries import QUERIES, etl_q

    configs: list[dict] = []
    real = etl_q.AutoETLPipeline

    def full_profile(**kw):
        configs.append(dict(kw))
        return real(**{**kw, "profile_sample_mod": None})

    sampled = Counter(QUERIES["q_etl_pipeline"](spark, sf_dir).collect())
    monkeypatch.setattr(etl_q, "AutoETLPipeline", full_profile)
    full = Counter(QUERIES["q_etl_pipeline"](spark, sf_dir).collect())
    assert configs and (configs[0].get("profile_sample_mod") or 1) > 1
    assert sampled == full
