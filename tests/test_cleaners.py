"""Single-operator semantics pinned by FIXTURES.md §2 probe fixtures
(each input→output pair was verified against the running reference).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.cleaning import clean_numeric, clean_text
from mini_etl_project_spark.functions.dates import parse_date_multi
from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
from mini_etl_project_spark.plans.profile import profile_frame_and_count


def _eval_str(spark, expr_builder, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(expr_builder(F.col("v"))).collect()]


# -- R9 numeric cleaner ----------------------------------------------------

NUMERIC_CASES = [
    ("1,234.56", None),    # comma→dot yields 1.234.56 → null
    ("$99.99", 99.99),     # currency stripped
    ("1.2e3", 1.23),       # 'e' stripped — sci-notation mangled (compat)
    ("200,75", 200.75),    # European decimal comma
    ("-3.5", -3.5),
    ("+4", 4.0),
    ("N/A", None),
    ("", None),
]


def test_clean_numeric_compat(spark):
    vals = [c[0] for c in NUMERIC_CASES]
    got = _eval_str(spark, lambda c: clean_numeric(c, compat=True), vals)
    assert got == [c[1] for c in NUMERIC_CASES]


def test_clean_numeric_native_preserves_scientific(spark):
    got = _eval_str(spark, lambda c: clean_numeric(c, compat=False), ["1.2e3", "$5"])
    assert got == [1200.0, 5.0]


def test_clean_numeric_double_matches_pandas_repr_path(spark):
    """A double-typed numeric column cleans like the reference's
    ``astype(str)`` → strip → ``to_numeric`` path at every edge of Python's
    positional repr (0, 1e-4, 1e16, nan, ±inf) — not via Spark's
    double→string cast, whose ``1.2345678E7`` the strip would mangle."""
    import math

    import pandas as pd

    xs = [
        0.0, -0.0, 1e-4, -1e-4, 9.99e-5, 1e-5, 1.5e-4, 1.5e-3, 123.25,
        12345678.9, 1e9, -1e9, 9999999999999998.0, 1e16, -1e16, 1e300,
        float("nan"), float("inf"), float("-inf"),
    ]
    s = pd.Series(xs, dtype="float64")
    ref = pd.to_numeric(
        s.astype(str)
        .str.replace(r"[^\d\.,\-+]", "", regex=True)
        .str.replace(",", "."),
        errors="coerce",
    )
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(xs)), "x": s}))
    pipe = AutoETLPipeline(eager_summary=False, assume_partitioned=True)
    pipe.transform(df)
    assert pipe.column_types["x"] == "numeric"
    got = {int(r["i"]): r["x"] for r in pipe._cached_base.collect()}
    pipe.release()
    for i, want in enumerate(ref):
        want = None if math.isnan(want) else want
        assert got[i] == want, (xs[i], got[i], want)


# -- R8 date parse ---------------------------------------------------------

DATE_CASES = [
    ("03/04/2023", datetime.date(2023, 4, 3)),   # day-first precedence
    ("2023-01-01 12:00:00", datetime.date(2023, 1, 1)),  # time truncated
    ("15-03-2023", datetime.date(2023, 3, 15)),
    ("20230101", datetime.date(2023, 1, 1)),
    ("2023.05.20", datetime.date(2023, 5, 20)),
    (" 2023-06-01 ", datetime.date(2023, 6, 1)),  # trimmed before parse
    ("invalid", None),
]


def test_parse_date_multi(spark):
    got = _eval_str(spark, parse_date_multi, [c[0] for c in DATE_CASES])
    assert got == [c[1] for c in DATE_CASES]


def test_parse_date_roundtrip_all_16_formats(spark):
    """Every format in the chain parses its own rendering of a probe date
    (day ≤ 12 cases resolve by precedence, day > 12 disambiguate)."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.functions.dates import DATE_FORMATS

    df = spark.createDataFrame(
        [("2023-03-07",), ("2023-11-28",)], "d string"
    ).select(F.col("d").cast("date").alias("d"))
    for fmt in DATE_FORMATS:
        out = df.select(
            "d", parse_date_multi(F.date_format("d", fmt)).alias("p")
        ).collect()
        for r in out:
            assert r["p"] is not None, fmt
            # day ≤ 12 renderings are genuinely ambiguous and resolve by
            # precedence (day-first); day > 12 must roundtrip exactly
            if r["d"].day > 12:
                assert r["p"] == r["d"], (fmt, r)


# -- R10 text cleaner ------------------------------------------------------

def test_clean_text_sentinels_and_collapse(spark):
    vals = ["  x  ", "N/A", "null", "a   b    c"]
    no_collapse = _eval_str(spark, lambda c: clean_text(c, False), vals)
    assert no_collapse == ["x", None, None, "a   b    c"]
    collapsed = _eval_str(spark, lambda c: clean_text(c, True), vals)
    assert collapsed == ["x", None, None, "a b c"]


# -- R7 detection boundaries (strict 70 %) ---------------------------------

def test_detection_threshold_strict(spark):
    import pandas as pd

    ten = ["1", "2", "3", "4", "5", "6", "7", "xxxxxxxxxxxxxxxx1", "xxxxxxxxxxxxxxx2", "xxxxxxxxxxxxxx3"]
    eight = ["1", "2", "3", "4", "5", "6", "7", "8", "xxxxxxxxxxxxxxx1", "xxxxxxxxxxxxxx2"]
    df = spark.createDataFrame(pd.DataFrame({"p70": ten, "p80": eight}))
    prof = profile_frame_and_count(df)[0]
    assert prof["p70"].logical_type != "numeric"  # exactly 70 % → NOT numeric
    assert prof["p80"].logical_type == "numeric"  # 80 % → numeric


def test_detection_categorical_and_text(spark):
    import pandas as pd

    cat = ["a", "b"] * 50                      # ratio 0.02, distinct 2 < 50
    txt = [f"long-unique-string-number-{i}" for i in range(100)]
    df = spark.createDataFrame(pd.DataFrame({"cat": cat, "txt": txt}))
    prof = profile_frame_and_count(df)[0]
    assert prof["cat"].logical_type == "categorical"
    assert prof["txt"].logical_type == "text"


# -- R12 categorical cleaning + rare merge ---------------------------------

def test_categorical_rare_merge(spark):
    import pandas as pd

    vals = ["a"] * 50 + ["b"] * 48 + ["c", "d"]   # threshold max(2, 1) = 2
    pipe = AutoETLPipeline()
    out = pipe.transform(spark.createDataFrame(pd.DataFrame({"cat": vals})))
    counts = {r["cat"]: r["n"] for r in out.groupBy(F.col("cat")).agg(F.count("*").alias("n")).collect()}
    # dedup collapses to distinct values; check the merge happened
    assert set(counts) == {"A", "B", "Other"}
    assert pipe.column_types == {"cat": "categorical"}
    assert any("rare" in n for n in pipe.cleaning_report["cat"])


# -- R13 drop mostly-null columns ------------------------------------------

def test_drop_mostly_null_column(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "keep": [str(i) for i in range(10)],
                "dropme": ["N/A"] * 9 + ["x"],   # 90 % null after cleaning
            }
        )
    )
    pipe = AutoETLPipeline()
    out = pipe.transform(df)
    assert out.columns == ["keep"]
    assert any("dropped column" in n for n in pipe.cleaning_report["dropme"])


# -- R16 outlier clamp -----------------------------------------------------

def test_outlier_clamped_to_quantile(spark):
    import pandas as pd

    vals = [1.0] * 20 + [1000.0]
    pipe = AutoETLPipeline()
    out = pipe.transform(spark.createDataFrame(pd.DataFrame({"x": vals})))
    rows = [r["x"] for r in out.collect()]
    # 1000 has z > 3 → clamped to q95 = 1.0; dedup leaves a single row
    assert rows == [1.0]
    assert any("outlier" in n for n in pipe.cleaning_report["x"])


def test_run_etl_lazy_reports_clamps_after_load(spark, tmp_path):
    """With ``eager_summary=False`` no summary job fills the outlier
    observation; ``run_etl``'s load does, and its clamp line must reach
    the cleaning report."""
    import pandas as pd

    vals = [1.0] * 20 + [1000.0]
    pipe = AutoETLPipeline(eager_summary=False)
    pipe.run_etl(
        spark,
        pd.DataFrame({"x": vals}),
        output_path=str(tmp_path / "out.parquet"),
    )
    assert "clamped 1 outlier values" in pipe.cleaning_report["x"]


# -- R14/R15 imputation ----------------------------------------------------

def test_median_and_mode_fill(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "num": ["1", "2", "3", "4", "N/A"],
                "txt": ["aaaaaaaaaaaaaaaaaaaaaaa-b", None, "aaaaaaaaaaaaaaaaaaaaaaa-b",
                        "zzzzzzzzzzzzzzzzzzzzzzz-c", "zzzzzzzzzzzzzzzzzzzzzzz-a"],
                # every raw value parses, so the profile predicts no fill,
                # but the compat strip nulls "inf": the full-scan null
                # count sends the median to the mispredict fallback
                "inf": ["1", "2", "3", "4", "inf"],
            }
        )
    )
    pipe = AutoETLPipeline()
    calls = []
    real = pipe._fill_stats

    def spy(*a):
        calls.append(a)
        return real(*a)

    pipe._fill_stats = spy
    out = pipe.transform(df)
    nums = sorted(r["num"] for r in out.collect())
    assert nums == [1.0, 2.0, 2.5, 3.0, 4.0]          # median 2.5 (interpolated)
    txts = [r["txt"] for r in out.collect()]
    assert txts.count("aaaaaaaaaaaaaaaaaaaaaaa-b") == 3  # mode fills the null
    assert sorted(r["inf"] for r in out.collect()) == [1.0, 2.0, 2.5, 3.0, 4.0]
    assert "filled missing values with median: 2.5" in pipe.cleaning_report["inf"]
    assert len(calls) == 2                            # fused stats + fallback
