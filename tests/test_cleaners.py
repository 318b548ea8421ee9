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
    return [r[0] for r in df.select(expr_builder("v")).collect()]


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
    pipe = AutoETLPipeline(eager_summary=False)
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
            "d", parse_date_multi(f"date_format(d, '{fmt}')").alias("p")
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


# -- SQL-text construction: identifiers, literals, plan shape, cost ---------

_EXTRACT_SCHEMA = "okey string, price string, ship string, flag string, note string"


def _extract_rows(n):
    """An all-string extract shaped like perfbench's ``autoetl`` input, plus
    a free-text column: every cleaner, fill, rare merge and clamp fires."""
    rows = []
    for i in range(n):
        price = f"{'$' if i % 20 == 1 else ''}{100 + (i * 37) % 900}.{i % 100:02d}"
        price = "N/A" if i % 8 == 0 else ("99999999.00" if i == 7 else price)
        ship = "N/A" if i % 50 == 3 else f"{1 + i % 28:02d}/{1 + i % 12:02d}/199{i % 10}"
        flag = "N/A" if i % 40 == 5 else ("x" if i == 11 else "ANR"[i % 3])
        note = None if i % 30 == 2 else f"note  number {i}   with   spaces"
        rows.append((str(1000 + i), price, ship, flag, note))
    return rows + rows[: n // 50]


@pytest.mark.parametrize("k", [20, None])
def test_autoetl_quotes_unusual_column_names(spark, k):
    """Names with a dot, a space, a backtick and a quote clean exactly like
    plain names: same rows, types, report and summary, renamed back."""
    odd = ["okey", "unit.price", "ship date", "a`b", "it's"]
    plain = spark.createDataFrame(_extract_rows(600), _EXTRACT_SCHEMA)
    runs = []
    for df in (plain, plain.toDF(*odd)):
        pipe = AutoETLPipeline(profile_sample_mod=k)
        out = pipe.transform(df)
        runs.append((pipe, out.columns, sorted(out.collect(), key=repr)))
        pipe.release()
    (p_pipe, p_cols, p_rows), (o_pipe, o_cols, o_rows) = runs
    name = dict(zip(plain.columns, odd))
    assert o_cols == [name[c] for c in p_cols]
    assert o_rows == p_rows
    assert o_pipe.column_types == {name[c]: t for c, t in p_pipe.column_types.items()}
    assert o_pipe.cleaning_report == {
        name.get(c, c): v for c, v in p_pipe.cleaning_report.items()
    }
    summary = dict(p_pipe.data_summary)
    for key in ("column_types", "missing_values", "numeric_columns", "date_columns"):
        summary[key] = {name[c]: v for c, v in summary[key].items()}
    # float sums over the shuffled dedup output depend on arrival order
    num = summary.pop("numeric_columns")
    got = dict(o_pipe.data_summary)
    assert got.pop("numeric_columns") == {
        c: pytest.approx(st, rel=1e-12) for c, st in num.items()
    }
    assert got == summary
    assert any("clamped" in n for n in o_pipe.cleaning_report["unit.price"])
    assert any("rare" in n for n in o_pipe.cleaning_report["a`b"])


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_sql_literals_round_trip_under_both_parser_settings(spark, escaped):
    """``sql_lit`` values parse back bit-exactly whatever
    ``spark.sql.parser.escapedStringLiterals`` says, and so do the fills
    the pipeline writes as literals (a median, a date, a quoted string)."""
    import math
    import struct

    from mini_etl_project_spark.functions.sqltext import sql_lit

    doubles = [-0.0, 5e-324, 0.1 + 0.2, 1e16, float("nan"), float("inf"), float("-inf")]
    strings = ["it's", "a\\b", "a\nb", "a\tb", "naïve café ☃", ""]
    bits = lambda x: struct.pack(">d", x)  # noqa: E731
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, escaped)
    try:
        vals = doubles + strings
        row = spark.range(1).selectExpr(
            *[f"{sql_lit(v)} AS _{i}" for i, v in enumerate(vals)]
        ).collect()[0]
        for x, got in zip(doubles, row):
            assert math.isnan(got) if math.isnan(x) else bits(got) == bits(x), x
        assert list(row[len(doubles):]) == strings

        df = spark.createDataFrame(
            [
                ("1", "0.30000000000000004", "2023-01-05", "it's a\\b"),
                ("2", "0.30000000000000004", "2023-01-05", "it's a\\b"),
                ("3", "0.30000000000000004", "2023-01-05", "it's a\\b"),
                ("4", "5", "2023-02-01", "tab\there"),
                ("5", "N/A", None, None),
            ],
            "k string, x string, d string, t string",
        )
        pipe = AutoETLPipeline(eager_summary=False)
        filled = {r["k"]: r for r in pipe.transform(df).collect()}[5.0]
        pipe.release()
    finally:
        spark.conf.unset(key)
    assert pipe.column_types == {"k": "numeric", "x": "numeric", "d": "date", "t": "unknown"}
    assert bits(filled["x"]) == bits(0.1 + 0.2)
    assert filled["d"] == datetime.date(2023, 1, 5)
    assert filled["t"] == "it's a\\b"


def test_cleaned_base_trims_and_strips_each_input_once(spark, tmp_path):
    """The persisted base is two projections: each input column's trim or
    numeric strip appears once in its optimized plan, however many times
    the guards, the date chain and initcap read the result."""
    import re

    path = str(tmp_path / "extract")
    spark.createDataFrame(_extract_rows(600), _EXTRACT_SCHEMA).write.parquet(path)
    df = spark.read.parquet(path)
    pipe = AutoETLPipeline(eager_summary=False)
    pipe.transform(df)
    plan = pipe._cached_base._jdf.queryExecution().optimizedPlan().toString()
    pipe.release()
    assert set(pipe.column_types.values()) == {"numeric", "date", "categorical", "text"}
    for c in df.columns:
        reads = re.findall(rf"\b(?:trim|regexp_replace)\((?:coalesce\()?{c}#\d+", plan)
        assert len(reads) == 1, (c, len(reads))


def test_transform_construction_py4j_calls(spark, monkeypatch):
    """Building a transform's plans is a bounded number of JVM round trips:
    every expression is one SQL text entry, not a Column-API tree."""
    df = spark.createDataFrame(_extract_rows(2000), _EXTRACT_SCHEMA).drop("note")
    cfg = dict(compat=True, eager_summary=False, exact_stats=False, profile_sample_mod=20)
    AutoETLPipeline(**cfg).transform(df)  # warm-up
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    pipe = AutoETLPipeline(**cfg)
    pipe.transform(df)
    monkeypatch.undo()
    pipe.release()
    assert pipe.column_types == {
        "okey": "numeric", "price": "numeric", "ship": "date", "flag": "categorical"
    }
    assert len(calls) <= 2000, len(calls)
