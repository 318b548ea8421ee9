"""Round-9 regression tests.

Short/empty-document guards for the gen-eval text metrics (ROUGE X455,
BLEU X456, chrF X461): Spark's sequence(1, stop) runs DESCENDING when
stop < 1 while DuckDB's generate_series yields an empty list, and ANSI
`DIV 0` throws where DuckDB `// 0` returns NULL.  These tests run the
real query functions AND their registered oracles on a crafted corpus of
0/1/2-token and 0/1/2-char documents and require exact equality — the
adversarial fixtures the sf tables never contain.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import canon_rows, duck_run  # noqa: E402


SHORT_DOCS = [
    # pair (0, 1): empty candidate, normal reference
    (0, "", "en", "web", 0),
    (1, "the quick brown fox jumps", "en", "web", 25),
    # pair (50, 51): 1-token candidate (no bigrams), 2-char reference
    # (no char-3-grams)
    (50, "hello", "en", "web", 5),
    (51, "hi", "en", "web", 2),
    # pair (100, 101): both empty
    (100, "", "en", "web", 0),
    (101, "", "en", "web", 0),
    # pair (150, 151): 1-char candidate, 1-token reference
    (150, "a", "en", "web", 1),
    (151, "hello", "en", "web", 5),
    # pair (200, 201): normal pair with real overlap (control row)
    (200, "the cat sat on the mat", "en", "web", 22),
    (201, "the cat lay on the mat", "en", "web", 22),
    # unpaired filler so the modulo filter has non-pair rows to skip
    (7, "filler text here", "en", "web", 16),
]


@pytest.fixture(scope="module")
def short_doc_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("short_docs")
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in SHORT_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in SHORT_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in SHORT_DOCS], pa.string()),
            "source": pa.array([r[3] for r in SHORT_DOCS], pa.string()),
            "n_chars": pa.array([r[4] for r in SHORT_DOCS], pa.int64()),
        }
    )
    pq.write_table(table, str(d / "documents.parquet"))
    return str(d)


def _compare(spark, sf_dir, name):
    from mini_etl_project_spark.queries import ORACLES, QUERIES

    df = QUERIES[name](spark, sf_dir)
    scols, srows = df.columns, [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    dcols, drows = duck_run(con, ORACLES[name])
    assert sorted(scols) == sorted(dcols)
    assert canon_rows(scols, srows) == canon_rows(dcols, drows)
    return srows


@pytest.mark.parametrize(
    "name",
    ["q_text_rouge1_pairs", "q_text_bleu_precisions", "q_text_chrf_pairs"],
)
def test_short_docs_match_oracle_exactly(spark, short_doc_dir, name):
    rows = _compare(spark, short_doc_dir, name)
    # the control pair must actually survive, so the test can't pass
    # vacuously by emitting zero rows everywhere
    assert any(r[0] == 200 for r in rows), rows


def test_short_docs_expected_shape(spark, short_doc_dir):
    """Pin the semantics, not just cross-engine agreement: a 1-token
    candidate contributes unigram rows but no bigram rows to BLEU, and
    the empty-candidate ROUGE row carries NULL p_ppm (not a crash)."""
    from mini_etl_project_spark.queries import QUERIES

    bleu = {
        (r["pair_id"], r["n"])
        for r in QUERIES["q_text_bleu_precisions"](
            spark, short_doc_dir
        ).collect()
    }
    assert (50, 1) in bleu  # "hello" has a unigram
    assert (50, 2) not in bleu  # ... but no bigram (total_c = 0 filtered)

    rouge = {
        r["pair_id"]: r
        for r in QUERIES["q_text_rouge1_pairs"](spark, short_doc_dir).collect()
    }
    assert rouge[0]["p_ppm"] is None  # empty candidate: NULL, no throw
    assert rouge[0]["r_ppm"] == 0  # 0 overlap over 5 reference tokens
    assert rouge[100]["f1_ppm"] is None  # both empty
    assert rouge[200]["f1_ppm"] > 0  # control pair has real overlap

    chrf = {
        r["pair_id"]: r
        for r in QUERIES["q_text_chrf_pairs"](spark, short_doc_dir).collect()
    }
    assert 100 not in chrf  # no grams on either side: no row at all
    assert chrf[50]["r_ppm"] is None  # "hi" has no char-3-grams
    assert chrf[200]["chrf2_ppm"] > 0


# -- approx-profile flag (SURVEY §4.3, VERDICT r8 ask #4) ---------------------


def _typed_frame(spark):
    """2,000 rows with unambiguous logical types: numeric-string, date-
    string, categorical, text, plus planted nulls/invalids so the fill
    and report machinery all fire."""
    import pandas as pd

    n = 2000
    rows = {
        "id": list(range(n)),
        "amount": [
            ("N/A" if i % 97 == 0 else f"{i}.25") for i in range(n)
        ],
        "when": [
            ("invalid" if i % 89 == 0 else f"2023-{1 + i % 12:02d}-{1 + i % 28:02d}")
            for i in range(n)
        ],
        "grade": [("A", "B", "C", None)[i % 4] for i in range(n)],
        "note": [
            (None if i % 41 == 0 else f"free text body number {i:05d} padding")
            for i in range(n)
        ],
    }
    return spark.createDataFrame(pd.DataFrame(rows))


def test_approx_profile_matches_exact_pipeline(spark):
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    df = _typed_frame(spark)
    exact = AutoETLPipeline(compat=True)
    out_exact = exact.transform(df)
    rows_exact = sorted(out_exact.collect(), key=lambda r: r["id"])

    approx = AutoETLPipeline(compat=True, profile_sample_mod=4)
    out_approx = approx.transform(df)
    rows_approx = sorted(out_approx.collect(), key=lambda r: r["id"])

    # type detection agrees on the unambiguous corpus
    assert approx.column_types == exact.column_types
    # the DATA is identical — fills, clamps, drops and dedup all read
    # exact full-scan jobs regardless of the flag
    assert out_approx.columns == out_exact.columns
    assert rows_approx == rows_exact
    # exact-by-design report lines agree (median fill, date conversion,
    # drop decisions); only the sampled "invalid values" estimate may
    # legitimately differ
    for c in out_exact.columns:
        e_lines = [
            l for l in exact.cleaning_report[c] if "invalid values" not in l
        ]
        a_lines = [
            l for l in approx.cleaning_report[c] if "invalid values" not in l
        ]
        assert a_lines == e_lines, c


def test_cleaned_base_parses_only_typed_columns(spark, tmp_path):
    """The persisted cleaned base runs the 16-format date chain only over
    date-typed columns and the numeric strip regex only over numeric-typed
    ones — the 100 TB regex saving, read off the optimized plan (each
    occurrence is attributed to the input column it reads)."""
    import re

    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    # a parquet scan, not local data: a Project over a local relation is
    # folded into it and leaves no expressions in the plan
    _typed_frame(spark).write.parquet(str(tmp_path / "typed"))
    df = spark.read.parquet(str(tmp_path / "typed"))
    pipe = AutoETLPipeline(eager_summary=False)
    pipe.transform(df)
    plan = pipe._cached_base._jdf.queryExecution().optimizedPlan().toString()
    pipe.release()
    types = pipe.column_types
    date_cols = {c for c, t in types.items() if t == "date"}
    num_cols = {c for c, t in types.items() if t == "numeric"}
    assert date_cols == {"when"}
    assert num_cols == {"id", "amount"}

    # The base is two projections: the first computes each column's input
    # (strip or trim) as an attribute, the second cleans that attribute.
    # Follow each first-level attribute back to the input column it reads.
    source = dict(
        (attr, col)
        for col, attr in re.findall(
            r"(?:trim|regexp_replace)\((?:cast\(|coalesce\()?(\w+)#\d+L?"
            r"[\s\S]*?\) AS (\w+#\d+)",
            plan,
        )
    )
    strip = r"[^\d\.,\-+]"
    num_src = re.findall(
        r"regexp_replace\((?:cast\()?(\w+)#\d+L?(?: as string\))?, "
        + re.escape(strip),
        plan,
    )
    assert len(num_src) == plan.count(strip) > 0
    assert set(num_src) == num_cols

    date_src = [
        source[a] for a in re.findall(r"gettimestamp\((\w+#\d+),", plan)
    ]
    assert len(date_src) == plan.count("try_to_date") > 0
    assert set(date_src) == date_cols


def test_approx_profile_empty_sample_falls_back(spark):
    """A tiny frame whose 1/k hash sample is empty must fall back to the
    exact profile instead of typing everything unknown."""
    import pandas as pd

    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1], "amount": ["7.5"]})
    )
    pipe = AutoETLPipeline(compat=True, profile_sample_mod=1_000_000_007)
    out = pipe.transform(df)
    assert out.count() == 1
    assert pipe.column_types["amount"] == "numeric"


# -- portable natural log (helpers.pln_*) -----------------------------------


def test_pln_bit_identity_and_accuracy(spark):
    """pln must be (a) bit-identical between Spark and DuckDB — that is
    the entire point of building ln from single IEEE ops — and (b)
    within a few ulp of libm's ln. Random sample over the full domain
    plus the boundary/near-1 cases the reduction branches on."""
    import math
    import random

    from pyspark.sql import functions as F

    from mini_etl_project_spark.queries.helpers import (
        pln_finish,
        pln_k,
        pln_red,
        sql_pln_finish,
        sql_pln_k,
        sql_pln_red,
    )

    random.seed(7)
    vals = [
        0.2, 1 / 7, 1.0, 0.5, 2.0, 1.5, 0.75, 3.7, 1e-9,
        0.9999999, 1.0000001, 12.0, 0.031, 1e-17, 95.9, 0.75 * 2.0**-60,
    ]
    vals += [random.uniform(1e-12, 90.0) for _ in range(300)]
    vals += [random.uniform(0.9, 1.1) for _ in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    staged = df.withColumn("red", pln_red(F.col("x"))).withColumn(
        "kk", pln_k(F.col("x"))
    )
    srows = {
        r["x"]: r["l"]
        for r in staged.select(
            "x", pln_finish(F.col("red"), F.col("kk")).alias("l")
        ).collect()
    }
    con = duckdb.connect()
    # string-cast literals: a bare decimal literal parses as DECIMAL in
    # DuckDB and silently loses double precision (found building this)
    con.execute(
        "CREATE TABLE v AS SELECT * FROM (VALUES "
        + ",".join(f"(CAST('{v!r}' AS DOUBLE))" for v in vals)
        + ") t(x)"
    )
    drows = dict(
        con.sql(
            f"WITH r AS (SELECT x, {sql_pln_red('x')} AS red, "
            f"{sql_pln_k('x')} AS kk FROM v) "
            f"SELECT x, {sql_pln_finish('red', 'kk')} AS l FROM r"
        ).fetchall()
    )
    assert len(drows) == len(vals)
    for v in vals:
        assert repr(srows[v]) == repr(drows[v]), v
        rel = abs(drows[v] - math.log(v)) / max(abs(math.log(v)), 1e-300)
        assert rel < 5e-16, (v, rel)


def test_pln_out_of_domain_is_null(spark):
    """Outside [0.75*2^-60, 1.5*2^6) both engines must yield NULL — a
    domain escape must become a visible red row, never silent drift.
    The reduction calls log2/pow, so the guard must also hold on the
    IEEE specials and the subnormal/just-below-domain edge."""
    import math

    from pyspark.sql import functions as F

    from mini_etl_project_spark.queries.helpers import (
        pln_finish,
        pln_k,
        pln_red,
        sql_pln_finish,
        sql_pln_k,
        sql_pln_red,
    )

    bad = [0.0, -1.0, 1e-20, 100.0]
    bad += [math.nan, math.inf, -math.inf, -0.0, 5e-324]
    bad.append(math.nextafter(0.75 * 2**-60, 0))
    df = spark.createDataFrame([(v,) for v in bad], "x double")
    staged = df.withColumn("red", pln_red(F.col("x"))).withColumn(
        "kk", pln_k(F.col("x"))
    )
    got = staged.select(
        pln_finish(F.col("red"), F.col("kk")).alias("l")
    ).collect()
    assert all(r["l"] is None for r in got)
    con = duckdb.connect()
    for v in bad:
        row = con.sql(
            f"WITH r AS (SELECT CAST('{v!r}' AS DOUBLE) AS x), "
            f"s AS (SELECT {sql_pln_red('x')} AS red, "
            f"{sql_pln_k('x')} AS kk FROM r) "
            f"SELECT {sql_pln_finish('red', 'kk')} AS l FROM s"
        ).fetchone()
        assert row[0] is None
