"""Pin the ANSI-mode contract for R8/R9 semantics (SURVEY §2.A).

The reference (ETL_PROJECT.py date/numeric cleaners) returns null on
malformed input. Spark 4 defaults to ANSI mode ON, where a bare
``to_date``/``cast`` RAISES instead — and the driver runs our queries on
a PLAIN session (no factory configs), so the engine must keep
null-on-mismatch semantics *under ANSI*, which is why every parse path
uses ``try_to_date``/``try_cast``. These tests freeze that contract so a
future edit (or a Spark default flip) can't silently change it:

1. Behavior pin: with ``spark.sql.ansi.enabled`` forced ON, the R8 date
   chain and R9 numeric cleaner map garbage to null without raising.
2. Source pin: the cleaner modules never call bare ``to_date(`` /
   ``to_number(``, the raising forms under ANSI.
"""

from __future__ import annotations

import re
from pathlib import Path


from mini_etl_project_spark.functions.cleaning import clean_numeric
from mini_etl_project_spark.functions.dates import parse_date_multi

SRC = Path(__file__).resolve().parent.parent / "mini_etl_project_spark"


def test_r8_r9_null_on_malformed_under_ansi(spark):
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [
                ("13/45/9999", "12abc,,99"),   # impossible date, junk number
                ("not a date", ""),             # no shape at all, empty
                ("03/04/2021", "$1234,56"),     # valid day-first, EU decimal
            ],
            ["d", "x"],
        )
        rows = df.select(
            parse_date_multi("d").alias("d2"),
            clean_numeric("x").alias("x2"),
        ).collect()
        assert rows[0]["d2"] is None
        assert rows[1]["d2"] is None
        assert rows[1]["x2"] is None
        got = rows[2]
        assert got["d2"] is not None and got["d2"].day == 3  # day-first
        assert got["x2"] == 1234.56
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_cleaners_use_try_variants_only():
    """Source-level guard: the R8/R9 hot paths must use the try_ forms.

    A bare ``F.to_date(`` or ``.cast("double")`` on user strings would
    pass every ANSI-off test and then throw on the driver's ANSI-on
    session — the exact failure class this pins out.
    """
    for mod in ("functions/dates.py", "functions/cleaning.py"):
        text = (SRC / mod).read_text()
        # strip comments/docstrings so prose mentioning to_date doesn't trip
        code = re.sub(r'"""[\s\S]*?"""', "", text)
        code = "\n".join(ln.split("#")[0] for ln in code.splitlines())
        assert not re.search(r"(?<!try_)to_date\(", code), mod
        assert not re.search(r"(?<!try_)to_timestamp\(", code), mod
        assert "try_to_date" in code or "try_cast" in code, mod
