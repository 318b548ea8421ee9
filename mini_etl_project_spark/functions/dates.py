"""Multi-format date parsing (reference R8, ETL_PROJECT.py:43-61).

The reference tries 16 strptime formats in declared order — order IS
precedence (day-first formats precede month-first, so ``03/04/2023`` parses
as April 3rd). We compile the same chain into one ``coalesce(try_to_date,
…)`` expression, built as SQL text (``parse_date_sql``) and parsed once by
``F.expr``: JVM-side, codegen-friendly, no per-row Python and no per-call
py4j round trips.

``try_to_date`` (not ``to_date``) keeps null-on-mismatch semantics under
Spark 4's default ANSI mode. Datetime-bearing formats truncate to date,
matching the reference's ``.date()`` call (ETL_PROJECT.py:58).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.sqltext import sql_lit

#: strptime → Spark datetime pattern, in the reference's precedence order
#: (ETL_PROJECT.py:48-54).
DATE_FORMATS: tuple[str, ...] = (
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "dd-MM-yyyy",
    "dd/MM/yyyy",
    "MM-dd-yyyy",
    "MM/dd/yyyy",
    "yyyy.MM.dd",
    "dd.MM.yyyy",
    "MM.dd.yyyy",
    "yyyyMMdd",
    "ddMMyyyy",
    "MMddyyyy",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "dd-MM-yyyy HH:mm:ss",
    "dd/MM/yyyy HH:mm:ss",
)


#: Anchored shape-guards per format. ``try_to_date`` signals mismatch with
#: a caught JVM exception, so an unguarded 16-format chain pays ~16
#: exception throws per non-date value — profiling a 100 TB string column
#: would burn executor CPU on exception bookkeeping. Each guard is a
#: SUPERSET of what its format can parse (never changes results, only
#: skips impossible attempts); regexes compile once per task.
_G_D = r"\d{1,2}"
_G_Y = r"\d{1,4}"
_G_TIME = r" \d{1,2}:\d{1,2}:\d{1,2}"
FORMAT_GUARDS: dict[str, str] = {
    "yyyy-MM-dd": rf"^{_G_Y}-{_G_D}-{_G_D}$",
    "yyyy/MM/dd": rf"^{_G_Y}/{_G_D}/{_G_D}$",
    "dd-MM-yyyy": rf"^{_G_D}-{_G_D}-{_G_Y}$",
    "dd/MM/yyyy": rf"^{_G_D}/{_G_D}/{_G_Y}$",
    "MM-dd-yyyy": rf"^{_G_D}-{_G_D}-{_G_Y}$",
    "MM/dd/yyyy": rf"^{_G_D}/{_G_D}/{_G_Y}$",
    "yyyy.MM.dd": rf"^{_G_Y}\.{_G_D}\.{_G_D}$",
    "dd.MM.yyyy": rf"^{_G_D}\.{_G_D}\.{_G_Y}$",
    "MM.dd.yyyy": rf"^{_G_D}\.{_G_D}\.{_G_Y}$",
    "yyyyMMdd": r"^\d{8}$",
    "ddMMyyyy": r"^\d{8}$",
    "MMddyyyy": r"^\d{8}$",
    "yyyy-MM-dd HH:mm:ss": rf"^{_G_Y}-{_G_D}-{_G_D}{_G_TIME}$",
    "yyyy/MM/dd HH:mm:ss": rf"^{_G_Y}/{_G_D}/{_G_D}{_G_TIME}$",
    "dd-MM-yyyy HH:mm:ss": rf"^{_G_D}-{_G_D}-{_G_Y}{_G_TIME}$",
    "dd/MM/yyyy HH:mm:ss": rf"^{_G_D}/{_G_D}/{_G_Y}{_G_TIME}$",
}


#: Shape families, mutually exclusive by construction (anchored, distinct
#: separators / time suffix). Formats within a family keep their relative
#: precedence order; cross-family order is irrelevant because a value can
#: match at most one family — so the family regrouping below is
#: semantically identical to the flat 16-format chain while evaluating
#: ≤6 family regexes (instead of 16 guards) per non-matching value.
_FAMILIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    (rf"^{_G_Y}-{_G_D}-{_G_Y}$", ("yyyy-MM-dd", "dd-MM-yyyy", "MM-dd-yyyy")),
    (rf"^{_G_Y}/{_G_D}/{_G_Y}$", ("yyyy/MM/dd", "dd/MM/yyyy", "MM/dd/yyyy")),
    (rf"^{_G_Y}\.{_G_D}\.{_G_Y}$", ("yyyy.MM.dd", "dd.MM.yyyy", "MM.dd.yyyy")),
    (r"^\d{8}$", ("yyyyMMdd", "ddMMyyyy", "MMddyyyy")),
    (
        rf"^{_G_Y}-{_G_D}-{_G_Y}{_G_TIME}$",
        ("yyyy-MM-dd HH:mm:ss", "dd-MM-yyyy HH:mm:ss"),
    ),
    (
        rf"^{_G_Y}/{_G_D}/{_G_Y}{_G_TIME}$",
        ("yyyy/MM/dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss"),
    ),
)


#: The Java-regex ``\s`` character set: what the reference's
#: ``str.strip()`` removes around a value (``F.trim`` strips spaces only).
WS = " \t\n\x0b\x0c\r"


def trim_sql(col: str) -> str:
    """SQL stripping every ``WS`` character from both ends of ``col`` cast
    to string. ``btrim`` over the char set equals the regex strip
    ``regexp_replace(c, '^\\s+|\\s+$', '')`` without the regex."""
    return f"btrim(CAST({col} AS STRING), {sql_lit(WS)})"


def parse_date_sql(s: str) -> str:
    """SQL for the 16-format chain over ``s``, an already trimmed string
    expression; null if no format matches. Structured as family dispatch
    (see ``_FAMILIES``) purely for speed; results are identical to the
    flat precedence chain. Every family starts with a digit, so a 1-char
    prefilter skips the 6 family regexes for ``$1.23``, ``N/A``, free
    text, … (identity on results)."""
    branches = " ".join(
        f"WHEN {s} RLIKE {sql_lit(family_rx)} THEN coalesce("
        + ", ".join(
            f"CASE WHEN {s} RLIKE {sql_lit(FORMAT_GUARDS[fmt])} "
            f"THEN try_to_date({s}, {sql_lit(fmt)}) END"
            for fmt in fmts
        )
        + ")"
        for family_rx, fmts in _FAMILIES
    )
    digit = sql_lit(r"^\d")
    return f"CASE WHEN {s} RLIKE {digit} THEN CASE {branches} END END"


def parse_date_multi(col: str) -> Column:
    """Best-effort date parse of ``col`` (SQL text: a column name or any
    expression) over the 16-format chain; null if none match. The input is
    trimmed first (the reference strips before strptime)."""
    return F.expr(parse_date_sql(trim_sql(col)))
