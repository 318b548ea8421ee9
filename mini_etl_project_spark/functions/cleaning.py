"""Type-dispatched column cleaners (reference R9–R12) as pure expression
builders — no actions, no Python row loops.

Each cleaner is built as SQL text and parsed once by ``F.expr``. It takes
``col`` as SQL text (a column name, or any expression; quote unusual names
with ``sqltext.q``) and returns one Column. Each is the composition of two
``*_sql`` parts, which ``AutoETLPipeline`` evaluates as two projections:

- an input part over the raw column — the trimmed string (date, text), the
  trimmed ``'nan'``-coalesced string (categorical), or the stripped,
  comma-swapped string (numeric);
- a cleaning part over that input — shape guards and casts, the date
  chain, sentinel nulls, ``initcap``.

The pipeline projects every input part once, and its cleaning parts read
the projected attribute: ``CollapseProject`` does not inline a non-cheap
expression its consumer references twice, so each strip or trim runs once
per row instead of once per reference.

Each cleaner mirrors the reference cleaner's observable semantics,
including its quirks (verified by executing the reference; see
FIXTURES.md §2):

- numeric (ETL_PROJECT.py:63-76): strip chars outside ``[\\d.,+-]`` (this
  mangles scientific notation: ``1.2e3`` → ``1.23`` — reproduced in compat
  mode), ``,`` → ``.``, empty → null, cast-or-null to double.
- text (ETL_PROJECT.py:78-92): trim, 8 sentinel nulls, whitespace collapse
  only when the column's mean length exceeds 20 (a profile-driven plan
  decision — the expression differs per column).
- date (ETL_PROJECT.py:94-104): the 16-format parse chain.
- categorical (ETL_PROJECT.py:106-127): trim + title-case, then sentinel
  nulls. Because the reference title-cases FIRST, only ``{"", "None",
  "N/A"}`` of its sentinel dict can ever match (e.g. ``"NULL"`` has already
  become ``"Null"``) — we encode the effective set. The rare-value merge
  (count < max(2, 0.01·n) → ``"Other"``) is an aggregation, handled in the
  pipeline (plans/pipeline.py), not here.

Title-case caveat: Spark ``initcap`` differs from ``str.title()`` on
non-space word boundaries (``"o'brien"`` → ``O'brien`` vs ``O'Brien``).
Engine semantics are initcap (SURVEY.md §7 hard-part 1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.dates import parse_date_sql, trim_sql
from mini_etl_project_spark.functions.sqltext import sql_lit

#: Sentinel strings the text cleaner nullifies (ETL_PROJECT.py:81-85).
TEXT_SENTINELS: tuple[str, ...] = ("", "nan", "None", "NULL", "N/A", "n/a", "null", "NaN")

#: Reachable sentinels for the categorical cleaner, matched
#: case-insensitively BEFORE initcap. The reference title-cases first and
#: then matches {"", "nan", "None", "NULL", "N/A", "n/a"} — post-title,
#: only values title-casing to "None" or "N/A" (or empty) can match, i.e.
#: exactly the case-insensitive classes of "none" and "n/a". We match
#: pre-initcap because Spark's initcap splits words on whitespace only
#: ("n/a" → "N/a", which the reference's dict WOULD have caught via
#: str.title's punctuation boundaries).
CATEGORICAL_SENTINELS: tuple[str, ...] = ("", "none", "n/a")


#: Superset of string shapes Spark's string→double cast accepts.
#: ``try_cast`` signals failure via caught JVM exceptions; on a mostly
#: non-numeric string column that's an exception per row. The guard makes
#: garbage skip the attempt entirely (same null result, no throw). The
#: empty string never matches, so the guard also nulls it.
NUMERIC_SHAPE = (
    r"^[+-]?((\d+\.?\d*|\.\d+)([eEdD][+-]?\d+)?|[iI]nf(inity)?|[nN]a[nN])$"
)

#: The reference's numeric strip: every char outside ``[\d.,+-]``.
_STRIP = r"[^\d\.,\-+]"
_WS_RUN = sql_lit(r"\s+")


def _in_list(values: tuple[str, ...]) -> str:
    return ", ".join(sql_lit(v) for v in values)


def guarded_double_sql(s: str) -> str:
    """SQL: null-on-mismatch string→double without exception overhead."""
    return f"CASE WHEN {s} RLIKE {sql_lit(NUMERIC_SHAPE)} THEN try_cast({s} AS DOUBLE) END"


def _strip_sql(s: str) -> str:
    return f"replace(regexp_replace({s}, {sql_lit(_STRIP)}, ''), ',', '.')"


def numeric_input_sql(col: str, compat: bool = True) -> str:
    """The numeric cleaner's input part: the stripped, comma-swapped string
    (compat), or the space-trimmed string (native)."""
    s = f"CAST({col} AS STRING)"
    return _strip_sql(s) if compat else f"trim({s})"


def numeric_sql(s: str, compat: bool = True) -> str:
    """The numeric cleaner's cleaning part over ``numeric_input_sql``.
    Native mode tries the trimmed string's direct cast first and falls back
    to the strip (which drops the spaces the trim would have)."""
    if compat:
        return guarded_double_sql(s)
    return f"coalesce({guarded_double_sql(s)}, {guarded_double_sql(_strip_sql(s))})"


def clean_numeric(col: str, compat: bool = True) -> Column:
    """R9. ``compat=True`` reproduces the reference's regex pipeline
    (including the scientific-notation mangling and the decimal-comma
    swap); ``compat=False`` is the engine-native cleaner: try a direct
    cast first and fall back to the sanitize-then-cast path, preserving
    well-formed values like ``1.2e3``.
    """
    return F.expr(numeric_sql(numeric_input_sql(col, compat), compat))


def numeric_double_sql(x: str, compat: bool = True) -> str:
    """R9 for a DOUBLE-typed column, without the string round trip.

    The reference strips its regex over ``astype(str)``, Python's float
    repr, which is positional for ``x == 0`` and ``1e-4 <= |x| < 1e16``
    and otherwise ``nan``/``inf``/``1e+16``/``1e-05`` — strings the strip
    turns into non-numbers. Spark's double→string cast already switches
    to ``1.2345678E7`` at 1e7, which the strip would mangle into
    ``1.234567897``. So compat mode keeps exactly the values whose repr
    survives and nulls the rest (NaN and ±inf included: Spark orders NaN
    above every double). ``compat=False`` keeps every value, as the
    native cleaner's direct cast does.
    """
    if not compat:
        return x
    return (
        f"CASE WHEN {x} = 0 OR (abs({x}) >= {sql_lit(1e-4)} "
        f"AND abs({x}) < {sql_lit(1e16)}) THEN {x} END"
    )


def text_sql(t: str, collapse_whitespace: bool) -> str:
    """The text cleaner's cleaning part over ``trim_sql``: sentinel nulls,
    then the optional whitespace collapse."""
    out = f"CASE WHEN {t} IN ({_in_list(TEXT_SENTINELS)}) THEN NULL ELSE {t} END"
    return collapse_sql(out) if collapse_whitespace else out


def collapse_sql(s: str) -> str:
    """The text cleaner's whitespace collapse (ETL_PROJECT.py:88-89)."""
    return f"regexp_replace({s}, {_WS_RUN}, ' ')"


def clean_text(col: str, collapse_whitespace: bool) -> Column:
    """R10. ``collapse_whitespace`` comes from the profile (mean cleaned
    length > 20) — a data-dependent plan decision made by the caller.

    The reference's ``astype(str)`` turns real nulls into ``"nan"`` before
    the sentinel replace maps them back to null, so null-in → null-out
    holds there too; trim-then-nullify gives the same result.
    """
    return F.expr(text_sql(trim_sql(col), collapse_whitespace))


def categorical_input_sql(col: str) -> str:
    """The categorical cleaner's input part. The reference stringifies
    nulls to ``"nan"`` first, which title-cases to ``"Nan"`` and SURVIVES
    as a real category — reproduced here with a coalesce."""
    return trim_sql(f"coalesce(CAST({col} AS STRING), 'nan')")


def categorical_sql(t: str) -> str:
    """The categorical cleaner's cleaning part over
    ``categorical_input_sql``: nullify the (effectively reachable)
    sentinels, title-case the rest."""
    return (
        f"CASE WHEN lower({t}) IN ({_in_list(CATEGORICAL_SENTINELS)}) "
        f"THEN NULL ELSE initcap({t}) END"
    )

