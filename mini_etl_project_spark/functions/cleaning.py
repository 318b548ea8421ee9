"""Type-dispatched column cleaners (reference R9–R12) as pure
Column-expression builders — no actions, no Python row loops.

Each builder mirrors the reference cleaner's observable semantics,
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

from mini_etl_project_spark.functions.dates import parse_date_multi

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
#: garbage skip the attempt entirely (same null result, no throw).
NUMERIC_SHAPE = (
    r"^[+-]?((\d+\.?\d*|\.\d+)([eEdD][+-]?\d+)?|[iI]nf(inity)?|[nN]a[nN])$"
)


def guarded_try_double(s: Column) -> Column:
    """null-on-mismatch string→double without exception overhead."""
    return F.when(s.rlike(NUMERIC_SHAPE), s.try_cast("double"))


def ws_trim(c: Column) -> Column:
    """Strip ALL leading/trailing whitespace. Spark's ``F.trim`` removes
    only ASCII spaces, but the reference's ``str.strip()`` removes tabs,
    newlines, etc. — found by the idempotence property test on ``"\\ta"``.

    ``btrim`` over the exact Java-regex ``\\s`` char set — equivalent to
    ``regexp_replace(c, '^\\s+|\\s+$', '')`` but a plain char scan:
    measured 2× faster standalone and ~5× in the categorical cleaner,
    where the trimmed value feeds two branches and Catalyst evaluates the
    expression twice (regexp twice per row vs btrim twice per row).
    """
    return F.btrim(c, F.lit(" \t\n\x0b\x0c\r"))


def _nullify(c: Column, sentinels: tuple[str, ...]) -> Column:
    out = c
    for s in sentinels:
        out = F.nullif(out, F.lit(s))
    return out


def clean_numeric(col: Column | str, compat: bool = True) -> Column:
    """R9. ``compat=True`` reproduces the reference's regex pipeline
    (including the scientific-notation mangling and the decimal-comma
    swap); ``compat=False`` is the engine-native cleaner: try a direct
    cast first and fall back to the sanitize-then-cast path, preserving
    well-formed values like ``1.2e3``.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    stripped = F.regexp_replace(c, r"[^\d\.,\-+]", "")
    sanitized = F.nullif(F.replace(stripped, F.lit(","), F.lit(".")), F.lit(""))
    via_regex = guarded_try_double(sanitized)
    if compat:
        return via_regex
    return F.coalesce(guarded_try_double(F.trim(c)), via_regex)


def clean_numeric_double(col: Column | str, compat: bool = True) -> Column:
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
    x = F.col(col) if isinstance(col, str) else col
    if not compat:
        return x
    a = F.abs(x)
    return F.when((x == 0) | ((a >= 1e-4) & (a < 1e16)), x)


def clean_text(col: Column | str, collapse_whitespace: bool) -> Column:
    """R10. ``collapse_whitespace`` comes from the profile (mean cleaned
    length > 20) — a data-dependent plan decision made by the caller.

    The reference's ``astype(str)`` turns real nulls into ``"nan"`` before
    the sentinel replace maps them back to null, so null-in → null-out
    holds there too; trim-then-nullify gives the same result.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    out = _nullify(ws_trim(c), TEXT_SENTINELS)
    if collapse_whitespace:
        out = F.regexp_replace(out, r"\s+", " ")
    return out


def clean_date(col: Column | str) -> Column:
    """R11: the R8 parse chain applied to every value."""
    return parse_date_multi(col)


def clean_categorical_base(col: Column | str) -> Column:
    """R12, expression part: normalize case and nullify the (effectively
    reachable) sentinels. The reference stringifies nulls to ``"nan"``
    first, which title-cases to ``"Nan"`` and SURVIVES as a real category —
    reproduced here with a coalesce.

    The rare-value merge needs a frequency aggregate → see
    ``AutoETLPipeline`` (it composes this expression with a counts join).
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    t = ws_trim(F.coalesce(c, F.lit("nan")))
    return F.when(F.lower(t).isin(*CATEGORICAL_SENTINELS), F.lit(None)).otherwise(
        F.initcap(t)
    )
