"""SQL-text rendering for expression builders that emit one ``F.expr``.

Building an expression as SQL text costs one parse on the JVM instead of a
py4j round trip per Column-API call. Two helpers keep that text exact:

- ``q`` quotes an identifier, so a name like ``unit.price`` or ``a`b``
  reads as one column, never as a struct field or a syntax error.
- ``sql_lit`` renders a Python value as a literal whose parsed value does
  not depend on session conf: a string holding a quote, a backslash or a
  non-printable character is written as ``CAST(X'<utf-8 hex>' AS STRING)``
  (``spark.sql.parser.escapedStringLiterals`` changes how backslashes in
  a quoted literal parse), and a double as its shortest round-trip repr
  with a ``D`` suffix. The optimizer folds both to plain literals.
"""

from __future__ import annotations

import math


def q(name: str) -> str:
    """``name`` as a backtick-quoted identifier (inner backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(v) -> str:
    """A SQL literal equal to ``F.lit(v)`` for an int, float or str."""
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('%sInfinity' AS DOUBLE)" % ("-" if v < 0 else "")
        return repr(v) + "D"
    if isinstance(v, str):
        if "'" in v or "\\" in v or not v.isprintable():
            return f"CAST(X'{v.encode().hex()}' AS STRING)"
        return f"'{v}'"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")
