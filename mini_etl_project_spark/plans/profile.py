"""Column profiling → logical type inference (reference R7,
ETL_PROJECT.py:16-41).

The reference scans every column ~4 times with per-row Python. Here the
whole profile is ONE wide aggregation job — per column: non-null count,
HLL distinct count (``approx_count_distinct``), mean stringified length,
date-parse successes (16-format chain), numeric-parse successes, and, for
string columns, the text cleaner's non-null count and mean cleaned length
(``t = text_sql(s, False)``: ``count(t)``, ``avg(length(t))``) — and the
driver applies the reference's strict threshold rules to produce a
logical type per column. The per-type cleaned non-null counts also tell
the pipeline which columns may need a fill, and the cleaned length which
whitespace variant a text fill reads.

This two-phase profile→plan flow is the engine's core custom machinery
(SURVEY.md §4.2): data-dependent typed plans, no custom Catalyst rules.

Scale: one job, ~7 aggregates per column, all codegen'd and partial-
aggregable. The job is a projection of each column's shared input — the
raw value and, for string-scanned columns, its whitespace-trimmed string
``s``, trimmed once per row — under one aggregate whose entries all read
``s``; every entry is SQL text, so building the plan costs two
``selectExpr`` calls, not a py4j round trip per Column-API node.
Detection only compares the distinct count against coarse bounds (the
50 / 30 %-ratio categorical rule), where HLL's ~2 % error is immaterial
— an exact multi-column COUNT(DISTINCT) would cost a whole extra job (it
compiles to an Expand that replicates the stream per column).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from mini_etl_project_spark.functions.cleaning import guarded_double_sql, text_sql
from mini_etl_project_spark.functions.dates import parse_date_sql, trim_sql
from mini_etl_project_spark.functions.sqltext import q

#: Logical types (reference vocabulary).
DATE, NUMERIC, CATEGORICAL, TEXT, UNKNOWN = (
    "date",
    "numeric",
    "categorical",
    "text",
    "unknown",
)


@dataclass(frozen=True)
class ColumnProfile:
    name: str
    non_null: int
    distinct: int
    avg_len: float | None = None  # mean length of str-cast non-null values
    date_ok: int = 0
    numeric_ok: int = 0
    text_ok: int = 0  # non-null values after the text cleaner
    text_len: float | None = None  # their mean length

    @property
    def unique_ratio(self) -> float:
        return self.distinct / self.non_null if self.non_null else 0.0

    @property
    def logical_type(self) -> str:
        """The reference's priority rules, thresholds strict
        (ETL_PROJECT.py:19-41; verified: exactly 70 % numeric → unknown).
        """
        if self.non_null == 0:
            return UNKNOWN
        if self.date_ok / self.non_null > 0.7:
            return DATE
        if self.numeric_ok / self.non_null > 0.7:
            return NUMERIC
        if 0 < self.unique_ratio <= 0.3 and self.distinct < 50:
            return CATEGORICAL
        if (self.avg_len or 0.0) > 10 and self.unique_ratio > 0.5:
            return TEXT
        return UNKNOWN


def profile_frame_and_count(
    df: DataFrame,
) -> tuple[dict[str, ColumnProfile], int]:
    """Profile every column in one aggregation job; also returns the
    frame's row count.

    Two levels: a projection carries each raw column and, for string-
    scanned columns, its ``trim_sql`` string once; the aggregates read
    those attributes. Every aggregate is one SQL text entry, read back by
    position."""
    inputs: list[str] = []
    aggs = ["count(1)"]
    fields: list[tuple[str, list[str]]] = []
    for i, f in enumerate(df.schema.fields):
        r, s = f"_r{i}", f"_s{i}"
        inputs.append(f"{q(f.name)} AS {r}")
        stats = {"non_null": f"count({r})", "distinct": f"approx_count_distinct({r})"}
        # Typed fast paths — semantically equal to the string-scan rules,
        # minus the work. float/double stringify with a fractional part
        # (".0" at minimum) so no date format can match → date_ok = 0 and
        # numeric_ok = non_null. date/timestamp stringify as
        # "yyyy-MM-dd[ HH:mm:ss]" → date_ok = non_null, numeric_ok = 0.
        # Integer columns KEEP the date scan: 8-digit ints parse under
        # yyyyMMdd, which the reference would detect as dates. avg_len
        # only matters for the text-type rule, which numeric/date typed
        # columns can never reach (they pass an earlier rule at 100 %),
        # and they reach text/unknown only when all-null, where a 0
        # cleaned count is exact.
        kind = f.dataType.typeName()
        if kind in ("double", "float", "decimal"):
            stats["numeric_ok"] = f"count({r})"
        elif kind in ("date", "timestamp", "timestamp_ntz"):
            stats["date_ok"] = f"count({r})"
        else:
            # trim_sql strips the Java-regex \s set, not just spaces:
            # pd.to_numeric accepts tab/newline-padded numerics, and the
            # date chain strips all whitespace too. The text counts are
            # exactly the text/unknown cleaned base.
            inputs.append(f"{trim_sql(q(f.name))} AS {s}")
            t = text_sql(s, False)
            stats.update(
                avg_len=f"avg(length(CAST({r} AS STRING)))",
                date_ok=f"count({parse_date_sql(s)})",
                numeric_ok=f"count({guarded_double_sql(s)})",
                text_ok=f"count({t})",
                text_len=f"avg(length({t}))",
            )
        fields.append((f.name, list(stats)))
        aggs += stats.values()
    row = df.selectExpr(*inputs).selectExpr(*aggs).collect()[0]
    profiles, j = {}, 1
    for name, keys in fields:
        profiles[name] = ColumnProfile(
            name, **dict(zip(keys, row[j : j + len(keys)]))
        )
        j += len(keys)
    return profiles, row[0]
