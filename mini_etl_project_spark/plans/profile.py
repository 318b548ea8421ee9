"""Column profiling → logical type inference (reference R7,
ETL_PROJECT.py:16-41).

The reference scans every column ~4 times with per-row Python. Here the
whole profile is ONE wide aggregation job — per column: non-null count,
HLL distinct count (``approx_count_distinct``), mean stringified length,
date-parse successes (16-format chain), numeric-parse successes, and, for
string columns, the text cleaner's non-null count and mean cleaned length
(``t = clean_text(s, False)``: ``count(t)``, ``avg(length(t))``) — and the
driver applies the reference's strict threshold rules to produce a
logical type per column. The per-type cleaned non-null counts also tell
the pipeline which columns may need a fill, and the cleaned length which
whitespace variant a text fill reads.

This two-phase profile→plan flow is the engine's core custom machinery
(SURVEY.md §4.2): data-dependent typed plans, no custom Catalyst rules.

Scale: one job, ~7 aggregates per column, all codegen'd and partial-
aggregable. Detection only compares the distinct count against coarse
bounds (the 50 / 30 %-ratio categorical rule), where HLL's ~2 % error is
immaterial — an exact multi-column COUNT(DISTINCT) would cost a whole
extra job (it compiles to an Expand that replicates the stream per
column).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.dates import parse_date_multi

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
    avg_len: float | None  # mean length of str-cast non-null values
    date_ok: int
    numeric_ok: int
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
    frame's row count."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in df.columns:
        raw = F.col(c)
        s = raw.cast("string")
        # Typed fast paths — semantically equal to the string-scan rules,
        # minus the work. float/double stringify with a fractional part
        # (".0" at minimum) so no date format can match → date_ok = 0 and
        # numeric_ok = non_null. date/timestamp stringify as
        # "yyyy-MM-dd[ HH:mm:ss]" → date_ok = non_null, numeric_ok = 0.
        # Integer columns KEEP the date scan: 8-digit ints parse under
        # yyyyMMdd, which the reference would detect as dates.
        kind = df.schema[c].dataType.typeName()
        # avg_len only matters for the text-type rule, which numeric/date
        # typed columns can never reach (they pass an earlier rule at
        # 100 %) — skip the cast-to-string length scan for them.
        length_agg = F.avg(F.length(s))
        # typed columns reach text/unknown only when all-null, where a 0
        # cleaned count is exact
        text_ok = F.lit(0).cast("long")
        text_len = F.lit(None).cast("double")
        if kind in ("double", "float", "decimal"):
            date_ok = F.lit(0).cast("long")
            num_ok = F.count(raw)
            length_agg = F.lit(None).cast("double")
        elif kind in ("date", "timestamp", "timestamp_ntz"):
            date_ok = F.count(raw)
            num_ok = F.lit(0).cast("long")
            length_agg = F.lit(None).cast("double")
        else:
            from mini_etl_project_spark.functions.cleaning import (
                clean_text,
                guarded_try_double,
                ws_trim,
            )

            # ws_trim (regexp \s strip), not F.trim (ASCII space only):
            # pd.to_numeric accepts tab/newline-padded numerics, and the
            # date branch already strips all whitespace.
            date_ok = F.count(parse_date_multi(s))
            num_ok = F.count(guarded_try_double(ws_trim(s)))
            # exactly the text/unknown cleaned base
            t = clean_text(s, False)
            text_ok, text_len = F.count(t), F.avg(F.length(t))
        aggs += [
            F.count(raw).alias(f"{c}__nn"),
            F.approx_count_distinct(raw).alias(f"{c}__dc"),
            length_agg.alias(f"{c}__len"),
            date_ok.alias(f"{c}__date"),
            num_ok.alias(f"{c}__num"),
            text_ok.alias(f"{c}__txt"),
            text_len.alias(f"{c}__tlen"),
        ]
    row = df.agg(*aggs).collect()[0]
    profiles = {
        c: ColumnProfile(
            name=c,
            non_null=row[f"{c}__nn"],
            distinct=row[f"{c}__dc"],
            avg_len=row[f"{c}__len"],
            date_ok=row[f"{c}__date"],
            numeric_ok=row[f"{c}__num"],
            text_ok=row[f"{c}__txt"],
            text_len=row[f"{c}__tlen"],
        )
        for c in df.columns
    }
    return profiles, row["__rows"]

