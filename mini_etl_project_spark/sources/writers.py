"""Load dispatch (reference R20–R23, ETL_PROJECT.py:304-324).

The CSV and JSON sinks have two modes (Parquet, ORC and text always write
a partitioned directory; Excel always goes through the shim):

- **compat single-file** (``single_file=True``, the default): byte-shape
  parity with the reference's one-file outputs via a guarded ``toPandas``
  shim — refuses above ``max_driver_rows`` so a 100 TB frame can never be
  collected by accident.
- **distributed** (``single_file=False``, the 100 TB path): ``df.write``
  produces a partitioned directory; CSV/JSON/Parquet all scale.

SQLite (R23) is inherently a single-connection driver-side sink; the shim
writes table ``cleaned_data`` with overwrite semantics like the reference.
A JDBC path (``df.write.jdbc``) is the cluster-side equivalent when a
driver jar is available (none in this container).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_DRIVER_ROWS = 5_000_000


def _to_pandas_guarded(df: DataFrame, max_rows: int):
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"single-file/driver sink refused: {n} rows > {max_rows} cap; "
            "use distributed mode"
        )
    return df.toPandas()


def load(
    df: DataFrame,
    output_path: str | None = None,
    db_connection: Any = None,
    single_file: bool = True,
    max_driver_rows: int = DEFAULT_MAX_DRIVER_ROWS,
) -> DataFrame:
    """Persist ``df`` to a path (by suffix) and/or a SQLite connection.

    Returns the input frame (like the reference's ``load``).
    """
    if output_path is not None:
        lower = output_path.lower()
        if lower.endswith(".parquet"):
            df.write.mode("overwrite").parquet(output_path)
        elif lower.endswith(".csv"):
            if single_file:
                _to_pandas_guarded(df, max_driver_rows).to_csv(
                    output_path, index=False
                )
            else:
                df.write.mode("overwrite").option("header", True).csv(output_path)
        elif lower.endswith(".json"):
            if single_file:
                _to_pandas_guarded(df, max_driver_rows).to_json(
                    output_path, orient="records", indent=2
                )
            else:
                df.write.mode("overwrite").json(output_path)
        elif lower.endswith((".xlsx", ".xls")):
            _to_pandas_guarded(df, max_driver_rows).to_excel(
                output_path, index=False
            )
        elif lower.endswith(".orc"):
            df.write.mode("overwrite").orc(output_path)
        elif lower.endswith((".txt", ".text")):
            # text sink takes exactly one string column per Spark contract
            df.write.mode("overwrite").text(output_path)
        else:
            raise ValueError(f"unsupported output format: {output_path}")
    if db_connection is not None:
        _to_pandas_guarded(df, max_driver_rows).to_sql(
            "cleaned_data", db_connection, if_exists="replace", index=False
        )
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned parquet layout — the standard at-scale table
    layout (one directory per partition value; readers prune directories
    via ``PartitionFilters`` before any file I/O).

    The pre-write ``repartition(partition_cols)`` is what makes this hold
    at 100 TB: without it every task holds an open writer per partition
    value and emits #tasks × #partitions small files; with it each
    partition's rows land in one task (AQE coalesces skewed/empty ones).
    ``sort_cols`` orders within files so min/max row-group stats prune on
    a secondary column too (the poor man's Z-order for one column);
    ``max_records_per_file`` bounds file size for object-store-friendly
    rewrites."""
    staged = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        staged = staged.sortWithinPartitions(*sort_cols)
    w = staged.write.mode("overwrite").partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)
