"""Output checks, run after the timed window.

Registry ops are compared with their DuckDB oracle (``ORACLES``) by the
project's correctness rule: same column names, same row count, and the same
order-insensitive hash of the rows. ``autoetl`` is compared with a DuckDB
statement over the same generated CSV, in the pattern of ``_PIPE_ORACLE``
in ``queries/etl_q.py``.
"""

from __future__ import annotations

import hashlib
import math
import os

from gen import ETL_OUTLIER_FLOOR


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rows_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive sha256) with columns taken by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def duck(work_dir: str):
    import duckdb

    tmp = os.path.join(work_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(config={"temp_directory": tmp, "threads": 2})


def check_registry_op(con, spark, name: str, tables_dir: str) -> str | None:
    """None if the op's output matches its oracle, else why not."""
    from mini_etl_project_spark.queries import ORACLES, QUERIES

    df = QUERIES[name](spark, tables_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    rel = con.sql(ORACLES[name])
    d_cols, d_rows = list(rel.columns), rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"{name}: columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    s, d = rows_digest(s_cols, s_rows), rows_digest(d_cols, d_rows)
    if s[0] == 0:
        return f"{name}: empty result"
    if s != d:
        return f"{name}: rows/hash {s} != oracle {d}"
    return None


def register_tables(con, tables_dir: str) -> None:
    for f in sorted(os.listdir(tables_dir)):
        name = f.removesuffix(".parquet")
        path = os.path.join(tables_dir, f)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


# The pipeline's median imputation and outlier clamp use approximate
# statistics (``exact_stats=False``), so a price that was a sentinel or a
# planted outlier is checked only for range. Every other cell is exact:
# okey, ship and flag on every row, and price on the regular rows.
_ETL_ORACLE = """
WITH raw AS (
  SELECT DISTINCT * FROM read_csv('{csv}', header = true, all_varchar = true)),
expected AS (
  SELECT CAST(okey AS DOUBLE) AS okey,
         TRY_CAST(NULLIF(REPLACE(REGEXP_REPLACE(price, '[^0-9.,+-]', '', 'g'),
                                 ',', '.'), '') AS DOUBLE) AS parsed,
         CAST(strptime(ship, '%d/%m/%Y') AS DATE) AS ship,
         flag
  FROM raw),
regular AS (
  SELECT MIN(parsed) AS lo, MAX(parsed) AS hi FROM expected
  WHERE parsed < {floor}),
out AS (SELECT * FROM read_parquet('{out}/*.parquet'))
SELECT
  (SELECT COUNT(*) FROM expected) AS n_expected,
  (SELECT COUNT(*) FROM out) AS n_out,
  (SELECT COUNT(*) FROM expected e FULL OUTER JOIN out o ON e.okey = o.okey
   WHERE e.okey IS NULL OR o.okey IS NULL
      OR e.ship IS DISTINCT FROM o.ship
      OR e.flag IS DISTINCT FROM o.flag
      OR (e.parsed < {floor} AND e.parsed IS DISTINCT FROM o.price)
      OR ((e.parsed IS NULL OR e.parsed >= {floor})
          AND NOT COALESCE(o.price BETWEEN (SELECT lo FROM regular)
                                       AND (SELECT hi FROM regular), false)))
  AS n_bad
"""


def check_etl_output(con, csv_path: str, out_dir: str) -> str | None:
    sql = _ETL_ORACLE.format(csv=csv_path, out=out_dir, floor=ETL_OUTLIER_FLOOR)
    n_expected, n_out, n_bad = con.sql(sql).fetchone()
    if n_expected != n_out or n_bad:
        return f"autoetl: {n_out} rows (expected {n_expected}), {n_bad} differ"
    return None
