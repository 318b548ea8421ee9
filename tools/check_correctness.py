"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and values
(order-insensitive, exact after canonicalization). Stricter than any
reasonable hash compare — if this passes, the driver's gate should too.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_project_spark.queries import ORACLES, QUERIES
from mini_etl_project_spark.session import TABLES, get_spark


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exactness is the point
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def duck_run(con: duckdb.DuckDBPyConnection, sql: str):
    rel = con.sql(sql)
    # The driver canonicalizes DuckDB output through pandas, where HUGEINT
    # (e.g. SUM over BIGINT) degrades to float64 and hash-mismatches Spark's
    # int64 even when values are identical.  Our fetchall() path uses Python
    # ints and provably cannot catch that divergence — so fail at bind time
    # on any HUGEINT-typed output column.
    # Same trap, wider: DECIMAL with precision > 18 also degrades to
    # float64 through pandas while Spark keeps decimal.Decimal objects —
    # r7's one red row (q_join_pvm_bridge) was identical DECIMAL(38,0)
    # values hash-diverging on representation alone.
    import re as _re

    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if "HUGEINT" in t:
            raise TypeError(
                f"oracle output column {col!r} has DuckDB type {typ} — "
                "pandas canonicalization degrades it to float64; "
                "CAST it to BIGINT in the oracle SQL"
            )
        m = _re.match(r"DECIMAL\((\d+)", t)
        if m and int(m.group(1)) > 18:
            raise TypeError(
                f"oracle output column {col!r} has DuckDB type {typ} — "
                "pandas degrades DECIMAL(p>18) to float64 while Spark "
                "keeps decimal.Decimal; CAST it to VARCHAR (exact) in "
                "BOTH the oracle SQL and the Spark plan"
            )
    return list(rel.columns), rel.fetchall()


def duck_connect() -> duckdb.DuckDBPyConnection:
    """DuckDB connection that spills under the system temp dir, not the
    working directory (a full-registry run can spill gigabytes)."""
    tmp = os.path.join(tempfile.gettempdir(), f"duckdb_tmp_{os.getpid()}")
    return duckdb.connect(config={"temp_directory": tmp})


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    return cols, [tuple(r) for r in df.collect()]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_correctness")
    con = duck_connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            scols, srows = spark_rows(fn(get_spark(), sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            dcols, drows = duck_run(con, ORACLES[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            cs, cd = canon_rows(scols, srows), canon_rows(dcols, drows)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                print(f"FAIL  {name}: value mismatch; first diffs:")
                for a, b in diffs:
                    print(f"      spark={a}\n      duck ={b}")
                ok = False
        if ok:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
