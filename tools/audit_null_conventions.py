"""Registry-wide NULL-convention audit (VERDICT r11 ask #2).

The class this freezes: ADVICE r11 caught the DPO pair query relying on
`min(struct(...))` ordering that sorts NULL-first in Spark but
NULLS-LAST in DuckDB — a latent cross-engine divergence invisible on
the NULL-free test data. Nothing audited the other ~600 queries for the
same class, because the committed fixtures have no NULLs in most value
columns, so every nullable window/order key, struct extremum, and
aggregate input in the registry was an unexercised convention.

This tool makes the class mechanical, the way audit_vacuous.py froze
the vacuous-green class:

1. Build a NULL-injected TWIN of a fixture dir: every table copied
   verbatim, except the synthetic tables (events / documents /
   embeddings), where NULLs are planted deterministically by
   PK-modulo (different modulus per column, so different rows hit
   different columns and multi-column rows exist too). The TPC-H
   tables stay verbatim — their columns are NOT NULL by spec, so a
   NULL there would audit a fixture violation, not a convention.
2. Run the full oracle gate (the check_correctness compare: exact
   values, full float precision) against the twin.
3. Report every divergence: value mismatch, rowcount mismatch, or an
   engine erroring where the other does not. Each hit is a latent
   cross-engine NULL-convention bug to fix or pin (explicit
   IS NOT NULL / NULLS LAST on BOTH engines).

Injection map (seeded by PK so the twin is bit-reproducible):

  events.value        pk % 13 == 5   (~7.7%)  agg input / order key /
                                              struct-extremum component
  events.event_type   pk % 17 == 3   (~5.9%)  groupBy / filter key
  events.props        pk % 19 == 7   (~5.3%)  JSON lane input
  events.ts           pk % 23 == 11  (~4.3%)  window order key
                                              (only with --with-ts)
  documents.text      pk % 13 == 5            tokenize/shingle input
  documents.lang      pk % 17 == 3            groupBy / filter key
  documents.source    pk % 19 == 7            groupBy key
  documents.n_chars   pk % 23 == 11           numeric agg input
  embeddings.label    pk % 13 == 5            groupBy key

``--with-ts`` also NULLs events.ts — split out because a NULL window
order key trips every ts-ordered window at once (the first sweep's
hit list stayed reviewable that way; the ts stage then found 49 more
and all are fixed). BOTH stages are drained as of round 12, so the
frozen contract run is now TWO full-registry passes at sf0.001 —
default and ``--with-ts`` — each expected at zero hits.

Usage:
  python tools/audit_null_conventions.py [sf_dir] [query ...]
      [--with-ts] [--twin-dir DIR] [--json OUT.json]

Exit code 1 if any divergence. The frozen contract run is sf0.001 over
the full registry; SCALE_VALIDATION.md records each round's result.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import (  # noqa: E402
    canon_rows,
    duck_connect,
    duck_run,
    spark_rows,
)

from mini_etl_project_spark.queries import ORACLES, QUERIES  # noqa: E402
from mini_etl_project_spark.session import TABLES, get_spark  # noqa: E402

#: (table, pk, column, modulus, residue) — the deterministic injection map.
INJECTIONS = [
    ("events", "event_id", "value", 13, 5),
    ("events", "event_id", "event_type", 17, 3),
    ("events", "event_id", "props", 19, 7),
    ("documents", "doc_id", "text", 13, 5),
    ("documents", "doc_id", "lang", 17, 3),
    ("documents", "doc_id", "source", 19, 7),
    ("documents", "doc_id", "n_chars", 23, 11),
    ("embeddings", "vec_id", "label", 13, 5),
]
TS_INJECTION = ("events", "event_id", "ts", 23, 11)


def build_twin(src_dir: str, dst_dir: str, with_ts: bool = False) -> dict[str, int]:
    """Write the NULL-injected twin; returns per-table planted-NULL counts."""
    os.makedirs(dst_dir, exist_ok=True)
    injections = INJECTIONS + ([TS_INJECTION] if with_ts else [])
    by_table: dict[str, list[tuple[str, str, int, int]]] = {}
    for table, pk, col, mod, res in injections:
        by_table.setdefault(table, []).append((pk, col, mod, res))
    con = duck_connect()
    planted: dict[str, int] = {}
    for t in TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        dst = os.path.join(dst_dir, f"{t}.parquet")
        cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
        rules = by_table.get(t, [])
        exprs = []
        for c in cols:
            rule = next(((pk, mod, res) for pk, rc, mod, res in rules if rc == c), None)
            if rule:
                pk, mod, res = rule
                exprs.append(f'CASE WHEN "{pk}" % {mod} = {res} THEN NULL ELSE "{c}" END AS "{c}"')
            else:
                exprs.append(f'"{c}"')
        con.sql(
            f"COPY (SELECT {', '.join(exprs)} FROM read_parquet('{src}')) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        n = 0
        for pk, c, mod, res in rules:
            n += con.sql(
                f"SELECT count(*) FROM read_parquet('{dst}') WHERE \"{c}\" IS NULL"
            ).fetchone()[0]
        planted[t] = n
    con.close()
    return planted


def main() -> int:
    args = [a for a in sys.argv[1:]]
    with_ts = "--with-ts" in args
    if with_ts:
        args.remove("--with-ts")
    twin_dir = None
    if "--twin-dir" in args:
        i = args.index("--twin-dir")
        twin_dir = args[i + 1]
        del args[i : i + 2]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    src_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if twin_dir is None:
        suffix = "_ts" if with_ts else ""
        twin_dir = f"/tmp/nulltwin_{os.path.basename(src_dir.rstrip('/'))}{suffix}"

    planted = build_twin(src_dir, twin_dir, with_ts=with_ts)
    print(f"twin: {twin_dir}  planted NULLs: {planted}")

    spark = get_spark("audit_null_conventions")
    con = duck_connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{twin_dir}/{t}.parquet')"
        )
    n_pass = n_fail = n_rows_only = 0
    report: dict[str, dict] = {}
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        entry: dict = {"status": "pass", "detail": None}
        try:
            scols, srows = spark_rows(fn(spark, twin_dir))
        except Exception as e:  # noqa: BLE001
            entry = {"status": "spark_error", "detail": str(e)[:500]}
            print(f"HIT   {name}: spark error: {str(e)[:200]}")
            n_fail += 1
            report[name] = entry
            continue
        if name not in ORACLES:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            report[name] = {"status": "rows_only", "detail": len(srows)}
            continue
        try:
            dcols, drows = duck_run(con, ORACLES[name])
        except Exception as e:  # noqa: BLE001
            entry = {"status": "oracle_error", "detail": str(e)[:500]}
            print(f"HIT   {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            report[name] = entry
            continue
        if sorted(scols) != sorted(dcols):
            entry = {
                "status": "schema_mismatch",
                "detail": f"spark={sorted(scols)} duck={sorted(dcols)}",
            }
            print(f"HIT   {name}: {entry['detail']}")
            n_fail += 1
        elif len(srows) != len(drows):
            entry = {
                "status": "rowcount_mismatch",
                "detail": f"spark={len(srows)} duck={len(drows)}",
            }
            print(f"HIT   {name}: {entry['detail']}")
            n_fail += 1
        else:
            cs, cd = canon_rows(scols, srows), canon_rows(dcols, drows)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                entry = {
                    "status": "value_mismatch",
                    "detail": [f"spark={a} duck={b}" for a, b in diffs],
                }
                print(f"HIT   {name}: value mismatch; first diffs:")
                for a, b in diffs:
                    print(f"      spark={a}\n      duck ={b}")
                n_fail += 1
            else:
                print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
                n_pass += 1
        report[name] = entry

    print(f"\n{n_pass} pass, {n_fail} NULL-convention hits, {n_rows_only} rows-only")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"report: {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
