"""Seeded inputs for the benchmark.

Two inputs come from one seed:

- ``tables/``: the TPC-H-shaped star schema the registry ops read
  (``region nation customer supplier part orders lineitem``), one parquet
  file each, with the column names, types and value domains of the
  project's test-data contract. ``analytic_sql`` reads these.
- ``etl.csv``: an all-string, dirty extract of ``lineitem`` in the shape
  ``q_etl_pipeline`` builds (okey, price, ship, flag). ``autoetl`` reads it.

Table sizes are fixed; the seed only picks values. The same seed gives
byte-identical files (``write`` is pure given the seed).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

#: Orders in the star schema; lineitem averages 4 lines per order, so this
#: is 2/3 of the project's sf0.1 test data (about 400k lineitem rows, a
#: 5 MB file: above the 4 MB at which ``load_table`` widens a
#: one-row-group scan, as it does for the sf0.1 test data).
N_ORDERS = 100_000
N_CUSTOMERS = 10_000
N_PARTS = 13_000
N_SUPPLIERS = 700
#: Distinct source rows in the autoetl CSV (before planted duplicates).
N_ETL_ROWS = 100_000

#: autoetl dirt rates. Each keeps its column's parse ratio far from the
#: pipeline's 0.7 type threshold and its +-0.05 full-scan fallback band:
#: price parses as a plain number on (1 - 1/8) * (1 - 1/20) = 0.83 of
#: rows, so it is typed numeric and cleaned ('$' stripped, 'N/A' -> null).
ETL_SENTINEL_RATE = 1 / 8  # price -> 'N/A' (imputed with the median)
ETL_DOLLAR_RATE = 1 / 20  # price -> '$<price>' (parses only once cleaned)
ETL_OUTLIER_RATE = 1 / 200  # price -> >= 1e7 (clamped at z > 3)
ETL_DUPLICATE_RATE = 1 / 50  # whole row copied (removed by dedup)
#: Every planted outlier is at least this; every regular price is below.
ETL_OUTLIER_FLOOR = 10_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJECTIVES = ["small", "red", "large", "blue", "green", "shiny", "plain", "metal"]
NOUNS = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "cable"]

_EPOCH = dt.datetime(1995, 1, 1)
_DAYS = 2400  # orders span 1995-01-01 .. 2001-07


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as an exact 2-dp double (integer cents / 100)."""
    return rng.integers(lo, hi, n) / 100.0


def _timestamps(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": _cents(rng, -99_999, 1_000_000, N_CUSTOMERS),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
            "s_acctbal": _cents(rng, -99_999, 1_000_000, N_SUPPLIERS),
        }
    )
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    part = pa.table(
        {
            "p_partkey": np.arange(N_PARTS, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), N_PARTS)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PARTS)],
            "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(N_PARTS) % 1000) / 10.0,
        }
    )
    order_days = rng.integers(0, _DAYS, N_ORDERS)
    orders = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _cents(rng, 100_000, 50_000_000, N_ORDERS),
            "o_orderdate": _timestamps(order_days),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    lines_per_order = rng.integers(1, 8, N_ORDERS)
    n = int(lines_per_order.sum())
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, N_PARTS, n).astype(np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    retail_cents = 90_000 + (partkey % 1000) * 10
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, N_SUPPLIERS, n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": (quantity.astype(np.int64) * retail_cents) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _timestamps(np.repeat(order_days, lines_per_order)
                                      + rng.integers(1, 122, n)),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def make_etl_csv(seed: int) -> pa.Table:
    """The dirty extract: unique ``okey`` per source row, so planted
    duplicates are the only rows dedup may remove."""
    rng = np.random.default_rng([seed, 2])
    n = N_ETL_ROWS
    okey = rng.choice(N_ORDERS * 8, n, replace=False).astype(np.int64)
    quantity = rng.integers(1, 51, n)
    price_cents = quantity * (90_000 + rng.integers(0, 1000, n) * 10)
    kind = rng.random(n)
    sentinel = kind < ETL_SENTINEL_RATE
    outlier = (kind >= ETL_SENTINEL_RATE) & (
        kind < ETL_SENTINEL_RATE + ETL_OUTLIER_RATE
    )
    price_cents = np.where(outlier, ETL_OUTLIER_FLOOR * 100 + price_cents * 100,
                           price_cents)
    price = np.char.add(
        (price_cents // 100).astype(str),
        np.char.add(".", np.char.zfill((price_cents % 100).astype(str), 2)),
    )
    dollar = rng.random(n) < ETL_DOLLAR_RATE
    price = np.where(dollar, np.char.add("$", price), price)
    price = np.where(sentinel, "N/A", price)
    days = rng.integers(0, _DAYS + 121, n)
    ship = (np.datetime64(_EPOCH, "D") + days.astype("timedelta64[D]")).astype(
        dt.date
    )
    ship_s = np.array([d.strftime("%d/%m/%Y") for d in ship])
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    order = np.arange(n)
    dups = np.flatnonzero(rng.random(n) < ETL_DUPLICATE_RATE)
    # each duplicate lands at a seeded position among the originals
    order = np.insert(order, rng.integers(0, n + 1, len(dups)), dups)
    return pa.table(
        {
            "okey": okey.astype(str)[order],
            "price": price[order],
            "ship": ship_s[order],
            "flag": flag[order],
        }
    )


def write(seed: int, out_dir: str) -> None:
    """Write every input for ``seed`` under ``out_dir``."""
    tables_dir = os.path.join(out_dir, "tables")
    os.makedirs(tables_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(tables_dir, f"{name}.parquet"))
    pa_csv.write_csv(
        make_etl_csv(seed),
        os.path.join(out_dir, "etl.csv"),
        pa_csv.WriteOptions(quoting_style="none"),
    )
