"""Simulate the external driver's correctness comparator for named queries.

The driver runs each ``queries()`` entry and its ``oracle_sql()`` twin at
sf0.01, canonicalizes both result frames (columns sorted by NAME, rows
sorted by all columns — so every cell must be hashable: arrays must go out
through array_join, the house rule), and hashes the values.  This script
replays that contract locally so a red driver row never has to wait a full
round to be discovered.

Usage: python scripts/driver_sim.py [query ...]   (default: all w/ oracle)
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for _, row in df.iterrows():
        for v in row:
            if isinstance(v, float):
                v = round(v, 6)
            h.update(repr(v).encode())
            h.update(b"|")
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[1:] or [n for n in qs if n in oracles]

    from news_crawler_slm_spark.session import cache_scope, get_spark

    spark = get_spark(app_name="driver-sim")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    failures = []
    for name in names:
        if name not in oracles:
            print(f"{name}: SKIP (no oracle)")
            continue
        try:
            with cache_scope():
                sp = canon(qs[name](spark, SF_DIR).toPandas())
            du = canon(con.sql(oracles[name]).df())
            rows = len(sp) == len(du)
            schema = list(sp.columns) == list(du.columns)
            hsh = rows and schema and value_hash(sp) == value_hash(du)
            status = "GREEN" if (rows and schema and hsh) else "RED"
            print(
                f"{name}: {status} rows={len(sp)}/{len(du)} "
                f"schema={schema} hash={hsh}"
            )
            if status == "RED":
                failures.append(name)
                if not schema:
                    print(f"  spark cols: {list(sp.columns)}")
                    print(f"  duck  cols: {list(du.columns)}")
        except Exception as e:  # noqa: BLE001 — report like the driver does
            print(f"{name}: ERR {type(e).__name__}: {e}")
            failures.append(name)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
