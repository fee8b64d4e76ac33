"""Local stand-in for the driver's correctness gate: run every
queries() entry against its oracle_sql() twin at a given SF and compare
row count + schema-ish dtypes + sorted values.

Usage: python tools/verify_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from easyocr_spark.session import get_spark  # noqa: E402
from easyocr_spark.sources.tables import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            # DuckDB HUGEINT sums arrive as float64 — fold integral
            # floats back to int64 so dtype equality is meaningful
            if df[c].notna().all() and (df[c] % 1 == 0).all():
                df[c] = df[c].astype("int64")
            else:
                df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()  # local[session.DEFAULT_CPUS]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            exp = normalize(con.sql(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: oracle error {type(e).__name__}: {str(e)[:300]}")
            continue
        status = None
        if len(got) != len(exp):
            status = f"row count {len(got)} != {len(exp)}"
        elif list(got.columns) != list(exp.columns):
            status = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif not got.equals(exp):
            neq = (got != exp).any(axis=1)
            status = f"{int(neq.sum())} differing rows"
            print(f"FAIL {name}: {status}")
            print("  got:\n", got[neq].head(4).to_string())
            print("  exp:\n", exp[neq].head(4).to_string())
            failures.append(name)
            continue
        if status:
            failures.append(name)
            print(f"FAIL {name}: {status}")
            print("  got cols:", got.dtypes.to_dict())
            print("  exp cols:", exp.dtypes.to_dict())
        else:
            print(f"PASS {name} ({len(got)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
