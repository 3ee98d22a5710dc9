"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row
count, column names, and an order-insensitive value hash. Queries with
no oracle print their row count and value hash, so a run before and
after a change can be compared.

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from kmtricks_spark import get_spark  # noqa: E402
from kmtricks_spark.config import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(sorted(v)) if isinstance(v, (list, tuple)) else repr(v))
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(9)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    return hashlib.md5(canon(df).to_csv(index=False).encode()).hexdigest()


def main():
    only = set(sys.argv[1:])
    spark = get_spark(cores=16, app="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in os_:
            sdf.columns = [c.lower() for c in sdf.columns]
            print(
                f"rows  {name}: {len(sdf)} rows value_hash={value_hash(sdf)} "
                f"(rows-only, {time.time()-t0:.1f}s)"
            )
            continue
        try:
            odf = con.sql(os_[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {e}")
            failures += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
        if ok_cols:
            dt_s = {c.lower(): str(sdf[c].dtype) for c in sdf.columns}
            dt_o = {c.lower(): str(odf[c].dtype) for c in odf.columns}
            dtype_diff = {
                c: (dt_s[c], dt_o[c]) for c in dt_s
                if dt_s[c] != dt_o[c] and {dt_s[c], dt_o[c]} - {"object"}
            }
            if dtype_diff:
                print(f"note  {name}: dtype diffs {dtype_diff}")
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        ok_hash = ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status}  {name}: rows {len(sdf)}/{len(odf)} cols={ok_cols} hash={ok_hash} "
            f"({time.time()-t0:.1f}s)"
        )
        if status == "FAIL" and ok_cols:
            a, b = canon(sdf), canon(odf)
            merged = a.merge(b, how="outer", indicator=True)
            diff = merged[merged["_merge"] != "both"]
            print(diff.head(6).to_string())
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
