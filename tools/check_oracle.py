#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the test parquet tables and compare with the Spark result
parquet dumped by graft.Verify. Columns sorted by name, rows sorted, exact
value compare (floats reported with max abs diff on mismatch). An oracle
key with no result dir counts as a MISSING fail; the exit status is 1 when
anything failed.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s) or s.dtype == object and s.map(
                lambda v: isinstance(v, int)).all() and len(s) > 0:
            try:
                df[c] = s.astype("int64")
            except (TypeError, OverflowError, ValueError):
                pass
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table: directory of part files
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"{name:24s} MISSING no result dir")
            n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").df() if files else pd.DataFrame()
        if name not in oracles:
            print(f"{name:24s} ROWS-ONLY rows={len(spark_df)}" +
                  ("  !! EMPTY" if len(spark_df) == 0 else ""))
            continue
        try:
            oracle_df = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:24s} ORACLE-ERROR {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(oracle_df)
        if list(a.columns) != list(b.columns):
            print(f"{name:24s} COLS-MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"{name:24s} ROWCOUNT spark={len(a)} oracle={len(b)}")
            n_fail += 1
            continue
        ok = True
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]):
                import numpy as np
                av, bv = a[c].values, b[c].values
                same = (av == bv) | (pd.isna(av) & pd.isna(bv))
                if not same.all():
                    diff = abs(pd.Series(av) - pd.Series(bv)).max()
                    print(f"{name:24s} FLOAT-DIFF col={c} maxabs={diff}")
                    ok = False
            else:
                same = (a[c].values == b[c].values) | (pd.isna(a[c]).values & pd.isna(b[c]).values)
                if not same.all():
                    idx = (~same).nonzero()[0][:3]
                    print(f"{name:24s} VALUE-DIFF col={c} e.g. {[(a[c].iloc[i], b[c].iloc[i]) for i in idx]}")
                    ok = False
        if ok:
            print(f"{name:24s} PASS rows={len(a)}")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return n_fail

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
