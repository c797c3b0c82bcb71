"""Correctness check for one benchmark run: every gate result and DAG stage
is compared with DuckDB running the oracle SQL of the gate of the same
shape (`SparkEntry.oracleSql`) over the same generated tables. Results are
canonicalised with `canon` from tools/check_oracle.py. A gate with no
oracle must return at least one row.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd


def load_check_oracle(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(a, b):
    """None when the canonical frames are equal, else what differs."""
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        same = (av == bv) | (pd.isna(a[c]).values & pd.isna(b[c]).values)
        if not same.all():
            i = (~same).nonzero()[0][0]
            return f"value col={c} e.g. spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}"
    return None


def run_checks(root, data_dir, checks, oracle_sql, threads, temp_dir):
    """Returns one (name, ok, detail) per check; DuckDB spills to temp_dir."""
    co = load_check_oracle(root)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET enable_progress_bar = false")
    for t in co.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    out = []
    for c in checks:
        files = glob.glob(os.path.join(c["path"], "*.parquet"))
        spark_df = (con.execute(f"SELECT * FROM read_parquet({files!r})").df()
                    if files else pd.DataFrame())
        sql = oracle_sql.get(c["oracle"])
        if sql is None:
            n = len(spark_df)
            out.append((c["name"], n > 0, f"rows-only rows={n}"))
            continue
        try:
            oracle_df = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((c["name"], False, f"oracle error: {e}"))
            continue
        # a DAG stage may carry columns its downstream models read; it is
        # checked on the columns of the gate of the same shape
        if c.get("project") and set(oracle_df.columns) <= set(spark_df.columns):
            spark_df = spark_df[list(oracle_df.columns)]
        diff = compare(co.canon(spark_df), co.canon(oracle_df))
        out.append((c["name"], diff is None, diff or f"rows={len(spark_df)}"))
    con.close()
    return out
