"""Cross-checks Spark outputs against DuckDB running the engine's oracle SQL.

`compare(verify_dir, data_dir)` reads `<verify_dir>/oracle_sql.json` (the
`SparkEntry.oracleSql` entries of the operations that ran), registers every
parquet table in `data_dir` as a DuckDB view, and compares each oracle
result with the Spark output written to `<verify_dir>/<name>/`: columns by
name, rows as multisets, exact values, and integer vs float column kinds
kept apart (the DuckDB hash gate of the judged runs is dtype-strict).
Returns `{name: None if equal else reason}`.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _kind(dtype):
    return "int" if dtype.kind in "iu" else "float" if dtype.kind == "f" else None


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def _diff(expect, got):
    if list(expect.columns) != list(got.columns):
        return f"columns oracle={list(expect.columns)} spark={list(got.columns)}"
    for c in expect.columns:
        ek, gk = _kind(expect[c].dtype), _kind(got[c].dtype)
        if ek and gk and ek != gk:
            return f"dtype kind col={c} oracle={expect[c].dtype} spark={got[c].dtype}"
    if len(expect) != len(got):
        return f"rows oracle={len(expect)} spark={len(got)}"
    for c in expect.columns:
        for i, (a, b) in enumerate(zip(expect[c].tolist(), got[c].tolist())):
            if not _same(a, b):
                return f"value col={c} row={i} oracle={a!r} spark={b!r}"
    return None


def compare(verify_dir, data_dir):
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count() or 1}")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracle = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    result = {}
    for name, sql in sorted(oracle.items()):
        try:
            expect = _canon(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            result[name] = f"oracle error: {str(e)[:200]}"
            continue
        files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
        if not files:
            result[name] = "spark output missing"
            continue
        got = _canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
        result[name] = _diff(expect, got)
    con.close()
    return result
