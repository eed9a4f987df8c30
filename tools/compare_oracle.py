#!/usr/bin/env python3
"""Local approximation of the driver's DuckDB oracle compare.

Usage: python3 tools/compare_oracle.py <sfDir> <dumpDir>

Reads <dumpDir>/oracle_sql.json, registers the sf parquet tables in
DuckDB, runs each oracle, and compares against the Spark parquet dump in
<dumpDir>/<name>/ — rows, schema (column names), and a value hash over
columns sorted by name (the driver's rule).

DEV TOOL ONLY: runs on the container's driver-side python (duckdb,
pandas, pyarrow) — never part of the shipped Scala library.
"""
import json, os, sys, hashlib
import duckdb, pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # round floats BEFORE sorting: value_hash compares round(6) values, so
    # sorting on raw floats would let sub-1e-6 cross-engine noise on a
    # float sort key reorder rows and report a false hash mismatch
    for col in df.columns:
        if df[col].dtype.kind == "f":
            df[col] = df[col].round(6)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            vals = s.astype(str)
        elif s.dtype.kind == "f":
            vals = s.round(6).astype(str)
        else:
            vals = s.astype(str)
        h.update(("|".join(vals.tolist())).encode())
    return h.hexdigest()

def main():
    sf, dump = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        # a table is one parquet file, or a directory of part files (Spark's layout)
        path = f"{sf}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracles = json.load(open(f"{dump}/oracle_sql.json"))
    # a dump dir with no oracle entry is a rows-only query (or a missing
    # oracle) — surface it instead of silently skipping
    dumped = {d.name for d in os.scandir(dump) if d.is_dir()}
    for name in sorted(dumped - set(oracles)):
        n = len(pd.read_parquet(f"{dump}/{name}"))
        print(f"[{name}] NO ORACLE (rows-only): spark_rows={n}")
    ok = True
    for name, sql in sorted(oracles.items()):
        spark_df = pd.read_parquet(f"{dump}/{name}")
        try:
            oracle_df = con.execute(sql).df()
        except Exception as e:
            print(f"[{name}] ORACLE SQL ERROR: {e}")
            ok = False
            continue
        s, o = canon(spark_df), canon(oracle_df)
        rows = len(s) == len(o)
        schema = list(s.columns) == list(o.columns)
        hmatch = rows and schema and value_hash(s) == value_hash(o)
        print(f"[{name}] rows={rows} ({len(s)}/{len(o)}) schema={schema} hash={hmatch}")
        if not hmatch:
            ok = False
            if rows and schema:
                for col in s.columns:
                    a, b = s[col].astype(str), o[col].astype(str)
                    neq = (a != b)
                    if neq.any():
                        i = neq.idxmax()
                        print(f"    first diff col={col} row={i}: spark={a[i]} oracle={b[i]}")
            elif not schema:
                print(f"    spark cols={list(s.columns)} oracle cols={list(o.columns)}")
    sys.exit(0 if ok else 1)

if __name__ == "__main__":
    main()
