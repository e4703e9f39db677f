#!/usr/bin/env python
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python tools/parity.py [sfdir] [outdir] [query ...]

Query names not in oracle_sql.json are refused, and a run that compared
no query exits non-zero.

Reads outdir/<name>/ parquet (written by graft.Verify) and
outdir/oracle_sql.json, runs each oracle SQL in DuckDB against the
sfdir parquet tables, and compares: row count, column names/types,
and exact values (columns sorted by name, rows sorted by all columns).
"""
import sys, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(con, rel_sql):
    df = con.execute(rel_sql).df()
    df = df[sorted(df.columns)]
    return df

def compare(name, got, exp):
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA cols {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS {len(got)} != {len(exp)}"
    import pandas as pd
    g = got.sort_values(by=list(got.columns), ignore_index=True)
    e = exp.sort_values(by=list(exp.columns), ignore_index=True)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if str(gc.dtype) != str(ec.dtype):
            return f"DTYPE {c}: {gc.dtype} != {ec.dtype}"
        if gc.dtype == object:
            neq = (gc.fillna("\0") != ec.fillna("\0"))
        else:
            neq = ~((gc == ec) | (gc.isna() & ec.isna()))
        if neq.any():
            i = neq.idxmax()
            return (f"VALUE {c}[{i}]: got={gc[i]!r} exp={ec[i]!r} "
                    f"(diff rows: {int(neq.sum())})")
    return None

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    # a typo'd name would otherwise be skipped and the run would pass
    # having compared nothing
    unknown = sorted(only - oracle.keys())
    if unknown:
        sys.exit(f"unknown queries (not in {out}/oracle_sql.json): {', '.join(unknown)}")
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = canon(con, f"SELECT * FROM '{out}/{name}/*.parquet'")
        except Exception as ex:
            print(f"FAIL {name}: spark output unreadable: {ex}")
            n_bad += 1
            continue
        try:
            exp = canon(con, sql)
        except Exception as ex:
            print(f"FAIL {name}: oracle sql error: {ex}")
            n_bad += 1
            continue
        diff = compare(name, got, exp)
        if diff:
            print(f"FAIL {name}: {diff}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail")
    if n_ok + n_bad == 0:
        sys.exit("no query was compared")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
