#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle compare.

Usage: python3 tools/compare_oracle.py <sf_dir> <verify_out_dir> [filter]

Registers each testdata parquet as a DuckDB view, runs every SQL in
oracle_sql.json, and compares against the Spark-dumped parquet with columns
sorted by name and exact (stringified) value equality — the strictest
plausible version of the driver's hash compare.

The optional filter is a comma list of names or name prefixes; a filter
that matches no oracle key exits 1.
"""
import duckdb, json, glob, sys
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(sf: str, out: str, only: str = "") -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    if only:  # comma list or prefix filter for local iteration
        names = set(only.split(","))
        oracle = {k: v for k, v in oracle.items()
                  if k in names or any(k.startswith(n) for n in names)}
        if not oracle:  # a typo'd filter must not read as a clean compare
            print(f"no oracle key matches filter {only!r}")
            return 1
    ok, bad = [], []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            bad.append((name, f"ORACLE SQL ERROR: {e}"))
            continue
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        if not files:
            bad.append((name, "NO SPARK OUTPUT"))
            continue
        got = pd.concat([pq.read_table(f).to_pandas() for f in files])
        exp = exp[sorted(exp.columns)].reset_index(drop=True)
        got = got[sorted(got.columns)].reset_index(drop=True)
        if list(exp.columns) != list(got.columns):
            bad.append((name, f"COLS exp={list(exp.columns)} got={list(got.columns)}"))
            continue
        if len(exp) != len(got):
            bad.append((name, f"ROWS exp={len(exp)} got={len(got)}"))
            continue
        mism = []
        for c in exp.columns:
            e, g = exp[c].astype(str), got[c].astype(str)
            if not (e == g).all():
                i = (e != g)[lambda s: s].index[0]
                mism.append(f"{c}[{i}]: exp={exp[c][i]!r} got={got[c][i]!r}")
        if mism:
            bad.append((name, "; ".join(mism[:3])))
        else:
            ok.append(name)
    print(f"OK {len(ok)}")
    print(f"BAD {len(bad)}")
    for n, m in bad:
        print(" ", n, "->", m[:300])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else ""))
