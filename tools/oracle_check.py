#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: oracle_check.py <sfDir> <verifyOutDir>

For each query in <verifyOutDir>/oracle_sql.json: run the SQL in DuckDB with
tables registered as views over <sfDir>/*.parquet, load the Spark result
parquet, sort columns by name, and compare row counts, dtypes, and values.

Every entry <verifyOutDir>/verify_status.json lists is accounted for: one
whose status is not null (its run or its oracle threw) is a FAIL, and one
that has no oracle is a FAIL counted as missing. The last line counts
ok / fail / missing; the exit code is the number of FAIL lines.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    with open(f"{out_dir}/verify_status.json") as f:
        status = json.load(f)
    n_ok = n_fail = n_missing = 0
    for name in sorted(status):
        if status[name] is not None:
            print(f"FAIL {name}: status {status[name]}")
            n_fail += 1
        elif name not in oracle:
            print(f"FAIL {name}: no oracle")
            n_missing += 1
    for name, sql in sorted(oracle.items()):
        if status.get(name) is not None:
            continue
        try:
            want = canon(con.sql(sql).df())
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns want={list(want.columns)} "
                  f"got={list(got.columns)}")
            n_fail += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            n_fail += 1
            continue
        # value compare, column by column, with a readable first-diff report
        bad = None
        for c in want.columns:
            w, g = want[c], got[c]
            try:
                eq = (w.astype(str) == g.astype(str))
            except Exception:  # noqa: BLE001
                eq = pd.Series([False] * len(w))
            if not eq.all():
                i = int((~eq).idxmax())
                bad = (c, i, w.iloc[i], g.iloc[i])
                break
        if bad:
            c, i, wv, gv = bad
            print(f"FAIL {name}: col={c} row={i} want={wv!r} got={gv!r}")
            n_fail += 1
        else:
            print(f"ok   {name} ({len(want)} rows)")
            n_ok += 1
    print(f"ok {n_ok} / fail {n_fail} / missing {n_missing}")
    return n_fail + n_missing


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
