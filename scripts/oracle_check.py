#!/usr/bin/env python3
"""Replay every DuckDB oracle over a graft.Verify output directory.

Usage: scripts/oracle_check.py <verify_out> <sf_dir>

<verify_out> is the directory `runMain graft.Verify <sf_dir> <verify_out>`
wrote: one parquet directory per query plus `oracle_sql.json`. Run Verify
first and keep its directory, since the KG oracles read the goldens
Verify writes under it. Each query's rows are compared with its oracle's
in any row order, with columns in name order and a 1e-9 tolerance. The
script prints `OK <name>` or `FAIL <name>: <reason>` per query and exits
non-zero when any query mismatches or has no output.
"""
import glob
import json
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canonical(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failed = 0
    for name, sql in sorted(oracles.items()):
        try:
            files = glob.glob(f"{out_dir}/{name}/*.parquet")
            if not files:
                raise AssertionError("no output parquet")
            got = canonical(pq.read_table(files[0]).to_pandas())
            want = canonical(con.execute(sql).df())
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          rtol=1e-9, atol=1e-9)
            print("OK", name)
        except Exception as e:
            failed += 1
            reason = str(e).strip().splitlines()
            print(f"FAIL {name}: {reason[0] if reason else type(e).__name__}")
    print(f"{len(oracles) - failed}/{len(oracles)} OK")
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
