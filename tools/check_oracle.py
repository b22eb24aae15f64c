#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir
tables, sorts columns by name + rows, and diffs values. A result
directory with no oracle entry prints `UNCHECKED <name>`: it is not
counted in the summary, so the summary alone cannot show it.

Exits 1 if any key prints FAIL, ERR or UNCHECKED, else 0.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
            want = con.execute(sql).fetchdf()
            g, w = canon(got), canon(want)
            if list(g.columns) != list(w.columns):
                print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
                continue
            if len(g) != len(w):
                print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
                continue
            # normalize dtypes for compare — but flag int-vs-float first:
            # the driver hashes rendered values, so BIGINT 150 vs HUGEINT
            # 150.0 is a real failure (an integer result that one engine
            # widens to float; q_sessionize had this bug)
            bad = None
            for c in g.columns:
                gk, wk = g[c].dtype.kind, w[c].dtype.kind
                if ("i" in (gk, wk) or "u" in (gk, wk)) and "f" in (gk, wk):
                    bad = f"col {c} DTYPE: spark={g[c].dtype} duck={w[c].dtype}"
                    break
            for c in (g.columns if not bad else []):
                gv, wv = g[c], w[c]
                if gv.dtype.kind in "fc" or wv.dtype.kind in "fc":
                    eq = (gv.astype(float).fillna(-9e99) - wv.astype(float).fillna(-9e99)).abs() < 1e-12
                else:
                    eq = gv.astype(str).fillna("\0") == wv.astype(str).fillna("\0")
                if not eq.all():
                    i = int((~eq).idxmax())
                    bad = f"col {c} row {i}: spark={gv[i]!r} duck={wv[i]!r}"
                    break
            if bad:
                print(f"FAIL {name}: {bad}")
            else:
                n_ok += 1
                print(f"ok   {name} ({len(g)} rows)")
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {e}")
    unchecked = [name for name in sorted(os.listdir(out_dir))
                 if name not in oracles and os.path.isdir(f"{out_dir}/{name}")]
    for name in unchecked:
        print(f"UNCHECKED {name}")
    print(f"{n_ok}/{len(oracles)} matched")
    return 0 if n_ok == len(oracles) and not unchecked else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
