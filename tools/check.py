#!/usr/bin/env python3
"""Local self-check mirroring the driver's correctness gate:
runs Verify output parquet against DuckDB oracle_sql.json, and fails
every gate verify_manifest.json lists as thrown or without output.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, duckdb, pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
manifest = json.load(open(f"{out}/verify_manifest.json"))
fails, passes, skips = [], [], []
# a gate Verify attempted but that threw, or left no output dir, fails
# here: it must never drop out of the compare silently
for name in manifest["attempted"]:
    if name in manifest["threw"]:
        fails.append((name, f"threw: {manifest['threw'][name]}"))
    elif not os.path.isdir(os.path.join(out, name)):
        fails.append((name, "no output dir"))
for name in sorted(os.listdir(out)):
    pdir = os.path.join(out, name)
    if not os.path.isdir(pdir) or name in manifest["threw"]:
        continue
    got = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
    if name not in oracle:
        skips.append((name, len(got)))
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle error: {e}"))
        continue
    def tuplify(df):
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(
                    lambda v: tuple(v) if isinstance(v, (list, tuple))
                    or type(v).__name__ == "ndarray" else v)
        return df
    g = tuplify(got.reindex(sorted(got.columns), axis=1))
    e = tuplify(exp.reindex(sorted(exp.columns), axis=1))
    if list(g.columns) != list(e.columns):
        fails.append((name, f"cols: spark={list(g.columns)} oracle={list(e.columns)}"))
        continue
    if len(g) != len(e):
        fails.append((name, f"rows: spark={len(g)} oracle={len(e)}"))
        continue
    # order-insensitive compare (sort all columns), exact values
    sk = list(g.columns)
    g2 = g.sort_values(sk, na_position="first").reset_index(drop=True)
    e2 = e.sort_values(sk, na_position="first").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g2, e2, check_dtype=False, check_exact=True)
        passes.append(name)
    except AssertionError as ex:
        fails.append((name, str(ex).split("\n")[0:6]))

print(f"PASS {len(passes)}: {passes}")
print(f"SKIP (rows-only) {len(skips)}: {skips}")
print(f"FAIL {len(fails)}:")
for n, m in fails:
    print(" ", n, m)
sys.exit(1 if fails else 0)
