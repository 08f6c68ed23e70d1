#!/usr/bin/env python3
"""Dev-only oracle checker simulating the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query result parquet in verifyOutDir, runs the matching SQL from
oracle_sql.json in DuckDB (tables = <sfDir>/*.parquet registered as views),
sorts columns by name + rows, and compares values exactly.
"""
import sys, json, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=sorted(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"[MISS] {name}: no parquet output"); n_fail += 1; continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        if name not in oracle:
            # the driver's gate canonicalizes (sorts + hashes) even
            # no-oracle outputs — r13's embed_whiten shipped an
            # array<double> column that crashed its pandas sort while
            # this branch happily printed [ROWS], so the pre-close
            # sweep said "0 FAIL" against an artifact recording 1 err.
            # Reproduce the driver's behavior: canon() must succeed.
            try:
                canon(got)
            except Exception as e:
                print(f"[ERR ] {name}: no-oracle output not canonicalizable "
                      f"(driver gate would record err): {type(e).__name__}: {e}")
                n_fail += 1
                continue
            print(f"[ROWS] {name}: rows={len(got)} (no oracle)")
            continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"[ERR ] {name}: oracle SQL failed: {e}"); n_fail += 1; continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"[FAIL] {name}: columns {list(g.columns)} vs {list(w.columns)}"); n_fail += 1; continue
        if len(g) != len(w):
            print(f"[FAIL] {name}: rows {len(g)} vs {len(w)}"); n_fail += 1; continue
        dt_warn = [c for c in g.columns if str(g[c].dtype) != str(w[c].dtype)]
        if dt_warn:
            print(f"[WARN] {name}: dtype mismatch {[(c, str(g[c].dtype), str(w[c].dtype)) for c in dt_warn]}")
        if g.equals(w):
            print(f"[PASS] {name}: rows={len(g)}"); n_pass += 1
        else:
            neq = (g != w) & ~(g.isna() & w.isna())
            bad_cols = [c for c in g.columns if neq[c].any()]
            print(f"[FAIL] {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:3]:
                i = neq[c].idxmax()
                print(f"        {c}[{i}]: got={g[c][i]!r} want={w[c][i]!r}")
            n_fail += 1
    # a query Verify could not build leaves no dir, only this record
    errs = f"{out_dir}/verify_errors.json"
    for name, err in sorted((json.load(open(errs)) if os.path.exists(errs) else {}).items()):
        print(f"[ERR ] {name}: Verify failed: {err}"); n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
