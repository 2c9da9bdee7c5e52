#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [qPrefix,qPrefix,...]

The optional third arg restricts checking to the queries one of the given
prefixes selects: the name itself or the name up to an underscore, so
q21 checks q21_* but not q210_* (Verify's SPARK_GRAFT_ONLY filter, so a
filtered dump can be checked without noise).

For each query dumped by `graft.Verify` (parquet dir per query +
oracle_sql.json), runs the oracle SQL in DuckDB over the sfDir tables and
compares against the Spark result: row count, column names (sorted), and a
hash over all values with columns sorted by name and rows sorted by all
columns. Mirrors what TESTDATA.md describes so mismatches surface locally.
"""
import sys, os, json, glob
import duckdb

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # repr keeps full precision; exact match required
        return repr(v)
    return str(v)

def canon(con, rel_sql):
    df = con.sql(rel_sql).fetchdf()
    cols = sorted(df.columns)
    df = df[cols]
    rows = ["\x1f".join(norm(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return cols, rows

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for q in sorted(oracle):
        if only is not None and not any(q == p or q.startswith(p + "_") for p in only):
            continue
        pq = f"{out_dir}/{q}"
        if not os.path.isdir(pq):
            print(f"[FAIL] {q}: no spark output at {pq}")
            n_fail += 1
            continue
        try:
            scols, srows = canon(con, f"SELECT * FROM read_parquet('{pq}/*.parquet')")
            ocols, orows = canon(con, oracle[q])
        except Exception as e:
            print(f"[FAIL] {q}: {e}")
            n_fail += 1
            continue
        if scols != ocols:
            print(f"[FAIL] {q}: columns spark={scols} oracle={ocols}")
            n_fail += 1
        elif len(srows) != len(orows):
            print(f"[FAIL] {q}: rows spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
        elif srows != orows:
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"[FAIL] {q}: value mismatch; first diffs:")
            for a, b in diffs:
                print(f"    spark : {a[:200]}")
                print(f"    oracle: {b[:200]}")
            n_fail += 1
        else:
            print(f"[PASS] {q} ({len(srows)} rows)")
            n_pass += 1
    extra = sorted(set(os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
                       if os.path.isdir(d)) - set(oracle))
    for q in extra:
        print(f"[INFO] {q}: spark output without oracle (rows-only check)")
    print(f"== {n_pass} pass / {n_fail} fail / {len(extra)} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
