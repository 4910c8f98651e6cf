#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify output
against the DuckDB oracle (oracle_sql.json) on the same parquet tables.

Usage: python3 scripts/oracle_check.py [sf_dir] [verify_out] [--only q1,q2]
(run `sbt "runMain graft.Verify <sf_dir> <verify_out>"` first)

Prints one line per query as it finishes: status, name, the seconds the
oracle SQL took in DuckDB, the seconds the compare took, and the Spark
row count; then the failures again and the total.
"""
import argparse, sys, os, json, glob, time
import duckdb

ap = argparse.ArgumentParser()
ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
ap.add_argument("out_dir", nargs="?", default="/tmp/verify_out")
ap.add_argument("--only", default=None,
                help="comma-separated query names to check (default: all)")
args = ap.parse_args()
sf_dir, out_dir = args.sf_dir, args.out_dir

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

def compare(sdf, odf):
    """Status of Spark's rows against the oracle's: OK or the first mismatch."""
    # driver semantics: sort columns by name, then compare values
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    if list(sdf.columns) != list(odf.columns):
        return f"SCHEMA: spark={list(sdf.columns)} oracle={list(odf.columns)}"
    if len(sdf) != len(odf):
        return f"ROWS: spark={len(sdf)} oracle={len(odf)}"
    # row-order-insensitive compare (sort rows by all columns)
    cols = list(sdf.columns)
    s2 = sdf.sort_values(cols, na_position="first").reset_index(drop=True)
    o2 = odf.sort_values(cols, na_position="first").reset_index(drop=True)
    mismatch = None
    for c in cols:
        a, b = s2[c], o2[c]
        try:
            import pandas as pd
            af = str(a.dtype).startswith(("float", "Float"))
            bf = str(b.dtype).startswith(("float", "Float"))
            if af != bf:
                # driver hashes exact values: int 5 vs float 5.0 mismatch.
                # (DuckDB sum(BIGINT) -> HUGEINT -> float64 is the usual cause;
                # CAST(... AS BIGINT) in the oracle SQL.)
                mismatch = f"COL {c}: dtype spark={a.dtype} oracle={b.dtype} (int vs float)"
                break
            if af or bf:
                # driver semantics: EXACT value hash — repr-level compare,
                # so 0.0 vs -0.0 and last-ulp drift FAIL here like they
                # fail driver-side (the r8 q_groupby_cov lesson: a 1e-9
                # tolerance hid a signed-zero mismatch).
                aa = a.map(repr).where(~a.isna(), "<NA>")
                bb = b.map(repr).where(~b.isna(), "<NA>")
                bad = aa != bb
                if bad.any() and ((a - b).abs().fillna(0) < 1e-9).all():
                    i = bad.idxmax()
                    mismatch = (f"COL {c} row {i}: spark={a[i]!r} "
                                f"oracle={b[i]!r} (EXACT-ONLY: within 1e-9 "
                                f"tolerance but driver hashes exact)")
                    break
            else:
                aa = a.astype(str).where(~a.isna(), "<NA>")
                bb = b.astype(str).where(~b.isna(), "<NA>")
                bad = aa != bb
            if bad.any():
                i = bad.idxmax()
                mismatch = f"COL {c} row {i}: spark={a[i]!r} oracle={b[i]!r} ({int(bad.sum())} bad)"
                break
        except Exception as e:
            mismatch = f"COL {c}: compare error {str(e)[:120]}"
            break
    return mismatch or "OK"


oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
only = set(args.only.split(",")) if args.only else None
results = {}
for name in sorted(oracle):
    if only is not None and name not in only:
        continue
    spark_dir = f"{out_dir}/{name}"
    files = glob.glob(f"{spark_dir}/*.parquet")
    duck_s = cmp_s = 0.0
    rows = "-"
    if not files:
        results[name] = "MISSING_SPARK_OUTPUT"
    else:
        try:
            sdf = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            t0 = time.perf_counter()
            odf = con.execute(oracle[name]).fetchdf()
            duck_s = time.perf_counter() - t0
        except Exception as e:
            results[name] = f"SQL_ERROR: {str(e)[:200]}"
        else:
            rows = len(sdf)
            t0 = time.perf_counter()
            results[name] = compare(sdf, odf)
            cmp_s = time.perf_counter() - t0
    v = results[name]
    print(f"{'PASS' if v == 'OK' else 'FAIL'} {name}  duckdb {duck_s:.2f}s  "
          f"compare {cmp_s:.2f}s  rows {rows}" + ("" if v == "OK" else "  " + v),
          flush=True)

n_ok = sum(1 for v in results.values() if v == "OK")
for k, v in results.items():
    if v != "OK":
        print("FAIL " + k + "  " + v)
print(f"\n{n_ok}/{len(results)} queries match (+ rows-only: "
      f"{sorted(set(os.path.basename(p) for p in glob.glob(out_dir + '/q_*')) - set(oracle))})")
sys.exit(0 if n_ok == len(results) else 1)
