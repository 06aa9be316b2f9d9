#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run oracle_sql.json
in DuckDB over the sf tables, compare to the Spark parquet dumps.
Usage: check_oracle.py <sfdir> <outdir>"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
names = sorted(d for d in os.listdir(outdir) if os.path.isdir(f"{outdir}/{d}"))
fails = []
# a query that THREW inside Verify writes no dump dir at all — without
# this check it would silently vanish from the gate instead of failing
# it (how a pql_time_fns regression once hid). Verify lists
# the names it was asked for in requested.json (every query on a full
# run, the filter on a dev run): each one without a dump fails. Without
# that list (a dump of an older Verify) every oracle entry is expected.
req_path = f"{outdir}/requested.json"
requested = json.load(open(req_path)) if os.path.exists(req_path) else list(oracle)
for m in sorted(set(requested) - set(names)):
    print(f"{m:24s} NO SPARK DUMP (query failed inside Verify?)")
    fails.append(m)
for name in names:
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    spark_df = pd.concat([pq.read_table(f).to_pandas() for f in sorted(files)]) \
        if files else pd.DataFrame()
    if name not in oracle:
        print(f"{name:24s} rows-only: {len(spark_df)} rows")
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name:24s} ORACLE SQL ERROR: {e}")
        fails.append(name); continue
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        print(f"{name:24s} SCHEMA MISMATCH spark={list(s.columns)} duck={list(d.columns)}")
        fails.append(name); continue
    if len(s) != len(d):
        print(f"{name:24s} ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}")
        fails.append(name); continue
    bad = []
    for c in s.columns:
        sc, dc = s[c], d[c]
        # The driver hashes the RENDERING, not the values: an int64 Spark
        # column vs a HUGEINT/float DuckDB column renders 31 vs 31.0 and
        # hash-mismatches even when numerically identical (round 6's one
        # red row, corpus_vocab_growth). Flag any int-vs-float kind split
        # before comparing values.
        if {sc.dtype.kind, dc.dtype.kind} == {'i', 'f'} and not (
                sc.isna().any() or dc.isna().any()):
            bad.append((c, f"RENDER-TYPE split spark={sc.dtype} duck={dc.dtype}"
                           " (int vs float renders 31 vs 31.0 at the gate)"))
            continue
        try:
            if sc.dtype.kind == 'f' or dc.dtype.kind == 'f':
                import numpy as np
                sf_, df_ = sc.astype(float), dc.astype(float)
                eq = (sc.isna() & dc.isna()) | (sf_.round(9) == df_.round(9))
                # the driver hashes the RENDERING: -0.0 != 0.0 there even
                # though they compare numerically equal (the only red row
                # of round 2). Flag sign-of-zero divergence explicitly.
                signdiff = (sf_ == 0) & (df_ == 0) & \
                    (np.signbit(sf_.fillna(0)) != np.signbit(df_.fillna(0)))
                eq = eq & ~signdiff
            else:
                eq = (sc.isna() & dc.isna()) | (sc.astype(str) == dc.astype(str))
        except Exception as e:
            bad.append((c, f"cmp-error {e}")); continue
        if not eq.all():
            i = int((~eq).idxmax())
            bad.append((c, f"row {i}: spark={sc.iloc[i]!r} duck={dc.iloc[i]!r} ({int((~eq).sum())} diffs)"))
    if bad:
        print(f"{name:24s} VALUE MISMATCH: {bad[:3]}")
        fails.append(name)
    else:
        print(f"{name:24s} OK ({len(s)} rows)")
total = len(set(names) | set(requested))
print(f"\n{total-len(fails)}/{total} pass; fails: {fails}")
