"""Output checks, run after the timed phase. Each returns a list of
problems (empty = correct) and the set of op ids whose output was
wrong, so those ops count as failed."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _samples(df):
    """Sample rows as a sorted list of exact tuples (ts in µs)."""
    if df.empty:
        return []
    ts = df["ts"].astype("datetime64[us, UTC]").astype("int64")
    return sorted(zip(df["name"], df["user_id"].astype("int64"), ts, df["value"]))


def _close(a, b, tol=1e-6):
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return bool(np.all(np.isclose(a, b, rtol=tol, atol=tol)))


def tsdb_query(in_dir, out_dir, result):
    problems, bad = [], set()
    checks = result["checks"]
    if "error" in checks:
        return [checks["error"]], {o["op"] for o in result["ops"]}
    for op, verdict in checks["queries"].items():
        if verdict != "ok":
            problems.append(f"op {op}: store and raw frame disagree: {verdict}")
            bad.add(int(op))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW samples AS SELECT * FROM '{in_dir}/samples.parquet'")
    for f in checks["fetches"]:
        want = con.execute(
            "SELECT name, user_id, ts, value FROM samples WHERE name = ? "
            "AND regexp_full_match(CAST(user_id AS VARCHAR), ?) "
            "AND ts >= to_timestamp(?) AND ts < to_timestamp(?)",
            [f["name"], f["user_re"], f["t0"], f["t1"]]).df()
        got = _read(os.path.join(out_dir, "check", "fetch_%d" % f["op"]))
        if _samples(got) != _samples(want):
            problems.append(f"op {f['op']} ({f['id']}): fetch differs from DuckDB "
                            f"({len(got)} rows vs {len(want)})")
            bad.add(f["op"])
    return problems, bad


def _rollup_sql(res_s, relation):
    return f"""SELECT name, user_id, {res_s} AS res,
      CAST(floor(epoch(ts) / {res_s}) * {res_s} AS BIGINT) AS bucket_s,
      sum(value) AS sum_v, count(*) AS count_v, min(value) AS min_v, max(value) AS max_v
      FROM {relation} GROUP BY ALL"""


def tsdb_ingest(in_dir, out_dir, result):
    problems = []
    checks = result["checks"]
    if "error" in checks:
        return [checks["error"]], {o["op"] for o in result["ops"]}
    n = sum(1 for o in result["ops"] if o["kind"] == "batch")
    chk = os.path.join(out_dir, "check")
    expected = pd.read_parquet(os.path.join(in_dir, "expected.parquet"))
    expected = expected[expected["batch"] <= n]
    ingested = _read(os.path.join(chk, "ingested"))
    if _samples(ingested) != _samples(expected):
        problems.append(f"parsed samples differ from the generated ones "
                        f"({len(ingested)} vs {len(expected)})")
    base = pd.read_parquet(os.path.join(in_dir, "base.parquet"))
    stored = pd.concat([base, ingested[base.columns]], ignore_index=True)
    if _samples(_read(os.path.join(chk, "tsz_readback"))) != _samples(stored):
        problems.append("decoded TszStore read-back differs from the ingested samples")

    con = duckdb.connect()
    con.register("stored", stored)
    con.register("streamed", ingested)
    want = con.sql(" UNION ALL ".join(_rollup_sql(r, "stored") for r in (60, 600, 3600))).df()
    got = _read(os.path.join(chk, "rollup"))
    got["res"] = got["resolution"].map({"1m": 60, "10m": 600, "1h": 3600})
    keys = ["name", "user_id", "res", "bucket_s"]
    j = got.merge(want, on=keys, how="outer", suffixes=("", "_w"), indicator=True)
    if (j["_merge"] != "both").any() or not all(
            _close(j[c], j[c + "_w"]) for c in ("sum_v", "count_v", "min_v", "max_v")) \
            or not _close(j["mean_v"], j["sum_v_w"] / j["count_v_w"]):
        problems.append("policy-stack rollup differs from the DuckDB rollup")

    sink = _read(os.path.join(chk, "stream"))
    if sink.empty:
        problems.append("streaming rollup emitted no window")
    else:
        hourly = con.sql(_rollup_sql(3600, "streamed")).df()
        j = sink.merge(hourly, on=["name", "user_id", "bucket_s"], how="left",
                       suffixes=("", "_w"))
        if j["count_v_w"].isna().any() or not all(
                _close(j[c], j[c + "_w"]) for c in ("sum_v", "count_v", "min_v", "max_v")):
            problems.append("streaming window rollup differs from the DuckDB rollup")
    bad = {o["op"] for o in result["ops"] if o["kind"] == "batch"} if problems else set()
    return problems, bad


def _oracle_compare(spark_df, duck_df):
    """The comparison scripts/check_oracle.py makes: same columns, same
    row count, floats equal at 9 decimals (with the sign of zero), the
    rest equal as rendered strings, no int/float render split."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return f"schema {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"row count {len(s)} != {len(d)}"
    for c in s.columns:
        sc, dc = s[c], d[c]
        if {sc.dtype.kind, dc.dtype.kind} == {"i", "f"} and not (
                sc.isna().any() or dc.isna().any()):
            return f"{c}: int/float render split"
        if sc.dtype.kind == "f" or dc.dtype.kind == "f":
            sf, df_ = sc.astype(float), dc.astype(float)
            eq = (sc.isna() & dc.isna()) | (sf.round(9) == df_.round(9))
            eq &= ~((sf == 0) & (df_ == 0) &
                    (np.signbit(sf.fillna(0)) != np.signbit(df_.fillna(0))))
        else:
            eq = (sc.isna() & dc.isna()) | (sc.astype(str) == dc.astype(str))
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{c} row {i}: {sc.iloc[i]!r} != {dc.iloc[i]!r}"
    return None


def training_data(in_dir, out_dir, result):
    problems, bad = [], set()
    checks = result["checks"]
    if "error" in checks:
        return [checks["error"]], {o["op"] for o in result["ops"]}
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    for stage, sql in sorted(checks["oracle_sql"].items()):
        try:
            want = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            want, oracle_error = None, f"oracle error {e}"
        # the stage's ops in op order are its runs in pass 1, 2, ...
        runs = sorted(o["op"] for o in result["ops"]
                      if o["kind"] == "stage" and o["tag"] == stage)
        for p, op in enumerate(runs, 1):
            if want is None:
                why = oracle_error
            else:
                why = _oracle_compare(_read(os.path.join(out_dir, f"pass{p}", stage)), want)
            if why:
                problems.append(f"{stage} (pass {p}): {why}")
                bad.add(op)
    return problems, bad


def check(workload, in_dir, out_dir, result):
    return {"tsdb_query": tsdb_query, "tsdb_ingest": tsdb_ingest,
            "training_data": training_data}[workload](in_dir, out_dir, result)


if __name__ == "__main__":
    import sys
    w, i, o = sys.argv[1:4]
    print(check(w, i, o, json.load(open(os.path.join(o, "result.json")))))
