"""Metric arithmetic: percentiles, span self times and the metric sets
the runner prints. Everything here works on the JVM's `result.json`
and the host counters `run.py` samples, so it is testable without
Spark (see test_graftbench.py)."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The op each workload's latency metrics are about.
PRIMARY = {"tsdb_query": "query", "tsdb_ingest": "batch", "training_data": "stage"}

END_TO_END = [
    ("setup_s", "s"),
    ("run_wall_s", "s"),
    ("op_p50_gmean_s", "s"),
    ("cpu_s", "s"),
    ("retained_heap_mb", "MB"),
]

FRONT_DOORS = ["promql", "graphite", "m3ql", "tsdb.fetch", "sources.tsz_read"]
FAMILIES = ["dedup", "similarity", "corpus", "text"]

PER_LAYER = (
    [(f"{d}.{m}", u) for d in FRONT_DOORS
     for m, u in (("build_s", "s"), ("calls", "count"), ("build_jobs", "count"))]
    + [("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.jobs", "count"),
       ("spark.jobs_per_op", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.sql_execs", "count"),
       ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"), ("spark.gc_s", "s"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
       ("spark.slot_busy_frac", "frac"), ("jvm.jit_s", "s"),
       ("sources.parse_s", "s"), ("sources.parse_rows_in", "count"),
       ("sources.parse_rows_out", "count"), ("sources.append_s", "s"),
       ("sources.compact_s", "s"), ("sources.store_bytes", "bytes"),
       ("sources.store_files", "count"), ("sources.store_build_s", "s"),
       ("sources.read_bytes", "bytes"), ("sources.read_rows", "count"),
       ("sources.readback_s", "s"), ("tsdb.downsample_s", "s"),
       ("streaming.batch_s", "s"), ("streaming.state_rows", "count"),
       ("streaming.state_bytes", "bytes"), ("streaming.watermark_lag_s", "s")]
    + [(f"pipeline.{f}{m}", u) for f in FAMILIES for m, u in (("_s", "s"), ("_jobs", "count"))]
    + [("pipeline.pass_s", "s"),
       ("setup.session_s", "s"), ("setup.stores_s", "s"), ("setup.warmup_s", "s"),
       ("ops.count", "count"), ("ops.tail_s", "s"), ("ops.tail_pct", "pct"),
       ("ingest.samples_per_s", "1/s"), ("ingest.readback_p50_s", "s"),
       ("ingest.stream_batch_p50_s", "s"), ("ingest.tsz_bytes_per_sample", "B/sample"),
       ("trace.overhead_frac", "frac"), ("trace.unattributed_frac", "frac"),
       ("trace.spans", "count"),
       ("host.steal_pct", "pct"), ("host.load_avg", "count")]
)

MIN_BEYOND = 10


def tail(values):
    """(percent, value) of the highest percentile with at least
    MIN_BEYOND samples beyond it, or None when that would fall below
    the median."""
    v = sorted(values)
    n = len(v)
    if n < 2 * MIN_BEYOND:
        return None
    k = n - MIN_BEYOND
    return 100.0 * k / n, v[k - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def p50_gmean(ops):
    """Geometric mean over op shapes (an op's tag) of each shape's median
    latency: a typical op that weighs every shape alike, so a change to
    any one shape moves it. A failed op counts as missing the median.
    None without ops."""
    by_shape = {}
    for o in ops:
        by_shape.setdefault(o["tag"], []).append(o)
    if not by_shape:
        return None
    meds = [statistics.median(latencies(v)) for v in by_shape.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def self_times(spans):
    """span id -> self time in ns: the span's duration minus the part of
    its interval that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_table(spans):
    """name -> {calls, total_s, self_s} over the spans inside timed ops."""
    selfs = self_times(spans)
    table = {}
    for s in spans:
        if s["op"] < 1:
            continue
        row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        row["self_s"] += selfs[s["id"]] / 1e9
    return table


def _ops(result, kind):
    return [o for o in result["ops"] if o["kind"] == kind]


def _dur(o):
    return (o["end_ns"] - o["start_ns"]) / 1e9


def latencies(ops):
    """Op latencies with every failed op counted as missing any limit."""
    return [_dur(o) if o["ok"] else math.inf for o in ops]


def setup_s(result):
    """Median over the reps of session start plus store builds, plus the
    one warm-up that follows them: the time to the first timed op."""
    setup = result["setup"]
    reps = [r["session_ns"] + r["stores_ns"] for r in setup["reps"]]
    return (median(reps) + setup["warmup_ns"]) / 1e9


def end_to_end(workload, result):
    prim = _ops(result, PRIMARY[workload])
    return {
        "setup_s": setup_s(result),
        "run_wall_s": result["timed"]["wall_ns"] / 1e9,
        "op_p50_gmean_s": p50_gmean(prim),
        "cpu_s": result["timed"]["cpu_ns"] / 1e9,
        "retained_heap_mb": result["retained_heap_mb"],
    }


def per_layer(workload, result, host):
    spans = result.get("spans", [])
    by_key = result["probe"]["by_key"]
    timed = result["timed"]
    spark = timed["spark"]
    extra = result.get("extra", {})
    wall = timed["wall_ns"] / 1e9
    table = layer_table(spans)
    ops = result["ops"]
    prim = _ops(result, PRIMARY[workload])
    m = {name: 0.0 for name, _ in PER_LAYER}

    def total(name):
        return table.get(name, {}).get("total_s", 0.0)

    def jobs_of(ids):
        return sum(by_key.get(str(i), {}).get("jobs", 0) for i in ids)

    for d in FRONT_DOORS:
        ids = [s["id"] for s in spans if s["name"] == d + ".build" and s["op"] >= 1]
        m[d + ".build_s"] = total(d + ".build")
        m[d + ".calls"] = len(ids)
        m[d + ".build_jobs"] = jobs_of(ids)

    m["spark.plan_s"] = total("spark.plan")
    m["spark.exec_s"] = total("spark.exec")
    m["spark.jobs"] = spark.get("jobs", 0)
    m["spark.jobs_per_op"] = spark.get("jobs", 0) / max(1, len(ops))
    m["spark.stages"] = spark.get("stages", 0)
    m["spark.tasks"] = spark.get("tasks", 0)
    m["spark.sql_execs"] = spark.get("sql_ok", 0)
    m["spark.executor_cpu_s"] = spark.get("executor_cpu_ns", 0) / 1e9
    m["spark.executor_run_s"] = spark.get("executor_run_ms", 0) / 1e3
    m["spark.gc_s"] = spark.get("gc_ms", 0) / 1e3
    m["spark.shuffle_read_bytes"] = spark.get("shuffle_read_bytes", 0)
    m["spark.shuffle_write_bytes"] = spark.get("shuffle_write_bytes", 0)
    m["spark.spill_bytes"] = spark.get("spill_bytes", 0)
    m["spark.input_bytes"] = spark.get("input_bytes", 0)
    m["spark.slot_busy_frac"] = m["spark.executor_run_s"] / (wall * result["cpus"])
    m["jvm.jit_s"] = timed["jit_ms"] / 1e3

    m["sources.parse_s"] = total("sources.parse")
    m["sources.parse_rows_in"] = extra.get("rows_in", 0)
    m["sources.parse_rows_out"] = extra.get("rows_out", 0)
    m["sources.append_s"] = total("sources.append")
    m["sources.compact_s"] = total("sources.compact")
    m["sources.store_bytes"] = extra.get("tsz_bytes", 0) + extra.get("series_bytes", 0)
    m["sources.store_files"] = extra.get("tsz_files", 0) + extra.get("series_files", 0)
    builds = [s for s in spans if s["name"] == "sources.store_build"]
    m["sources.store_build_s"] = median([(s["end_ns"] - s["start_ns"]) / 1e9 for s in builds])
    m["sources.read_bytes"] = spark.get("input_bytes", 0)
    m["sources.read_rows"] = spark.get("input_records", 0)
    m["sources.readback_s"] = total("sources.readback")
    m["tsdb.downsample_s"] = total("tsdb.downsample")

    stream = [s for s in spans if s["name"] == "streaming.batch" and s["op"] >= 1]
    m["streaming.batch_s"] = total("streaming.batch")
    progress = extra.get("progress", [])
    if progress:
        m["streaming.state_rows"] = progress[-1]["state_rows"]
        m["streaming.state_bytes"] = progress[-1]["state_bytes"]
        lags = [p["batch_max_s"] - p["watermark_s"] for p in progress if p["watermark_s"] > 0]
        m["streaming.watermark_lag_s"] = median(lags)

    for f in FAMILIES:
        fam = [o for o in prim if o["tag"].startswith({"similarity": "sim"}.get(f, f) + "_")]
        m[f"pipeline.{f}_s"] = sum(_dur(o) for o in fam)
        op_ids = {o["op"] for o in fam}
        m[f"pipeline.{f}_jobs"] = jobs_of(s["id"] for s in spans if s["op"] in op_ids)
    m["pipeline.pass_s"] = median(extra.get("pass_ns", [])) / 1e9

    for phase in ("session", "stores"):
        m[f"setup.{phase}_s"] = median([r[f"{phase}_ns"] for r in result["setup"]["reps"]]) / 1e9
    m["setup.warmup_s"] = result["setup"]["warmup_ns"] / 1e9

    m["ops.count"] = len(prim)
    t = tail(latencies(prim))
    if t is not None and math.isfinite(t[1]):
        m["ops.tail_pct"], m["ops.tail_s"] = t

    if workload == "tsdb_ingest":
        m["ingest.samples_per_s"] = extra.get("rows_out", 0) / wall
        m["ingest.readback_p50_s"] = median([_dur(o) for o in _ops(result, "readback")])
        m["ingest.stream_batch_p50_s"] = median(
            [(s["end_ns"] - s["start_ns"]) / 1e9 for s in stream])
        stored = result["checks"].get("series_rows", 0)
        m["ingest.tsz_bytes_per_sample"] = extra.get("tsz_bytes", 0) / max(1, stored)

    op_time = sum(_dur(o) for o in ops)
    selfs = self_times(spans)
    m["trace.overhead_frac"] = timed.get("trace_overhead_ns", 0) / 1e9 / max(op_time, 1e-9)
    m["trace.unattributed_frac"] = sum(
        selfs[s["id"]] for s in spans if s["name"] == "op") / 1e9 / max(op_time, 1e-9)
    m["trace.spans"] = len(spans)
    m["host.steal_pct"] = host["steal_pct"]
    m["host.load_avg"] = host["load_avg"]
    return m
