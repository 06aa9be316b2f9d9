#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload tsdb_query --seed 7 --seconds 10 --trace 0

Builds the program and the harness if the sources changed (build.py),
generates the workload's inputs from the seed (gen.py), runs the
workload in a fresh JVM on the compiled classpath, checks its outputs
(check.py) and prints the metrics. The last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
set with --trace 0, the per-layer set with --trace 1). A wrong output
prints `correct: false` and exits 1. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Ops per run = max(min, round(seconds * rate)), rounded to whole
# `unit`s: a fixed amount of work per run (so cpu_s compares across runs
# and commits), sized so the timed phase lasts about --seconds on a
# 4-core host. A query unit is one round of the 6 query shapes, a
# training unit one pass over its 7 stages.
WORKLOADS = {
    "tsdb_query": dict(rate=3.0, min_ops=12, unit=6),
    "tsdb_ingest": dict(rate=0.25, min_ops=3, unit=1),
    "training_data": dict(rate=0.6, min_ops=7, unit=7),
}
JVM_TIMEOUT_S = 160
# C1 only: a run lasts well under a minute, and with C2 on, its
# compiler threads took 16-22 s of the 25-34 s of CPU in a timed
# tsdb_query phase, so the figures measured the JIT, not the program.
# C1 alone defaults to a 48 MB code cache, which Spark's generated code
# can fill (the JVM then dies resolving a method handle); 240 MB is the
# tiered default.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def n_ops(workload, seconds):
    w = WORKLOADS[workload]
    n = max(w["min_ops"], round(seconds * w["rate"]))
    return w["unit"] * max(1, round(n / w["unit"]))


def heap():
    """The tier-1 heap formula: half the host's memory, 2g to 8g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return "%dg" % min(8, max(2, kb // 2097152))


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]  # total, steal


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    ops = n_ops(args.workload, args.seconds)
    run_dir = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed,
                                                              os.getpid()))
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    tmp_dir = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    try:
        phases = {"start": time.time() - started}
        gen.generate(args.workload, in_dir, args.seed, ops)
        phases["gen"] = time.time() - started - sum(phases.values())
        cmd = (["java"] + JIT + ["-Xmx" + heap(), "-Xss8m", "-Djava.io.tmpdir=" + tmp_dir,
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [a for p in JDK_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
               + ["-cp", os.pathsep.join([classes, build.spark_jars()]), "graftbench.Main",
                  "--workload", args.workload, "--in", in_dir, "--out", out_dir,
                  "--ops", str(ops), "--trace", str(args.trace)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        total0, steal0 = cpu_times()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                  timeout=max(30, JVM_TIMEOUT_S - (time.time() - started)))
        total1, steal1 = cpu_times()
        phases["jvm"] = time.time() - started - sum(phases.values())
        result_path = os.path.join(out_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            print("benchmark JVM failed (exit %d)" % proc.returncode, file=sys.stderr)
            return 3
        with open(result_path) as f:
            result = json.load(f)
        host = {"steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
                "load_avg": os.getloadavg()[0]}
        problems, bad = check.check(args.workload, in_dir, out_dir, result)
        phases["check"] = time.time() - started - sum(phases.values())
        host["phases"] = phases
        if args.trace:
            save_trace(args, result)
    except subprocess.TimeoutExpired:
        print("benchmark JVM exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for o in result["ops"]:
        if o["op"] in bad and o["ok"]:
            o.update(ok=False, error="WrongResult", layer="check")
    failed = [o for o in result["ops"] if not o["ok"]]
    if args.trace:
        values = stats.per_layer(args.workload, result, host)
        units = dict(stats.PER_LAYER)
    else:
        values = stats.end_to_end(args.workload, result)
        units = dict(stats.END_TO_END)
    for p in problems:
        print("check failed: " + p, file=sys.stderr)
    detail(args, result, failed, host)
    out = {
        "correct": not problems,
        "attempted": len(result["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": (None if v is None or not math.isfinite(v) else v),
                        "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(out))
    return 0 if not problems else 1


def detail(args, result, failed, host):
    """Human-readable context line: op counts per kind, failures by
    error class and layer, host steal."""
    kinds = {}
    for o in result["ops"]:
        k = kinds.setdefault(o["kind"], {"attempted": 0, "failed": 0})
        k["attempted"] += 1
        k["failed"] += 0 if o["ok"] else 1
    errors = {}
    for o in failed:
        key = "%s@%s" % (o["error"], o["layer"])
        errors[key] = errors.get(key, 0) + 1
    phases = dict(host["phases"], jvm_setup=sum(
        r["session_ns"] + r["stores_ns"] for r in result["setup"]["reps"]) / 1e9
        + result["setup"]["warmup_ns"] / 1e9, jvm_timed=result["timed"]["wall_ns"] / 1e9,
        jvm_check=result["check_ns"] / 1e9)
    print("# %s seed=%d ops=%s errors=%s seconds=%s steal_pct=%.2f load_avg=%.2f" % (
        args.workload, args.seed, json.dumps(kinds), json.dumps(errors),
        json.dumps({k: round(v, 1) for k, v in phases.items()}),
        host["steal_pct"], host["load_avg"]))


def save_trace(args, result):
    """Spans and per-layer self times, written when the run ends."""
    path = os.path.join(build.BUILD, "traces", "%s-seed%d.json" % (args.workload, args.seed))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"layers": stats.layer_table(result["spans"]),
                   "spans": result["spans"], "ops": result["ops"]}, f)


if __name__ == "__main__":
    sys.exit(main())
