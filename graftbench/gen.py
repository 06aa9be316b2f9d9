"""Seeded input generators, one per workload.

Every input is a pure function of (workload, seed, size): the same seed
writes byte-identical files. The program under test only ever sees the
files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1704067200  # 2024-01-01T00:00:00Z
NAMES = ["purchase", "click", "view", "signup", "cart", "search", "login", "share"]
WORDS = ("a the of spark stream batch table column row join agg sort hash scan "
         "filter merge group order query value vector index line part small big "
         "fast slow data time series metric point block store write read cache "
         "token text corpus model train").split()
LANGS = ["en", "fr", "de", "es", "zh"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def _values(rng, n):
    """Integers (the tsz int-diff path) mixed with 3-decimal floats
    (the float-XOR path)."""
    ints = rng.integers(0, 1000, n).astype(np.float64)
    floats = np.round(rng.random(n) * 1000.0, 3)
    return np.where(rng.random(n) < 0.6, ints, floats)


# ---------------------------------------------------------------- tsdb_query

def tsdb_query(out, seed, n_ops, users=250, per_series=250, days=7):
    """500k samples over 2k series (8 names x 250 users, 250 samples
    each over `days` days), a pool of one query per shape with seeded
    parameters, and the op order."""
    rng = np.random.default_rng([seed, 1])
    n_series = len(NAMES) * users
    step = days * 86400 // per_series
    base = T0 + np.arange(per_series, dtype=np.int64) * step
    ts = base[None, :] + rng.integers(0, step // 2, (n_series, per_series))
    n = n_series * per_series
    names = np.repeat(np.arange(len(NAMES)), users * per_series)
    user = np.tile(np.repeat(np.arange(users), per_series), len(NAMES))
    table = pa.table({
        "name": pa.array(np.array(NAMES, dtype=object)[names], type=pa.string()),
        "user_id": pa.array(user.astype(np.int64)),
        "ts": _ts(ts.reshape(-1)),
        "value": pa.array(_values(rng, n)),
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
    })
    _write(table, os.path.join(out, "samples.parquet"))

    span = days * 86400

    def window(width):
        start = T0 + 86400 + int(rng.integers(0, (span - 86400 - width) // 3600)) * 3600
        return start, start + width

    def pick(k):
        return [NAMES[i] for i in sorted(rng.choice(len(NAMES), k, replace=False))]

    pool = []
    a, b = pick(2)
    t0, t1 = window(2 * 86400)
    pool.append(dict(shape="promql_instant", t0=t0, t1=t1, step=0, name="", user_re="",
                     text='sum by (name) (rate({name=~"%s|%s"}[1h]))' % (a, b)))
    t0, t1 = window(6 * 3600)
    pool.append(dict(shape="promql_range", t0=t0, t1=t1, step=60, name="", user_re="",
                     text='sum by (name) (rate({name="%s"}[2h]))' % pick(1)[0]))
    t0, t1 = window(86400)
    pool.append(dict(shape="graphite", t0=t0, t1=t1, step=0, name="", user_re="",
                     text='summarize(events.%s.user%d?, "1h", "sum")' % (
                         pick(1)[0], rng.integers(1, 10))))
    t0, t1 = window(2 * 86400)
    pool.append(dict(shape="m3ql", t0=t0, t1=t1, step=0, name="", user_re="",
                     text="fetch name:%s | sum name" % pick(1)[0]))
    t0, t1 = window(86400)
    pool.append(dict(shape="fetch", t0=t0, t1=t1, step=0, name=pick(1)[0],
                     user_re="%d[0-9]" % rng.integers(1, 10), text=""))
    t0, t1 = window(2 * 86400)
    t0, t1 = t0 - t0 % 86400, t1 - t1 % 86400
    pool.append(dict(shape="tsz", t0=t0, t1=t1, step=0, name=pick(1)[0],
                     user_re="%d[0-9]" % rng.integers(1, 10), text=""))
    for i, q in enumerate(pool):
        q["id"] = "q%d_%s" % (i, q["shape"])
    # every shape equally often, in a seeded order, so the op mix (and
    # with it the latency distribution) is the same for every seed
    order = [q["id"] for q in pool] * (-(-n_ops // len(pool)))
    order = [order[i] for i in rng.permutation(len(order))][:n_ops]
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump({"pool": pool, "order": order}, f, indent=1, sort_keys=True)


# --------------------------------------------------------------- tsdb_ingest

INGEST_NAMES = ["cpu", "mem", "disk", "net"]


def tsdb_ingest(out, seed, n_batches, users=50, per_batch=3, slice_s=1800,
                history_days=1):
    """A store history (`base`) plus `n_batches`+1 write batches (batch 0
    is the warm-up). Every series arrives through one protocol: Prom
    remote-write label arrays, Influx line protocol (integer `i` and
    float fields) or Carbon plaintext. Batch b carries `per_batch`
    points per series inside its own `slice_s` time slice, so event
    time only moves forward and streaming windows close. About 1 % of
    lines are malformed and must be rejected."""
    rng = np.random.default_rng([seed, 2])
    series = [(n, u) for n in INGEST_NAMES for u in range(users)]
    proto = {s: ("prom", "influx", "carbon")[i % 3] for i, s in enumerate(series)}
    start = T0 + history_days * 86400

    # history: 5-minute points per series before `start`
    hist_ts = np.arange(T0, start, 300, dtype=np.int64)
    rows = len(series) * len(hist_ts)
    stored = {"prom": lambda n: n, "influx": lambda n: n + "_value",
              "carbon": lambda n: n}
    base = pa.table({
        "name": pa.array([stored[proto[s]](s[0]) for s in series for _ in hist_ts]),
        "user_id": pa.array(np.repeat([s[1] for s in series], len(hist_ts)).astype(np.int64)),
        "ts": _ts(np.tile(hist_ts, len(series))),
        "value": pa.array(_values(rng, rows)),
    })
    _write(base, os.path.join(out, "base.parquet"))

    prom = {"batch": [], "labels": [], "ts": [], "value": []}
    influx = {"batch": [], "line": []}
    carbon = {"batch": [], "line": []}
    expect = {"batch": [], "name": [], "user_id": [], "ts": [], "value": []}
    for b in range(n_batches + 1):
        lo = start + b * slice_s
        for (name, user) in series:
            p = proto[(name, user)]
            offs = np.sort(rng.choice(slice_s, per_batch, replace=False))
            for off in offs:
                ts = int(lo + off)
                is_int = rng.random() < 0.5
                v = float(rng.integers(0, 1000)) if is_int else round(float(rng.random()) * 1000, 3)
                if p == "prom":
                    prom["batch"].append(b)
                    prom["labels"].append([("__name__", name), ("user", str(user))])
                    prom["ts"].append(ts)
                    prom["value"].append(v)
                elif p == "influx":
                    field = "%di" % int(v) if is_int else repr(v)
                    influx["batch"].append(b)
                    influx["line"].append("%s,user=%d value=%s %d" % (name, user, field, ts * 10**9))
                else:
                    carbon["batch"].append(b)
                    carbon["line"].append("%s.user%d %s %d" % (
                        name, user, str(int(v)) if is_int else repr(v), ts))
                expect["batch"].append(b)
                expect["name"].append(stored[p](name))
                expect["user_id"].append(user)
                expect["ts"].append(ts)
                expect["value"].append(v)
        # malformed lines: counted in, never stored
        for _ in range(int(rng.integers(1, 4))):
            kind = int(rng.integers(0, 3))
            if kind == 0:
                prom["batch"].append(b)
                prom["labels"].append([("__name__", "cpu"), ("user", "")])
                prom["ts"].append(lo)
                prom["value"].append(1.0)
            elif kind == 1:
                influx["batch"].append(b)
                influx["line"].append("cpu,user=1 value=oops %d" % (lo * 10**9))
            else:
                carbon["batch"].append(b)
                carbon["line"].append("cpu.user1 garbage %d" % lo)

    def per_batch(rows):
        out = [[] for _ in range(n_batches + 1)]
        for b, row in rows:
            out[b].append(row)
        return out

    wire = {
        "prom": per_batch((b, [[list(kv) for kv in ls], ts, v]) for b, ls, ts, v in
                          zip(prom["batch"], prom["labels"], prom["ts"], prom["value"])),
        "influx": per_batch(zip(influx["batch"], influx["line"])),
        "carbon": per_batch(zip(carbon["batch"], carbon["line"])),
    }
    with open(os.path.join(out, "batches.json"), "w") as f:
        json.dump(wire, f, separators=(",", ":"))
    _write(pa.table({
        "batch": pa.array(expect["batch"], type=pa.int32()),
        "name": pa.array(expect["name"], type=pa.string()),
        "user_id": pa.array(expect["user_id"], type=pa.int64()),
        "ts": _ts(expect["ts"]),
        "value": pa.array(expect["value"], type=pa.float64()),
    }), os.path.join(out, "expected.parquet"))
    with open(os.path.join(out, "ingest.json"), "w") as f:
        json.dump({"batches": n_batches, "compact_every": 3,
                   "names": sorted(set(expect["name"])), "users": users},
                  f, indent=1, sort_keys=True)


# ------------------------------------------------------------- training_data

def _mix(*xs):
    """Small deterministic integer hash (the replica perturbation's
    position/replica draw)."""
    h = 2166136261
    for x in xs:
        h = ((h ^ (x & 0xFFFFFFFF)) * 16777619) & 0xFFFFFFFF
    return h


def training_data(out, seed, base_docs=300, base_vecs=200, replicas=3, dim=64,
                  clusters=10):
    """Documents and embeddings with near-duplicate structure, grown by
    decorrelated replicas: replica r >= 1 appends `r<r>` to ~10 % of
    word positions (chosen by a hash of position and r), the same
    positions for every document, so near-duplicate pairs inside a
    replica stay near-duplicates while copies across replicas fall
    below dedup thresholds. Embeddings of replica r are the base
    vectors rotated by r coordinates (norms and in-replica cosines
    preserved), labels shifted by 1000 r."""
    rng = np.random.default_rng([seed, 3])
    # the seed draws words, lengths and pairings; the amount of
    # duplicate structure is fixed, so every seed costs the same work
    lengths = rng.permutation(np.arange(base_docs) % 70 + 20)
    kind = rng.permutation(np.arange(base_docs) % 100)  # <10 near-dup, <13 exact
    docs = []
    for i in range(base_docs):
        if i and kind[i] < 13:
            words = list(docs[int(rng.integers(0, i))][0])
            if kind[i] < 10:  # near-duplicate: 5 % of words replaced
                for p in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                    words[p] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.zipf(1.6, int(lengths[i])) % len(WORDS)]
        docs.append((words, LANGS[i % len(LANGS)], "src%d" % (i % 20)))
    doc_rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    stride = 10 ** len(str(base_docs))
    for r in range(replicas):
        for i, (words, lang, source) in enumerate(docs):
            text = " ".join(w + "r%d" % r if r and _mix(p, r) % 10 == 0 else w
                            for p, w in enumerate(words))
            doc_rows["doc_id"].append(r * stride + i)
            doc_rows["text"].append(text)
            doc_rows["lang"].append(lang)
            doc_rows["source"].append(source)
            doc_rows["n_chars"].append(len(text))
    _write(pa.table({
        "doc_id": pa.array(doc_rows["doc_id"], type=pa.int64()),
        "text": pa.array(doc_rows["text"], type=pa.string()),
        "lang": pa.array(doc_rows["lang"], type=pa.string()),
        "source": pa.array(doc_rows["source"], type=pa.string()),
        "n_chars": pa.array(doc_rows["n_chars"], type=pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    centers = rng.normal(0, 1, (clusters, dim))
    labels = rng.permutation(np.arange(base_vecs) % clusters)
    vecs = (centers[labels] + rng.normal(0, 0.35, (base_vecs, dim))).astype(np.float32)
    stride = 10 ** len(str(base_vecs))
    emb = pa.table({
        "vec_id": pa.array([r * stride + i for r in range(replicas) for i in range(base_vecs)],
                           type=pa.int64()),
        "embedding": pa.array([np.roll(v, -r).tolist() for r in range(replicas) for v in vecs],
                              type=pa.list_(pa.float32())),
        "label": pa.array([int(l) + 1000 * r for r in range(replicas) for l in labels],
                          type=pa.int32()),
    })
    _write(emb, os.path.join(out, "embeddings.parquet"))


def generate(workload, out, seed, n_ops):
    os.makedirs(out, exist_ok=True)
    if workload == "tsdb_query":
        tsdb_query(out, seed, n_ops)
    elif workload == "tsdb_ingest":
        tsdb_ingest(out, seed, n_ops)
    elif workload == "training_data":
        training_data(out, seed)
    else:
        raise ValueError("unknown workload %s" % workload)
