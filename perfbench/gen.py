"""Seeded input generators for the benchmark workloads.

Every input set is a directory of parquet files keyed by a fingerprint of
(workload, generator parameters, seed, generator version). Inputs are
written to a temporary directory and renamed into place only once a
`_READY` marker holding the fingerprint is written, so a stale or
half-written input is detected and rebuilt, never timed.
"""
import datetime
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped by hand when a generator changes meaning; the fingerprint also
# hashes this file, so an edited generator never reuses old inputs.
GENERATOR_VERSION = 1

# Workload parameters. Sized so that one run (set-up, warm-up, the
# measured window and the output checks) stays well inside a minute on
# a 4-core host.
PARAMS = {
    "detect_batch": {
        "series": 16, "rows": 6000, "zipf_s": 1.1,
        "active": 2, "seasons": 59, "perm": 500,
    },
    "detect_stream": {
        "series": 40, "warm_rows": 600, "rate_per_s": 9000,
        "max_seconds": 30,
    },
    "pipeline_scaled": {
        "customers": 1500, "orders_per_customer": 10, "docs": 500,
        "vectors": 500, "dim": 64, "factor": 3,
        "perturb_share": 0.9, "jitter": 0.01,
    },
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, the series clock origin


def _ts(seconds):
    """Naive (non-UTC-adjusted) microsecond timestamps, the corpus encoding."""
    return pa.array((np.asarray(seconds, dtype=np.float64) * 1e6)
                    .astype(np.int64), type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- series

def _series_values(rng, kind, n):
    """One series of `n` points.

    `spiky`: a level with 2% noise, rare spikes and dips to zero (the
    EXAMPLES.md CPU-usage shape); magnitude mostly stays under the
    sensitivity, so the permutation test's result is discarded.
    `walk`: the reference's clamped random walk (anomalyze_test.go:14-26),
    start in [0.2, 0.8], N(0, 0.05) steps clamped to [0, 1]; its drift
    keeps magnitude above the sensitivity most of the time.
    """
    if kind == "spiky":
        level = rng.uniform(20, 60)
        v = level * (1 + 0.02 * rng.standard_normal(n))
        spikes = rng.random(n) < 0.02
        v[spikes] *= rng.uniform(1.5, 3.0, spikes.sum())
        v[rng.random(n) < 0.005] = 0.0
        return np.round(v, 4)
    x = rng.uniform(0.2, 0.8)
    steps = 0.05 * rng.standard_normal(n)
    out = np.empty(n)
    for i in range(n):
        x = min(1.0, max(0.0, x + steps[i]))
        out[i] = x
    return np.round(out, 6)


def _zipf_lengths(n_series, rows, s, floor):
    """Zipf-skewed series lengths in rank order: every seed gets the same
    lengths and, with shapes alternating by rank, the same work."""
    w = 1.0 / np.arange(1, n_series + 1) ** s
    return np.maximum(floor, np.floor(w / w.sum() * rows)).astype(int)


def gen_detect_batch(out, seed, p):
    rng = np.random.default_rng(seed)
    window = p["active"] * (p["seasons"] + 1)
    lengths = _zipf_lengths(p["series"], p["rows"], p["zipf_s"], 2 * window)
    names, ts, vals = [], [], []
    for k, n in enumerate(lengths):
        kind = "spiky" if k % 2 == 0 else "walk"
        name = f"{kind}-{seed}-{k:03d}"
        names += [name] * n
        ts.append(EPOCH_2024 + 30.0 * np.arange(n) + k)
        vals.append(_series_values(rng, kind, n))
    t = pa.table({"series": pa.array(names, pa.string()),
                  "ts": _ts(np.concatenate(ts)),
                  "value": pa.array(np.concatenate(vals), pa.float64())})
    _write(t, os.path.join(out, "series.parquet"))
    return {"rows": t.num_rows, "series": len(lengths),
            "max_series_rows": int(lengths.max()),
            "min_series_rows": int(lengths.min())}


def gen_detect_stream(out, seed, p):
    """Warm-up history plus the scheduled feed: events round-robin over
    the series, one every 1/rate seconds. `ts` is each event's
    scheduled creation time relative to the feed start (the driver adds
    the wall-clock origin), strictly increasing per series."""
    rng = np.random.default_rng(seed)
    n_series = p["series"]
    feed = p["rate_per_s"] * p["max_seconds"]
    per_series = p["warm_rows"] // n_series + feed // n_series + 1
    rows = []
    for k in range(n_series):
        kind = "spiky" if k % 2 == 0 else "walk"
        rows.append(_series_values(rng, kind, per_series))
    vals = np.stack(rows)  # [series, i]
    warm_per = p["warm_rows"] // n_series
    names = np.array([f"{'spiky' if k % 2 == 0 else 'walk'}-{seed}-{k:03d}"
                      for k in range(n_series)])
    # warm-up rows: one hour before the feed, 1 s apart per series
    w_idx = np.repeat(np.arange(warm_per), n_series)
    w_ser = np.tile(np.arange(n_series), warm_per)
    warm = pa.table({
        "series": pa.array(names[w_ser], pa.string()),
        "ts": _ts(-3600.0 + w_idx + w_ser * 1e-3),
        "value": pa.array(vals[w_ser, w_idx], pa.float64())})
    i = np.arange(feed)
    f_ser = i % n_series
    f_idx = warm_per + i // n_series
    sched = pa.table({
        "series": pa.array(names[f_ser], pa.string()),
        "due_us": pa.array((i * 1e6 / p["rate_per_s"]).astype(np.int64)),
        "value": pa.array(vals[f_ser, f_idx], pa.float64())})
    _write(warm, os.path.join(out, "warm.parquet"))
    _write(sched, os.path.join(out, "feed.parquet"))
    return {"rows": feed, "warm_rows": warm.num_rows, "series": n_series,
            "rate_per_s": p["rate_per_s"]}


# -------------------------------------------------------------- pipeline

def _docs(rng, n, dup_share):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return texts


def _base_corpus(rng, p):
    c = p["customers"]
    o = c * p["orders_per_customer"]
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                     "BUILDING"])
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    customer = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": segs[rng.integers(0, 5, c)]}
    utc = datetime.timezone.utc
    day0 = datetime.datetime(1995, 1, 1, tzinfo=utc).timestamp()
    days = (datetime.datetime(2001, 8, 1, tzinfo=utc).timestamp() - day0) // 86400
    orders = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": day0 + 86400.0 * rng.integers(0, days + 1, o),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, o)]}
    per = rng.integers(1, 8, o)
    lk = np.repeat(np.arange(o, dtype=np.int64), per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n = len(lk)
    lineitem = {
        "l_orderkey": lk, "l_partkey": rng.integers(0, 2000 * 10, n),
        "l_suppkey": rng.integers(0, 1000, n), "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": np.repeat(orders["o_orderdate"], per)
        + 86400.0 * rng.integers(1, 122, n)}
    texts = _docs(rng, p["docs"], 0.05)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    docs = {
        "doc_id": np.arange(p["docs"], dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": langs[rng.integers(0, len(langs), p["docs"])],
        "source": np.array([f"src{i}" for i in
                            rng.integers(0, 20, p["docs"])])}
    centers = rng.normal(0, 0.12, (10, p["dim"]))
    labels = rng.integers(0, 10, p["vectors"]).astype(np.int32)
    emb = (centers[labels]
           + rng.normal(0, 0.05, (p["vectors"], p["dim"]))).astype(np.float32)
    vectors = {"vec_id": np.arange(p["vectors"], dtype=np.int64),
               "embedding": emb, "label": labels}
    return region, nation, customer, orders, lineitem, docs, vectors


def _perturb(rng, text):
    """Replace half the words: the copy stops being a near-duplicate."""
    words = text.split(" ")
    idx = rng.random(len(words)) < 0.5
    words = [VOCAB[int(rng.integers(0, len(VOCAB)))] if m else w
             for w, m in zip(words, idx)]
    return " ".join(words)


def gen_pipeline_scaled(out, seed, p):
    """An xN replica of a generated base corpus. Each copy gets
    disjoint ids (offset by a power of ten above every base key); a
    seeded share of each copy's documents is perturbed and every copy's
    embeddings are jittered, so near-duplicate volume grows with N, not
    as N^2 exact twins."""
    rng = np.random.default_rng(seed)
    region, nation, cust, orders, line, docs, vecs = _base_corpus(rng, p)
    f = p["factor"]
    off = 10 ** len(str(max(len(orders["o_orderkey"]), len(docs["doc_id"]),
                            len(vecs["vec_id"]))))
    def rep(cols, keys, mutate=None):
        parts = []
        for k in range(f):
            c = {n: (v + k * off if n in keys else v.copy())
                 for n, v in cols.items()}
            if mutate and k > 0:
                mutate(c)
            parts.append(c)
        return {n: np.concatenate([q[n] for q in parts]) for n in cols}
    cust_x = rep(cust, {"c_custkey"})
    cust_x["c_name"] = np.array([f"Customer#{i:09d}" for i in cust_x["c_custkey"]])
    orders_x = rep(orders, {"o_orderkey", "o_custkey"})
    line_x = rep(line, {"l_orderkey"})
    perturbed = [0]

    def perturb_docs(c):
        mask = rng.random(len(c["text"])) < p["perturb_share"]
        perturbed[0] += int(mask.sum())
        c["text"] = np.array([_perturb(rng, t) if m else t
                              for t, m in zip(c["text"], mask)], dtype=object)

    docs_x = rep(docs, {"doc_id"}, perturb_docs)

    def jitter(c):
        c["embedding"] = (c["embedding"] + rng.normal(
            0, p["jitter"], c["embedding"].shape)).astype(np.float32)

    vecs_x = rep(vecs, {"vec_id"}, jitter)
    _write(region, os.path.join(out, "region.parquet"))
    _write(nation, os.path.join(out, "nation.parquet"))
    _write(pa.table({k: (_ts(v) if k == "o_orderdate" else v)
                     for k, v in orders_x.items()}),
           os.path.join(out, "orders.parquet"))
    _write(pa.table({k: (_ts(v) if k == "l_shipdate" else v)
                     for k, v in line_x.items()}),
           os.path.join(out, "lineitem.parquet"))
    _write(pa.table(cust_x), os.path.join(out, "customer.parquet"))
    n_chars = np.array([len(t) for t in docs_x["text"]], dtype=np.int64)
    _write(pa.table({"doc_id": docs_x["doc_id"],
                     "text": pa.array(list(docs_x["text"]), pa.string()),
                     "lang": docs_x["lang"], "source": docs_x["source"],
                     "n_chars": n_chars}),
           os.path.join(out, "documents.parquet"))
    emb = vecs_x["embedding"]
    _write(pa.table({
        "vec_id": vecs_x["vec_id"],
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, emb.size + 1, emb.shape[1], dtype=np.int32),
            pa.array(emb.ravel(), pa.float32())),
        "label": vecs_x["label"]}), os.path.join(out, "embeddings.parquet"))
    n_docs = len(docs_x["doc_id"])
    dup_marked = sum(1 for t in docs_x["text"] if t.endswith(" dup"))
    unperturbed_copies = (f - 1) * len(docs["doc_id"]) - perturbed[0]
    return {"factor": f, "rows": int(len(line_x["l_orderkey"])
                                     + len(orders_x["o_orderkey"])
                                     + n_docs + len(vecs_x["vec_id"])),
            "lineitem_rows": int(len(line_x["l_orderkey"])),
            "documents": n_docs, "vectors": int(len(vecs_x["vec_id"])),
            "series": 0,
            "near_dup_share": round((dup_marked + unperturbed_copies)
                                    / n_docs, 4)}


GENERATORS = {"detect_batch": gen_detect_batch,
              "detect_stream": gen_detect_stream,
              "pipeline_scaled": gen_pipeline_scaled}


# ---------------------------------------------------------------- hygiene

def fingerprint(workload, seed):
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    h.update(json.dumps({"workload": workload, "seed": seed,
                         "params": PARAMS[workload],
                         "version": GENERATOR_VERSION},
                        sort_keys=True).encode())
    return h.hexdigest()[:20]


def ensure_inputs(root, workload, seed, keep=3):
    """Returns (dir, properties, seconds spent generating). A directory
    whose `_READY` marker is missing or names another fingerprint is
    removed and rebuilt; new inputs appear only by an atomic rename."""
    fp = fingerprint(workload, seed)
    final = os.path.join(root, f"{workload}-{fp}")
    marker = os.path.join(final, "_READY")
    if os.path.isfile(marker):
        with open(marker) as f:
            ready = json.load(f)
        if ready.get("fingerprint") == fp:
            os.utime(final)
            return final, ready["properties"], 0.0
    if os.path.exists(final):
        shutil.rmtree(final)
    os.makedirs(root, exist_ok=True)
    t0 = time.perf_counter()
    tmp = os.path.join(root, f".tmp-{workload}-{fp}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = GENERATORS[workload](tmp, seed, PARAMS[workload])
    with open(os.path.join(tmp, "_READY"), "w") as f:
        json.dump({"fingerprint": fp, "properties": props}, f)
    os.rename(tmp, final)
    # keep the newest few input sets of this workload
    mine = sorted((d for d in os.listdir(root)
                   if d.startswith(workload + "-")),
                  key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in mine[:-keep]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return final, props, time.perf_counter() - t0
