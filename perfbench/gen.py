"""Seeded input generator for the graft end-to-end benchmark.

Every table is written with pyarrow in the physical layout of the
repository's testdata (same column types, naive microsecond timestamps
for source tables, UTC-adjusted timestamps for control tables), split
into PARTS files per table so Spark reads it as PARTS partitions. The
same seed gives byte-identical files; the planted facts each workload's
output checks compare against are computed here, independently of the
program, and written to expected.json.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4

# Input sizes. One nightly run of both pipelines, and one pass of the
# corpus queries, each take about 10 s on 4 cores at these sizes, most
# of it per-job Spark cost rather than data; larger inputs would not fit
# a set-up plus one iteration per run in the benchmark's time budget.
SIZES = {
    "customers": 20000,
    "orders": 60000,
    "documents": 4000,
    "vectors": 4000,
    "dim": 64,
}

MS_DAY = 86400000
BASE_MS = 1704067200000                     # 2024-01-01, Fixtures.BaseMs
ORDER_EPOCH = dt.datetime(2022, 1, 1)
ORDER_DAYS = 730
ROIS_WM_DAY = 723                           # ~1% of kept orders are newer
PATIENTS_WM_MS = BASE_MS + 89 * MS_DAY      # 1/90 of customers are newer
HISTORY_START_MS = 1680307200000            # 2023-04-01, first nightly run
NOW_MS = HISTORY_START_MS + 366 * MS_DAY + 2 * 3600000
ALERT_THRESHOLD = 5
N_PERMANENT = 3                             # planted 400s per job
N_TRANSIENT = 1                             # planted 429/503s per job

WORDS = None


def vocab():
    global WORDS
    if WORDS is None:
        rng = np.random.default_rng(7)
        syl = ["ka", "lo", "mi", "ne", "ta", "ri", "so", "vu", "de", "ba",
               "pe", "gu", "fo", "zi", "ha", "ly"]
        words = {"the", "a", "data", "table", "query", "join", "stream"}
        while len(words) < 400:
            n = int(rng.integers(2, 4))
            words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), n)))
        WORDS = sorted(words)
    return WORDS


def hash60(s):
    """graft's Sha60 kernel: the first 15 hex digits of sha256(utf8)."""
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)


def digest(keys):
    return hashlib.sha256("\n".join(sorted(keys)).encode("utf-8")).hexdigest()


def part_bounds(n, parts=PARTS):
    return [n * i // parts for i in range(parts + 1)]


def part_of(n):
    """The part file each of n rows lands in (write_parts' split)."""
    return np.searchsorted(part_bounds(n), np.arange(n), side="right") - 1


def write_parts(table, path, parts=PARTS):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = part_bounds(n, parts)
    for i in range(parts):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def ts_utc(ms):
    return pa.array(np.asarray(ms, dtype="int64") * 1000,
                    type=pa.timestamp("us", tz="UTC"))


# ---------------------------------------------------------------- sync

def patient_key(k):
    """Pipelines.patientsSource's natural key for customer k."""
    if k % 10 != 3:
        return str(k)
    if k % 7 != 2:
        return f"CH{k}"
    return f"user{k}@example.com"   # k odd here, so the unique email tier


def gen_sync(rng):
    n_c, n_o = SIZES["customers"], SIZES["orders"]
    cust = np.sort(rng.choice(10 * n_c, n_c, replace=False) + 1).astype("int64")
    customer = pa.table({
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_c),
    })
    okey = np.sort(rng.choice(8 * n_o, n_o, replace=False) + 1).astype("int64")
    ocust = rng.choice(cust, n_o)
    status = rng.choice(np.array(["F", "O", "P"]), n_o, p=[0.49, 0.49, 0.02])
    oday = rng.integers(0, ORDER_DAYS, n_o)
    odate = (np.datetime64(ORDER_EPOCH, "us") +
             oday.astype("timedelta64[D]").astype("timedelta64[us]"))
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": ocust,
        "o_orderstatus": status,
        "o_totalprice": np.round(rng.uniform(900, 500000, n_o), 2),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o),
    })

    # ---- what each pipeline reads (Pipelines.*Source, re-derived) ----
    pkeys = [patient_key(int(k)) for k in cust]
    p_upd_ms = BASE_MS + (cust % 90) * MS_DAY
    kept = (status != "F") | (okey % 9 == 0)
    r_cust = ocust[kept]
    r_day = oday[kept]
    r_null = (r_cust % 4 == 1)
    r_upd_ms = (int(ORDER_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000
                + r_day.astype("int64") * MS_DAY)
    r_keys = np.array([str(int(k)) for k in r_cust], dtype=object)

    patients = {"keys": np.array(pkeys, dtype=object), "upd": p_upd_ms,
                "null": np.zeros(n_c, dtype=bool), "wm": PATIENTS_WM_MS,
                "part": part_of(n_c), "object": "contacts"}
    rois = {"keys": r_keys, "upd": r_upd_ms, "null": r_null, "part": part_of(n_o)[kept],
            "wm": int(ORDER_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000
            + ROIS_WM_DAY * MS_DAY, "object": "p_rois"}
    return {"customer": customer, "orders": orders,
            "jobs": {"patients": patients, "rois": rois}}


def plant_delta(rng, name, job):
    """Choose the delta's new, permanently failing and transiently
    failing keys, and the expected outcome of the incremental run."""
    delta = job["upd"] >= job["wm"]
    ready = delta & ~job["null"]
    dkeys = sorted(set(job["keys"][ready]))
    pick = [dkeys[i] for i in rng.permutation(len(dkeys))]
    n_new = max(1, len(dkeys) // 20)
    new = set(pick[:n_new])
    permanent = set(pick[n_new:n_new + N_PERMANENT])
    rk = job["keys"][ready]
    # a transient key whose delta rows all sit in one input part reaches
    # one sink task, so it is refused exactly once: every seed pays the
    # same retries and backoff
    parts = job["part"][ready]
    one_part = [k for k in pick[n_new + N_PERMANENT:] if len(set(parts[rk == k])) == 1]
    transient = set(one_part[:N_TRANSIENT])
    all_keys = set(job["keys"][~job["null"]])
    before = all_keys - new
    is_new = np.array([k in new for k in rk], dtype=bool)
    is_perm = np.array([k in permanent for k in rk], dtype=bool)
    n_skip = int((delta & job["null"]).sum())
    after = before | new
    dlq_new = {}
    if n_skip:
        dlq_new["1"] = n_skip
    dlq_new[str(ALERT_THRESHOLD)] = int(is_perm.sum())
    expect = {
        "read": int(delta.sum()),
        "created": int(is_new.sum()),
        "updated": int((~is_new & ~is_perm).sum()),
        "skipped": n_skip, "errors": int(is_perm.sum()),
        "status": "partial", "wm_ms": int(job["wm"]),
        "idmap_count": len(after), "idmap_digest": digest(after),
        "dlq_new": dlq_new,
        "alerts": sorted(permanent),
    }
    return before, permanent, transient, expect


def control_snapshot(rng, jobs, planted, path):
    """A year of nightly history: a full id map, a ledger whose last
    success row carries the watermark, and a DLQ in which the planted
    keys sit one attempt below the alert threshold."""
    im_type, im_key, im_id, im_upd = [], [], [], []
    for name, job in jobs.items():
        for k in sorted(planted[name]["before"]):
            im_type.append(job["object"]); im_key.append(k)
            im_id.append("HS-" + k)
            im_upd.append(HISTORY_START_MS + int(rng.integers(0, 365)) * MS_DAY)
    id_map = pa.table({
        "hubspot_object_type": im_type, "natural_key": im_key,
        "hubspot_id": im_id, "updated_at": ts_utc(im_upd)})

    lg = {c: [] for c in ["run_id", "started_at", "finished_at", "job_type",
                          "high_watermark", "read_count", "updated_count",
                          "created_count", "skipped_count", "error_count",
                          "status"]}
    for name, job in jobs.items():
        wm0 = job["wm"] - 364 * MS_DAY
        held = None
        for d in range(365):
            start = HISTORY_START_MS + d * MS_DAY + 2 * 3600000
            failed = d % 17 == 5
            wm = held if failed else wm0 + d * MS_DAY
            held = wm
            lg["run_id"].append(f"{name}-{start}")
            lg["started_at"].append(start)
            lg["finished_at"].append(start + 600000)
            lg["job_type"].append(name)
            lg["high_watermark"].append(wm)
            n = int(rng.integers(50, 500))
            lg["read_count"].append(n)
            lg["updated_count"].append(n - 5)
            lg["created_count"].append(5)
            lg["skipped_count"].append(0)
            lg["error_count"].append(1 if failed else 0)
            lg["status"].append("failed" if failed else "success")
    ledger = pa.table({
        "run_id": lg["run_id"], "started_at": ts_utc(lg["started_at"]),
        "finished_at": ts_utc(lg["finished_at"]), "job_type": lg["job_type"],
        "high_watermark": ts_utc(lg["high_watermark"]),
        **{c: pa.array(lg[c], type=pa.int64()) for c in
           ["read_count", "updated_count", "created_count", "skipped_count",
            "error_count"]},
        "status": lg["status"]})

    dl = {c: [] for c in ["ts", "job_type", "natural_key", "payload", "error",
                          "attempt", "obj"]}
    for name, job in jobs.items():
        perm = planted[name]["permanent"]
        pool = sorted(planted[name]["before"] - perm)
        noise = rng.choice(len(pool), 1500, replace=True)
        for i in noise:
            d = int(rng.integers(0, 365))
            dl["ts"].append(HISTORY_START_MS + d * MS_DAY + 2 * 3600000)
            dl["job_type"].append(name)
            dl["natural_key"].append(pool[int(i)])
            dl["payload"].append("{}")
            dl["error"].append(["HTTP 429: slow down", "HTTP 500: upstream",
                                "HTTP 400: invalid email"][d % 3])
            dl["attempt"].append(1 + d % 3)
            dl["obj"].append(job["object"])
        for k in sorted(perm):
            for a in range(1, ALERT_THRESHOLD):
                d = 360 + a
                dl["ts"].append(HISTORY_START_MS + d * MS_DAY + 2 * 3600000)
                dl["job_type"].append(name)
                dl["natural_key"].append(k)
                dl["payload"].append("{}")
                dl["error"].append(f"HTTP 400: property rejected (req {d})")
                dl["attempt"].append(a)
                dl["obj"].append(job["object"])
    dlq = pa.table({
        "ts": ts_utc(dl["ts"]), "job_type": dl["job_type"],
        "natural_key": dl["natural_key"], "hubspot_object_type": dl["obj"],
        "payload": dl["payload"], "error": dl["error"],
        "attempt": pa.array(dl["attempt"], type=pa.int64())})
    write_parts(id_map, os.path.join(path, "id_map"), 1)
    write_parts(ledger, os.path.join(path, "ledger"), 1)
    write_parts(dlq, os.path.join(path, "dlq"), 1)


def write_sync(rng, out):
    s = gen_sync(rng)
    write_parts(s["customer"], os.path.join(out, "customer.parquet"))
    write_parts(s["orders"], os.path.join(out, "orders.parquet"))
    expect = {"now_ms": NOW_MS, "alert_threshold": ALERT_THRESHOLD, "jobs": {}}
    planted = {}
    for name, job in s["jobs"].items():
        before, perm, trans, e = plant_delta(rng, name, job)
        planted[name] = {"before": before, "permanent": perm}
        e["permanent"] = sorted(perm)
        e["transient"] = sorted(trans)
        e["object"] = job["object"]
        expect["jobs"][name] = e
    control_snapshot(rng, s["jobs"], planted, os.path.join(out, "control"))
    expect["input_rows"] = SIZES["customers"] + SIZES["orders"]
    return expect


# -------------------------------------------------------------- corpus

def gen_documents(rng):
    words = vocab()
    n = SIZES["documents"]
    langs = rng.choice(np.array(["en", "es", "de", "zh"]), n,
                       p=[0.6, 0.15, 0.15, 0.1])
    texts = []
    kinds = rng.random(n)
    near_pairs = []
    for i in range(n):
        if i > 50 and kinds[i] < 0.02:          # exact duplicate family
            j = int(rng.integers(0, i))
            texts.append(texts[j])
        elif i > 50 and kinds[i] < 0.04:        # case/punctuation variant
            j = int(rng.integers(0, i))
            texts.append(texts[j].upper().replace(" ", ", ", 3) + " !")
        elif i > 50 and kinds[i] < 0.07:        # near duplicate: ~3% edited
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for p in rng.choice(len(toks), max(1, len(toks) // 33), replace=False):
                toks[int(p)] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(toks))
            near_pairs.append((j, i))
        else:
            m = int(rng.integers(20, 140))
            toks = [words[int(w)] for w in rng.integers(0, len(words), m)]
            for p in rng.choice(m, int(rng.integers(0, 8)), replace=False):
                toks[int(p)] = "the"
            texts.append(" ".join(toks))
    # test-split overlap: train docs that quote a 10-word span of a
    # held-out (bucket >= 95) document
    test = [i for i, t in enumerate(texts) if hash60(t) % 100 >= 95]
    planted = 0
    for i in rng.permutation(n)[: n // 50]:
        i = int(i)
        if hash60(texts[i]) % 100 >= 90 or not test:
            continue
        src = texts[test[int(rng.integers(0, len(test)))]].split(" ")
        if len(src) < 12:
            continue
        at = int(rng.integers(0, len(src) - 10))
        cand = texts[i] + " " + " ".join(src[at:at + 10])
        if hash60(cand) % 100 < 90:
            texts[i] = cand
            planted += 1
    copies = {}
    for i, t in enumerate(texts):
        copies.setdefault(t, []).append(i)
    exact_pairs = [(a, b) for ids in copies.values() for x, a in enumerate(ids)
                   for b in ids[x + 1:]]
    docs = pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s)}" for s in rng.integers(0, 10, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return docs, {"exact_pairs": sorted(exact_pairs),
                  "near_pairs": len(near_pairs), "contaminating": planted}


def gen_embeddings(rng):
    n, dim, k = SIZES["vectors"], SIZES["dim"], 10
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    vecs = centers[label] + rng.normal(scale=0.6 / np.sqrt(dim), size=(n, dim))
    vecs = vecs.astype("float32")
    emb = pa.array(list(vecs), type=pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype="int64"), "embedding": emb,
                     "label": label.astype("int32")})


def write_corpus(rng, out):
    docs, facts = gen_documents(rng)
    write_parts(docs, os.path.join(out, "documents.parquet"))
    facts["input_rows"] = SIZES["documents"] + SIZES["vectors"]
    write_parts(gen_embeddings(rng), os.path.join(out, "embeddings.parquet"))
    return facts


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; returns the
    planted facts (also written to out/expected.json)."""
    rng = np.random.default_rng([seed, 20261017])
    os.makedirs(out, exist_ok=True)
    if workload == "sync_delta":
        expect = write_sync(rng, out)
    else:
        expect = write_corpus(rng, out)
    expect["workload"], expect["seed"] = workload, seed
    expect["sizes"] = SIZES
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expect, f, sort_keys=True)
    return expect
