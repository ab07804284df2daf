"""Seeded input generation for the graft benchmark workloads.

Every input is a function of (workload, seed) only. The engine sees the
files written here and nothing else; the checker reads the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# read-mix: orders rows drawn from the key domain [0, KEY_DOMAIN).
KEY_DOMAIN = 150_000
N_ORDERS = 30_000

# write-cdc: the primary table's row universe and qualifiers.
CDC_ROWS = 2_000
CDC_QUALS = ("a", "b", "status", "cnt")

# llm-pipeline: base documents, near-duplicate copies, vectors.
N_DOCS = 1_200
DUP_RATE = 0.25
N_VECS = 3_000
VEC_DIM = 32
VOCAB = 4_000

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def gen_read_mix(seed, out):
    r = _rng(seed, 1)
    keys = np.sort(r.choice(KEY_DOMAIN, N_ORDERS, replace=False)).astype(np.int64)
    days = r.integers(0, 2400, N_ORDERS)
    secs = r.integers(0, 86400, N_ORDERS)
    base = np.datetime64("1992-01-01T00:00:00", "ms")
    dates = base + (days * 86400 + secs).astype("timedelta64[s]").astype("timedelta64[ms]")
    t = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(1, 15_000, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, N_ORDERS)]),
        # whole cents, so every engine prints the same two decimals
        "o_totalprice": pa.array(r.integers(90_000, 50_000_000, N_ORDERS) / 100.0),
        "o_orderdate": pa.array(dates, pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, N_ORDERS)]),
    })
    _write(t, os.path.join(out, "orders.parquet"))
    with open(os.path.join(out, "keys.txt"), "w") as f:
        f.write("\n".join(str(k) for k in keys) + "\n")
    return {"orders_rows": N_ORDERS, "store_cells": N_ORDERS * 5, "key_domain": KEY_DOMAIN}


def gen_write_cdc(seed, out):
    r = _rng(seed, 3)
    n = CDC_ROWS * len(CDC_QUALS)
    rows = np.repeat(np.char.zfill(np.arange(CDC_ROWS).astype(str), 10), len(CDC_QUALS))
    quals = np.tile(np.array(CDC_QUALS), CDC_ROWS)
    vals = np.empty(n, dtype=object)
    for i, q in enumerate(CDC_QUALS):
        m = quals == q
        k = int(m.sum())
        if q == "status":
            vals[m] = np.array(["hold", "open", "done"])[r.integers(0, 3, k)]
        elif q == "cnt":
            vals[m] = r.integers(0, 100, k).astype(str)
        else:
            vals[m] = np.char.add("v", r.integers(0, 1_000_000, k).astype(str))
    t = pa.table({
        "row": pa.array(rows), "family": pa.array(np.full(n, "d")),
        "qualifier": pa.array(quals), "ts": pa.array(np.ones(n, np.int64)),
        "type": pa.array(np.full(n, "Put")), "value": pa.array(vals, pa.string()),
    })
    _write(t, os.path.join(out, "base.parquet"))
    with open(os.path.join(out, "cdc.txt"), "w") as f:
        f.write(f"{CDC_ROWS}\n")
    return {"base_cells": n, "rows": CDC_ROWS, "puts_per_batch": 60,
            "deletes_per_batch": 14, "increments_per_batch": 30, "check_and_mutate_rows": 10}


def gen_llm_pipeline(seed, out):
    r = _rng(seed, 4)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(letters[r.integers(0, 26, r.integers(3, 9))]) for _ in range(VOCAB)})
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    base = []
    for _ in range(N_DOCS):
        toks = r.choice(len(vocab), r.integers(40, 121), p=p)
        base.append([vocab[t] for t in toks])
    sources = list(r.integers(0, 8, N_DOCS))
    texts, srcs = list(base), list(sources)
    n_dup = int(N_DOCS * DUP_RATE)
    for k in range(n_dup):
        orig = int(r.integers(0, N_DOCS))
        toks = list(base[orig])
        if k % 2:  # near copy: about 2% of the tokens replaced
            for pos in r.choice(len(toks), max(1, len(toks) // 50), replace=False):
                toks[pos] = vocab[int(r.choice(len(vocab), p=p))]
        texts.append(toks)
        srcs.append(sources[orig])
    order = r.permutation(len(texts))
    texts = [" ".join(texts[i]) for i in order]
    srcs = [srcs[i] for i in order]
    t = pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"s{s}" for s in srcs]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    _write(t, os.path.join(out, "documents.parquet"))
    counts = np.bincount(np.array(srcs), minlength=8)
    with open(os.path.join(out, "sources.txt"), "w") as f:
        f.write("\n".join(str(c) for c in counts) + "\n")

    centers = r.normal(0, 1, (16, VEC_DIM))
    label = r.integers(0, 16, N_VECS)
    vecs = (centers[label] + 0.35 * r.normal(0, 1, (N_VECS, VEC_DIM))).astype(np.float32)
    e = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    _write(e, os.path.join(out, "embeddings.parquet"))
    with open(os.path.join(out, "vectors.txt"), "w") as f:
        f.write(f"{N_VECS}\n")
    return {"docs": len(texts), "base_docs": N_DOCS, "dup_copies": n_dup,
            "dup_rate": DUP_RATE, "vectors": N_VECS, "dim": VEC_DIM}


def gen_ingest_pipeline(seed, out):
    return {**gen_write_cdc(seed, out), **gen_llm_pipeline(seed, out)}


GENERATORS = {
    "read-mix": gen_read_mix,
    "ingest-pipeline": gen_ingest_pipeline,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)
