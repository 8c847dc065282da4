"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the workload seed and
writes plain files (parquet, JSON lines) into an output directory; the
engine only ever sees those files. The same seed gives byte-identical
files, a different seed gives different files (tests/test_gen.py).

    python3 perfbench/gen.py <workload> <seed> <out_dir>

prints the manifest (generator parameters, rows and bytes per file).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("curate_docs", "serve_mix")

# Generator parameters per workload. They are part of the benchmark
# definition: changing one changes what every later run measures.
PARAMS = {
    "curate_docs": {
        "docs": 1600, "words_min": 12, "words_max": 60,
        "exact_copy_frac": 0.12, "near_dup_frac": 0.12,
        "near_dup_edits": 2, "junk_frac": 0.08, "pii_frac": 0.08,
        "partitions": 4, "batches": 16, "warm_batches": 2,
    },
    "serve_mix": {
        "base_rows": 20000, "base_files": 8, "zipf_s": 1.2,
        "merge_rows": 200, "insert_frac": 0.05, "rounds": 40,
        "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lines_per_order_max": 7, "events": 10000, "users": 150,
        "documents": 500, "embeddings": 500, "dim": 64, "labels": 10,
    },
}

# Small English-like vocabulary (the shape of the analytics fixture's text:
# space-separated lowercase words, Zipf-skewed).
VOCAB = (
    "the a data table row column key value part line order customer query "
    "scan join agg group filter sort hash merge batch stream window spark "
    "fast slow big small vector index shard commit log file read write "
    "cache node page block token text model train eval score rank graph "
    "edge path user event time count sum mean peak load plan stage task"
).split()

LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def zipf_ranks(rng, n, s, size):
    """Bounded Zipf: ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _write_parquet(table, path):
    # fixed writer settings: no statistics drift between runs, one row group
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _words(rng, n):
    return " ".join(VOCAB[i] for i in zipf_ranks(rng, len(VOCAB), 1.0, n))


def gen_events(rng, n, users, zipf_s, ooo_frac, ooo_max_s):
    """Event stream: Zipf user_id, event time mostly increasing with a fixed
    share pushed back by up to `ooo_max_s` seconds (late arrivals)."""
    base_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
    step = rng.integers(50_000, 500_000, size=n)  # 0.05-0.5 s apart
    ts = base_us + np.cumsum(step)
    late = rng.random(n) < ooo_frac
    ts = ts - np.where(late, rng.integers(1, ooo_max_s * 1_000_000, size=n), 0)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(zipf_ranks(rng, users, zipf_s, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.lognormal(2.0, 1.0, size=n), 2)),
    })


def gen_docs(rng, p):
    """Documents with fixed shares of exact copies, near-duplicates (token
    edits of an earlier document), gate-failing junk and PII."""
    n = p["docs"]
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if r < p["exact_copy_frac"] and originals:
            text = originals[rng.integers(len(originals))]
        elif r < p["exact_copy_frac"] + p["near_dup_frac"] and originals:
            toks = originals[rng.integers(len(originals))].split()
            for _ in range(p["near_dup_edits"]):
                toks[rng.integers(len(toks))] = VOCAB[rng.integers(len(VOCAB))]
            text = " ".join(toks)
        elif r < p["exact_copy_frac"] + p["near_dup_frac"] + p["junk_frac"]:
            text = (_words(rng, 3) if rng.random() < 0.5 else
                    " ".join(str(x) for x in rng.integers(0, 10**6, size=20)))
        elif r < (p["exact_copy_frac"] + p["near_dup_frac"] + p["junk_frac"]
                  + p["pii_frac"]):
            words = _words(rng, int(rng.integers(p["words_min"], p["words_max"])))
            text = (f"{words} contact user{int(rng.integers(10**4))}@mail.example"
                    f" or call {int(rng.integers(10**9))}")
        else:
            text = _words(rng, int(rng.integers(p["words_min"], p["words_max"])))
            originals.append(text)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
    })


def gen_upsert(rng, p, out):
    """Base table plus a closed-loop op script: each round is one MOR merge
    of Zipf-skewed keys followed by the five read kinds in seeded order."""
    n = p["base_rows"]
    keys = np.arange(n, dtype=np.int64)
    base = pa.table({
        "key": pa.array(keys),
        "sku": pa.array([f"sku-{k}" for k in keys]),
        "val": pa.array(np.round(rng.random(n) * 1000, 2)),
        "rev": pa.array(np.zeros(n, dtype=np.int64)),
    })
    _write_parquet(base, os.path.join(out, "base.parquet"))
    reads = ["lookup", "skipping", "asof", "changes", "count"]
    next_new = n
    with open(os.path.join(out, "ops.jsonl"), "w") as f:
        for r in range(p["rounds"]):
            m = p["merge_rows"]
            n_new = int(round(m * p["insert_frac"]))
            old = np.unique(zipf_ranks(rng, n, p["zipf_s"], m - n_new))
            ks = [int(k) for k in old] + list(range(next_new, next_new + n_new))
            next_new += n_new
            vals = [round(float(v), 2) for v in rng.random(len(ks)) * 1000]
            f.write(json.dumps({"op": "merge", "round": r, "keys": ks,
                                "vals": vals}) + "\n")
            for kind in rng.permutation(reads):
                op = {"op": str(kind), "round": r}
                if kind == "lookup":
                    op["sku"] = f"sku-{int(rng.integers(next_new))}"
                elif kind == "skipping":
                    lo = int(rng.integers(next_new))
                    op["lo"], op["hi"] = lo, lo + 500
                elif kind in ("asof", "changes"):
                    op["back"] = float(rng.random())  # fraction of history
                f.write(json.dumps(op) + "\n")


def gen_fixture(rng, p, out):
    """TPC-H-like star schema + events + documents + embeddings with the
    column names and types the declared queries read."""
    def date_ms(lo, hi, size):
        return (rng.integers(lo, hi, size=size) * 86400000).astype("datetime64[ms]")
    d95 = 9131  # 1995-01-01 in days since epoch
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc = p["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(nc) * 10000 - 1000, 2)),
        "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                          "MACHINERY"][i] for i in rng.integers(0, 5, nc)]})
    ns = p["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.random(ns) * 10000, 2))})
    npt = p["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
        "p_name": [f"part {i}" for i in range(npt)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                    "STANDARD"][i] for i in rng.integers(0, 6, npt)],
        "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.random(npt) * 99.9, 2))})
    no = p["orders"]
    odate = date_ms(d95, d95 + 2404, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": pa.array(np.round(rng.random(no) * 300000 + 1000, 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][i] for i in rng.integers(0, 5, no)]})
    per = rng.integers(1, p["lines_per_order_max"] + 1, no)
    lok = np.repeat(np.arange(no, dtype=np.int64), per)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    ship = odate[np.repeat(np.arange(no), per)] + \
        (rng.integers(1, 122, nl) * 86400000).astype("timedelta64[ms]")
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, npt, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + rng.random(nl) * 100), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship)})
    ne = p["events"]
    ev = gen_events(rng, ne, p["users"], 0.0, 0.1, 3600)
    tables["events"] = ev.append_column(
        "props", pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]))
    nd = p["documents"]
    texts = [_words(rng, int(rng.integers(8, 70))) for _ in range(nd)]
    # a share of exact and near copies so the dedup queries find work
    for i in range(nd // 10, nd, 7):
        src = texts[int(rng.integers(0, i))].split()
        if i % 2:
            src[int(rng.integers(len(src)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        texts[i] = " ".join(src)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    nv, dim = p["embeddings"], p["dim"]
    labels = rng.integers(0, p["labels"], nv)
    centers = rng.normal(0, 0.15, size=(p["labels"], dim))
    emb = (centers[labels] + rng.normal(0, 0.05, size=(nv, dim))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out, f"{name}.parquet"))


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into `out`; return the manifest."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    p = PARAMS[workload]
    # one stream per (workload, seed): workloads never share draws
    rng = np.random.default_rng([WORKLOADS.index(workload), seed])
    os.makedirs(out, exist_ok=True)
    if workload == "curate_docs":
        _write_parquet(gen_docs(rng, p), os.path.join(out, "docs.parquet"))
    else:
        gen_upsert(rng, p, out)
        os.makedirs(os.path.join(out, "fixture"), exist_ok=True)
        gen_fixture(rng, p, os.path.join(out, "fixture"))
    files = {}
    for d, _, names in sorted(os.walk(out)):
        for name in sorted(names):
            path = os.path.join(d, name)
            if name.endswith(".parquet"):
                rows = pq.ParquetFile(path).metadata.num_rows
            else:
                with open(path) as f:
                    rows = sum(1 for _ in f)
            files[os.path.relpath(path, out)] = {
                "rows": rows, "bytes": os.path.getsize(path)}
    manifest = {"workload": workload, "seed": seed, "params": p, "files": files}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
