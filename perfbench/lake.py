"""Seeded generator for the benchmark's input lake.

Writes the ten tables the engine's `graft.core.Lake` expects (one parquet
file each, same names, columns and types as the project's test corpus) at
a chosen scale factor, plus the near-duplicate corpus the curation
workload runs on. The same (seed, scale) always gives the same data, so
every run of a workload sees the same inputs for a given seed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "big", "dark"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "spring"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# A word list large enough that two unrelated documents rarely share a
# 3-word shingle, so near-duplicate pairs come from the planted edits.
VOCAB = [a + b for a in ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo",
                         "me", "nu", "po", "ra", "si", "to", "vu", "ze"]
         for b in ["n", "r", "s", "t", "l", "x", "k", "m"]]
HOT_SHINGLE = "zzhot zzshingle zzplanted"
# Documents carrying the hot shingle. At sf0.02 (about 1,060 documents)
# a half share gives the hot key about 79% of the shingle self-join's
# rows and 96% of its aggregated pairs, and near_dup takes about 1.2 s
# against 0.9 s at a 5% share (README.md, "Inputs", has the sweep).
HOT_SHARE = 0.5
DUP_PAIRS = 60  # planted near-duplicate edits
MULTI_FILE_ROWS = 20_000

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _doc_text(rng, n_tokens):
    idx = rng.integers(0, len(VOCAB), n_tokens)
    return " ".join(VOCAB[i] for i in idx)


def _edit(rng, text):
    """A near-duplicate: one or two single-token edits of `text`."""
    toks = text.split(" ")
    for _ in range(int(rng.integers(1, 3))):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(toks)))
        word = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            toks[pos] = word
        elif op == 1:
            toks.insert(pos, word)
        elif len(toks) > 20:
            del toks[pos]
    return " ".join(toks)


def generate(out, seed, sf):
    """Write the lake under `out`; returns a manifest dict."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    days = rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    order = rng.permutation(n_li)  # lineitem is not sorted by order key
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + (DAY_US
                                        + rng.integers(0, 2499, n_li) * DAY_US)),
    }).take(order)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    tables["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _money(rng, 0.0, 560.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # Documents: random word sequences, a share carrying the planted hot
    # shingle (skew for the inverted index), then edited copies of
    # DUP_PAIRS originals appended as near-duplicates.
    texts = [_doc_text(rng, int(rng.integers(20, 100))) for _ in range(n_docs)]
    hot = rng.choice(n_docs, int(n_docs * HOT_SHARE), replace=False)
    for i in hot:
        toks = texts[i].split(" ")
        pos = int(rng.integers(0, len(toks)))
        texts[i] = " ".join(toks[:pos] + HOT_SHINGLE.split(" ") + toks[pos:])
    originals = rng.choice(n_docs, DUP_PAIRS, replace=False)
    planted = []
    for j, i in enumerate(sorted(int(x) for x in originals)):
        planted.append([i, n_docs + j])
        texts.append(_edit(rng, texts[i]))
    n_all = len(texts)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_all, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_all, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_all)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})

    # Layout: tables of at least MULTI_FILE_ROWS rows as 16 files split by
    # contiguous row ranges (the layout `graft.Bench` stages), the corpus
    # tables as 4 files, the rest as one file. `layout_amp` is the bytes of
    # that layout over the bytes of the same rows as one file per table.
    staged = single = 0
    for name, t in tables.items():
        files = (4 if name in ("documents", "embeddings")
                 else 16 if t.num_rows >= MULTI_FILE_ROWS else 1)
        if files == 1:
            path = os.path.join(out, f"{name}.parquet")
            pq.write_table(t, path)
            size = os.path.getsize(path)
            staged, single = staged + size, single + size
            continue
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // files)
        for i in range(files):
            part = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(t.slice(i * step, step), part)
            staged += os.path.getsize(part)
        one = os.path.join(out, f".{name}.single.parquet")
        pq.write_table(t, one)
        single += os.path.getsize(one)
        os.remove(one)
    manifest = {
        "seed": seed, "sf": sf,
        "rows": {n: t.num_rows for n, t in tables.items()},
        "planted_pairs": planted, "hot_shingle": HOT_SHINGLE,
        "hot_docs": int(len(hot)), "layout_amp": staged / single}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    with open(os.path.join(out, "rows.tsv"), "w") as f:
        f.writelines(f"{n}\t{t.num_rows}\n" for n, t in tables.items())
    with open(os.path.join(out, "planted.tsv"), "w") as f:
        f.writelines(f"{a}\t{b}\n" for a, b in planted)
    return manifest

