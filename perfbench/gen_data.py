"""Deterministic TPC-H-ish corpus for the benchmark.

Writes the tables graft's GraphLoader reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents) as parquet, with the
same column names and types as the project's sf testdata. Row counts scale
with `sf` the way the testdata does (sf 0.1 = 600k lineitems). The corpus
seed is fixed: the benchmark seed picks query parameters, never the data,
so every seed runs against the same graph and the stored batch-job hashes
stay valid.

    python3 perfbench/gen_data.py <out_dir> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup", "logout"]
ADJ = ["large", "small", "hot", "cold", "bright", "dark", "smooth", "rough"]
NOUN = ["ring", "bolt", "gear", "plate", "valve", "spring", "screw", "pipe"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
LANGS = ["en", "de", "fr", "zh", "es"]
# Documents draw from a wide vocabulary so unrelated documents share
# almost no word 3-grams; near-duplicates are planted explicitly.
VOCAB = [f"w{i:04d}" for i in range(3000)]

VERSION = "corpus-v1"


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _ts(base, seconds):
    return (np.datetime64(base, "us") + (seconds * 1_000_000).astype("timedelta64[us]"))


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    _write(out, "nation", {
        "n_nationkey": pa.array(nk), "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": pa.array(sk), "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})

    ok = np.arange(n_ord, dtype=np.int64)
    # two thirds of the customers place orders, as in TPC-H
    buyers = ck[ck % 3 != 0]
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    price = np.round(qty * (900.0 + (l_part % 1000) * 0.1), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    tot = np.zeros(n_ord)
    np.add.at(tot, l_ok, price * (1 + tax) * (1 - disc))
    o_date = _ts("1992-01-01", rng.integers(0, 2400, n_ord) * 86400)
    _write(out, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), n_ord)]),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(tot, 2)),
        "o_orderdate": pa.array(o_date),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_ok), "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, max(n_supp, 1), n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(qty), "l_extendedprice": pa.array(price),
        "l_discount": pa.array(disc), "l_tax": pa.array(tax),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts("1992-01-01", rng.integers(0, 2500, n_li) * 86400))})

    n_users = max(n_ev // 50, 1)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_ts("2024-01-01", np.sort(rng.integers(0, 30 * 86400, n_ev)))),
        "user_id": pa.array(rng.zipf(1.3, n_ev).astype(np.int64) % n_users),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n_ev)],
        "value": pa.array(np.round(rng.uniform(0, 200, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i % 10 == 9:
            # near-duplicate of an earlier document: one appended word
            # keeps the 3-gram Jaccard above 0.95
            base = texts[int(rng.integers(0, i - 1))]
            texts.append(base + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
        else:
            n = int(rng.integers(25, 60))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)), "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 4, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.02)
