"""Deterministic TPC-H-ish tables plus a text corpus and embeddings.

The tables have the schemas graft's gates read (customer, orders, lineitem,
part, supplier, nation, region, documents, embeddings) and the same value
ranges as the fixture the gates were written against. Row counts scale
with the scale factor: sf0.1 has 15k customers, 150k orders, 600k
lineitems, 5,000 documents and 2,000 64-d embeddings.

The data seed is fixed, so every run and every commit reads the same
tables; the workload seed only drives operation order and parameters.

Usage: python3 perfbench/datagen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _rng(table):
    return np.random.default_rng([DATA_SEED, sum(map(ord, table))])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    d = rng.integers(lo_day, hi_day + 1, n)
    return (EPOCH_1995 + d).astype("datetime64[us]")


def tables(sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_docs, n_emb = int(6_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng("customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = _rng("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _rng("part")
    keys = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(ADJ)[r.integers(0, 8, n_part)], " "),
                        np.array(NOUN)[r.integers(0, 8, n_part)])
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    r = _rng("orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, 0, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = _rng("lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, 1, 2499, n_li)})
    out["documents"] = _documents(n_docs)
    r = _rng("embeddings")
    x = r.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})
    return out


def _documents(n):
    """Random word texts; one in twenty is a copy of an earlier document
    with one word appended, so dedup stages find near-duplicates."""
    r = _rng("documents")
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i >= 20 and r.random() < 0.05:
            texts.append(texts[r.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(VOCAB),
                                                   r.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def generate(out_dir, sf):
    """Write every table under out_dir unless a complete copy is there."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
