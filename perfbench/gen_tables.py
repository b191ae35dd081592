"""Seeded input tables for the analytics workload.

Writes the ten tables the operator queries read (`region`, `nation`,
`customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`), one parquet file each, with the column names
and types of the repository's test tables. The same seed gives the same
bytes. Sizes are small on purpose: at this scale a query's time is mostly
planning and per-job scheduling, which is what a 4-core box can afford to
measure ten times over.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 750, "supplier": 50, "part": 1000, "orders": 2500,
        "lineitem": 10000, "events": 5000, "documents": 400,
        "embeddings": 500}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
                     "AUTOMOBILE"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                       "MEDIUM"])
PART_ADJ = np.array(["blue", "old", "red", "small", "new", "large", "hot",
                     "cold"])
PART_NOUN = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil",
                      "ring", "gear"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype(
        "datetime64[us]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        # ~5% near-duplicates (one word swapped for "dup") and ~0.5% exact
        # duplicates of an earlier document, so the dedup and cluster
        # queries have real work to find
        r = rng.random()
        if i > 10 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.055:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed):
    rng = np.random.default_rng(seed)
    nc, ns, np_, no, nl = (ROWS[k] for k in
                           ("customer", "supplier", "part", "orders",
                            "lineitem"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": pa.array(rng.choice(PART_TYPES, np_)),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["O", "P", "F"]), no)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), nl)),
            "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), nl)),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(ROWS["events"], dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, ROWS["events"])).astype(
                    "timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, ROWS["events"]).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ROWS["events"])),
            "value": pa.array(np.round(rng.gamma(2.0, 15.0, ROWS["events"]), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, ROWS["events"])])}),
        "documents": _documents(rng, ROWS["documents"]),
        "embeddings": _embeddings(rng, ROWS["embeddings"]),
    }
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
