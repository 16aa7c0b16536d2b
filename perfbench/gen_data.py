"""Deterministic TPC-H-shaped fixture generator for the benchmark.

Writes the ten tables graft's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas listed in the repository's FIXTURES.md.
The same (scale, seed) always yields byte-identical tables.

    python3 perfbench/gen_data.py <out_dir> <scale> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "new", "large", "small", "old", "cold"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "nut", "gear", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
DAY_US = 86_400_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days_since_epoch(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(int))


def ts_days(days):
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def documents(rng, n):
    """Word-salad documents; one in ten is a near copy of an earlier one, so
    the dedup and contamination queries have pairs to find."""
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return texts


def generate(out, scale, seed=42):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(150, int(15_000 * scale))
    n_docs = 5000 if scale >= 0.1 else 500
    n_emb = 2000 if scale >= 0.1 else 500

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       compression="snappy")

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0, d1 = days_since_epoch(1995, 1, 1), days_since_epoch(2001, 8, 1)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_days(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]})
    # (l_orderkey, l_linenumber) is unique, as in TPC-H; rows are shuffled
    lines_per_order = rng.integers(2, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(lines_per_order) - lines_per_order,
                                            lines_per_order) + 1
    pick = np.sort(rng.permutation(len(okey))[:n_line])
    order = rng.permutation(n_line)
    okey, lnum = okey[pick][order], lnum[pick][order]
    write("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_line)],
        "l_shipdate": ts_days(rng.integers(d0 + 1, d1 + 96, n_line))})
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + days_since_epoch(2024, 1, 1) * DAY_US
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        # nanosecond timestamps, as the engine's fixtures carry them
        "ts": pa.array(ev_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = documents(rng, n_docs)
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
