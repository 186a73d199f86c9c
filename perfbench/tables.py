"""Synthetic sf0.1-shaped corpus for the `suite` workload.

Writes the ten tables the `SparkEntry.queries` slots read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one single-row-group parquet file each, with the column names, types, row
counts and value ranges of the project's sf0.1 test corpus.  The generator
seed is fixed (TABLE_SEED), so every checkout writes byte-identical files and
the DuckDB oracle cache keyed on their content stays valid.

    python3 perfbench/tables.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
GENERATOR_VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large",
            "shiny", "green", "dark", "light", "steel"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

# sizes: sf0.1 of the project's test corpus
N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM, N_EVENTS = 150000, 600000, 100000
N_DOCS, N_VECS, DIM = 5000, 2000, 64


def _ts(days_from, days_span, rng, n):
    base = np.datetime64(days_from, "D").astype("datetime64[us]")
    days = rng.integers(0, days_span, n).astype("timedelta64[D]")
    return base + days.astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    keys = np.arange(N_PART, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), N_PART), rng.integers(0, len(PART_NOUN), N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts("1995-01-01", 2404, rng, N_ORDERS),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, N_LINEITEM)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": start + offs,
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)]})
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:  # planted near-copy of an earlier doc
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src[:max(1, len(src) - int(rng.integers(0, 3)))] + ["dup"]))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    for name, tbl in tables(rng).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp, row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    write(sys.argv[1])
