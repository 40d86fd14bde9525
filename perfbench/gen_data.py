"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine reads (`graft.Tables.names`) as one
parquet file each, in the shapes and value domains of the harness data
the engine is verified on: a TPC-H-like star schema, an `events`
stream, a `documents` corpus over a small vocabulary with 5%
near-duplicates (an earlier document plus " dup"), and unit-norm 64-d
`embeddings` with a weak per-label bias.

The tables depend only on (scale factor, generator seed); the
workload seed never reaches them, so the reference digests recorded
for the query workloads hold for every workload seed.

    python3 perfbench/gen_data.py <out_dir> <sf> [<generator_seed>]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("batch sort value hash filter big data query row stream the part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "new", "hot", "old", "large", "blue", "cold", "small"]
NOUN = ["bolt", "gear", "ring", "widget", "anvil", "plate", "rod", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    d = np.datetime64(start, "D") + rng.integers(0, ndays + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def generate(out, sf, seed=42):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2403, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    did = np.arange(n_docs, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": did,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", (did % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.07 / 8.0, (10, 64))
    e = rng.normal(0.0, 1.0, (n_emb, 64)) / 8.0 + centers[labels]
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit("usage: gen_data.py <out_dir> <sf> [<generator_seed>]")
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
