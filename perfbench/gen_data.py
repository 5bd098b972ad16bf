#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the graft operators read (TPC-H-ish star schema
plus `events`, `documents` and `embeddings`) with the same column names,
types and value ranges as the project's test data, one parquet file and
one row group per table. The row counts scale with `sf` the same way:
lineitem has 6,000,000 x sf rows. documents and embeddings have a floor
of 200 rows for the tiny smoke sizes; it never binds at sf >= 0.01, so
every fact table of graft.tools.ScaleData's x10 of sf0.01 has the row
count of sf0.1. (The project's test data floors both at 500 rows, which
would give that x10 2.5 times the embeddings of sf0.1.)

The tables depend only on `sf`, never on the benchmark's --seed: every
seed reads the same inputs, and the seed picks operation order and
write slices instead. A fixed generator seed keeps two generations
byte-identical, which `MANIFEST.sha256` records.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "large hot blue old cold small red green".split()
NOUN = "ring bolt plate gear nut pipe wheel screw".split()
TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD FURNITURE BUILDING".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "signup click error view purchase".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _ts(first, last, rng, n):
    """timestamp[us] at whole days, uniform over [first, last]."""
    base = np.datetime64(first, "us").astype(np.int64)
    n_days = int((np.datetime64(last) - np.datetime64(first)).astype(int))
    v = base + rng.integers(0, n_days + 1, n) * DAY_US
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(42)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", "2001-11-04", rng, n_li)})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # ~5% of documents are a near-duplicate of an earlier one: its
    # text plus a trailing "dup" token, the shape the dedup operators
    # look for
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    langs = np.array(["en", "en", "de", "es", "fr", "zh", "en"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # unit vectors around ten weak cluster centres
    labels = rng.integers(0, 10, n_emb)
    centres = rng.standard_normal((10, 64))
    vec = 0.063 * centres[labels] + rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def manifest(out_dir):
    """sha256 over every table file, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows),
                       compression="snappy")
    digest = manifest(out_dir)
    with open(os.path.join(out_dir, "MANIFEST.sha256"), "w") as f:
        f.write(digest + "\n")
    return digest


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen_data.py <out_dir> <sf>")
    print(generate(sys.argv[1], float(sys.argv[2])))
