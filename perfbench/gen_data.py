#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the star schema the query surface reads (region, nation, customer,
supplier, part, orders, lineitem, events) plus the LLM corpus (documents,
embeddings) as one parquet file per table, with the same schemas, value
ranges and shapes as the repository's standard test tables:

- every fact column is drawn independently and uniformly from its range,
  so join fan-out and filter selectivities match the standard tables;
- 5% of the documents are a copy of another document with " dup" appended,
  which is what the near-duplicate operators find;
- embeddings are random 64-dim unit vectors (float32) with a random label.

Usage: gen_data.py <out_dir> --sf 0.01 [--docs-sf 0.04] [--seed 42]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIMS = 64


def days(start, end, n, rng):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star(out, sf, rng):
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line, rng)})
    # events: a Poisson stream over 30 days from 2024-01-01
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * 86_400_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * span_us * 0.9995).astype(np.int64)
    ts = (np.datetime64("2024-01-01", "us").astype(np.int64) + offs)
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def corpus(out, sf, rng):
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    lens = rng.integers(10, 101, n_doc)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    dup = rng.random(n_doc) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.fromiter(map(len, texts), np.int64, n_doc)})
    vecs = rng.standard_normal((n_vec, DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, DIMS, dtype=np.int32)),
            pa.array(vecs.reshape(-1), pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--docs-sf", type=float, default=None,
                    help="scale of documents/embeddings (default: --sf)")
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    star(a.out, a.sf, np.random.default_rng(a.seed))
    corpus(a.out, a.sf if a.docs_sf is None else a.docs_sf,
           np.random.default_rng(a.seed + 1))


if __name__ == "__main__":
    main()
