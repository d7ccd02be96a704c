"""Seeded relational fixtures for the batch workload.

Writes the ten tables of ``sfs3_kinesis_spark.TABLES`` as one parquet
file each, with the column names and types of the repository's
fixture tables (FIXTURES.md) at their smallest scale, so the registry's
plans and their DuckDB oracle twins run on them unchanged.  Values are
drawn from ``numpy.random.default_rng(seed)``: the same seed writes
the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table scan filter join merge sort group agg key "
    "hash window stream batch query value part line order customer vector "
    "spark fast slow big small"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
PART_ADJ = ("blue", "new", "cold", "hot", "red", "large", "small", "old")
PART_NOUN = ("rod", "gear", "anvil", "ring", "bolt", "widget", "nut", "pipe")

#: table sizes (rows)
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 150, 10, 200, 1500, 6000
N_EVENTS, N_DOCS, N_EMB, EMB_DIM = 1000, 500, 500, 64


def _ts(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "us").astype(np.int64), np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[us]")


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D").astype(np.int64), np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng) -> list[str]:
    """Texts of 10-99 words; one in twenty repeats an earlier text
    plus the token ``dup`` (a planted near-duplicate)."""
    texts = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return texts


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + np.arange(N_PART) * 0.1, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(("O", "F", "P"), N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": rng.choice(("N", "R", "A"), N_LINEITEM),
        "l_linestatus": rng.choice(("F", "O"), N_LINEITEM),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-05", N_LINEITEM)})
    _write(out_dir, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.sort(_ts(rng, "2024-01-01", "2024-01-31", N_EVENTS)),
        "user_id": rng.integers(0, 15, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": _money(rng, 0.01, 330.0, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = documents(rng)
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.35, (N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array([v.astype(np.float32) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
