"""Deterministic bench tables in the catalog's input layout.

Writes one parquet file per table (`region nation customer supplier part
orders lineitem events documents embeddings`) with the schemas, value
domains and row counts of the catalog's oracle-scale data set (sf0.01:
60,000 lineitem rows): a TPC-H-like star schema, an event stream with
monotone timestamps, a documents table drawn from a 30-word vocabulary
with planted near-duplicates (a copy of an earlier document plus a
" dup" suffix), and unit-norm 64-dimensional float embeddings.

Usage: python3 datagen.py <out_dir>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
DIM = 64
SEED = 42  # fixed: every run of every commit reads the same bytes


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(start, lo_days, hi_days, rng, n):
    d = rng.integers(lo_days, hi_days + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]")).astype(
        "datetime64[us]")


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables():
    rng = np.random.default_rng(SEED)
    n = ROWS
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
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(rng, SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])})
    parts = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(parts, i64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, ADJECTIVES, n["part"]),
                                              pick(rng, NOUNS, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900 + (parts % 1000) / 10, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000, 500000, no),
        "o_orderdate": days("1995-01-01", 0, 2404, rng, no),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": days("1995-01-02", 0, 2498, rng, nl)})
    ne = n["events"]
    gaps = rng.integers(1_000_000, 518_000_000, ne)  # 1 s .. 8.6 min, in µs
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    texts = []
    for d in range(n["documents"]):
        if d > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[rng.integers(0, d)]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(pick(rng, VOCAB, int(rng.integers(10, 100)))))
    nd = n["documents"]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return out


def main():
    out = Path(sys.argv[1])
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, out / f"{name}.parquet", compression="snappy")


if __name__ == "__main__":
    main()
