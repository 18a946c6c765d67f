"""Seeded generator for the battery's ten tables.

Writes `<out>/<table>.parquet` with the schemas the battery queries read
(a TPC-H-like star schema, an `events` log, a `documents` text corpus
with near-duplicates, and unit-norm `embeddings`). Sizes scale with
`rows` (lineitem rows); the same seed gives the same files.

    python3 gen_corpus.py <out_dir> <seed> [lineitem_rows]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["red", "old", "cold", "hot", "blue", "small", "new", "large"]
NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in us
EPOCH_2024 = 1_704_067_200 * 1_000_000


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def sizes(rows):
    scale = rows / 60_000
    return dict(
        lineitem=rows,
        orders=max(rows // 4, 100),
        customer=max(int(1500 * scale), 50),
        part=max(int(2000 * scale), 50),
        supplier=max(int(100 * scale), 10),
        events=max(int(10_000 * scale), 500),
        documents=max(int(500 * scale), 200),
        embeddings=max(int(500 * scale), 200),
    )


def documents(rng, n):
    lengths = rng.integers(8, 90, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in lengths]
    # ~5% near-duplicates: another document's text with " dup" appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out, seed, rows=60_000):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(rows)
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    c = n["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c))})
    s = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, s))})
    p = n["part"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": pa.array(rng.choice(PTYPES, p)),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10, 1))})
    o = n["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o)),
        "o_totalprice": pa.array(money(rng, 1000, 500000, o)),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2400, o) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o))})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], li)),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(0, 2500, li) * DAY_US)})
    e = n["events"]
    gaps = rng.integers(1, 2 * 30 * DAY_US // e, e)
    write(out, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, e)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
        "value": pa.array(np.round(rng.exponential(50, e) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    write(out, "documents", documents(rng, n["documents"]))
    write(out, "embeddings", embeddings(rng, n["embeddings"]))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 60_000)
