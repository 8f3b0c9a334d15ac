"""Seeded generator for the fixture tables the batch_mix workload reads.

Writes the ten parquet tables of the repository's fixture layout
(`<dir>/<table>.parquet`, one row group each) with the same column names,
physical types and value domains as the sf0.1 fixtures: 2-decimal money,
naive microsecond timestamps, `{"k": <int>}` event props, word-salad
documents and L2-normalised 64-dim float embeddings. The same seed gives
byte-identical tables.

Usage: python3 fixtures.py <out_dir> <seed> [sf]
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "shiny", "cold", "green"]
PART_NOUN = ["ring", "bolt", "gear", "screw", "valve", "spring", "panel"]
PART_TYPE = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
WORDS = ("a the spark stream batch line column order small sort fast value "
         "scan hash slow group agg filter query big key window row part table "
         "merge data vector join customer").split()
LANGS = ["en", "fr", "es", "zh", "de"]

US_PER_DAY = 86_400_000_000


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us.astype("int64"), type=pa.timestamp("us"))


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet",
                   row_group_size=1 << 30)


def generate(out, seed, sf=0.1):
    rng = np.random.default_rng(seed)
    scale = sf / 0.1
    n_cust, n_supp = int(15000 * scale), int(1000 * scale)
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    n_events, n_users = int(100000 * scale), int(1500 * scale)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPE)[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) / 10, 2)})

    # a third of the customers (custkey % 3 == 0) place no orders
    buyers = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    o_start, o_end = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    o_days = rng.integers(0, (o_end - o_start) // US_PER_DAY + 1, n_ord)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": buyers[rng.integers(0, len(buyers), n_ord)].astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(o_start + o_days * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    first = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_num = np.arange(len(l_order)) - first + 1
    n_line = len(l_order)
    perm = rng.permutation(n_line)  # file order is not key order
    s_start, s_end = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    l_days = rng.integers(0, (s_end - s_start) // US_PER_DAY + 1, n_line)
    _write(out, "lineitem", {
        "l_orderkey": l_order[perm].astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": pa.array(l_num[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(s_start + l_days * US_PER_DAY)})

    # events arrive in event_id order over ~30 days, with random gaps; the
    # sf0.1 fixture's file is in event_id and ts order too, with uniform
    # users and event types
    gaps = rng.integers(1, 2 * (30 * US_PER_DAY // n_events), n_events)
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(_day_us(2024, 1, 1) + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.03, 327.5, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    n_docs = int(5000 * scale)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(8, 70, n_docs)]
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[.39, .16, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    n_vec = int(2000 * scale)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    v = centers[labels] + 0.8 * rng.normal(size=(n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
