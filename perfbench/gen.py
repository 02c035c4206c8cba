"""Seeded input generator for the benchmark.

Writes the eight corpus tables the benchmark's ops read (`graft.core.Tables`)
as one parquet file each, with the column types and value domains of the
repository's TPC-H-like test corpus (TESTDATA.md): uniform keys and categories, order and ship
dates in 1995-2001 and an `events` stream over 30 days. The same seed and
scale always give byte-identical tables.

`scale` 1.0 is the size of the sf0.01 corpus (60,000 lineitems).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
             "lineitem": 60000, "events": 10000}
# One child random stream per corpus table, in this fixed order, so a seed
# gives the same table whichever other tables are generated. (documents and
# embeddings keep their streams although no op reads them.)
STREAMS = ["customer", "documents", "embeddings", "events", "lineitem",
           "orders", "part", "supplier", "region", "nation"]
EVENT_USERS = 150


def _ts(rng, start, end, n):
    """n uniform day-precision timestamps in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, scale=1.0):
    """Write the corpus under `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    n = {t: max(10, int(round(r * scale))) for t, r in BASE_ROWS.items()}
    rng = {t: np.random.default_rng(s) for t, s in
           zip(STREAMS, np.random.SeedSequence(seed).spawn(len(STREAMS)))}
    rows = {}

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    rows["region"] = 5
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rows["nation"] = 25
    r, k = rng["customer"], n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)]})
    rows["customer"] = k
    r, k = rng["supplier"], n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})
    rows["supplier"] = k
    r, k = rng["part"], n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), k)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1)})
    rows["part"] = k
    r, k = rng["orders"], n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _ts(r, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)]})
    rows["orders"] = k
    r, k = rng["lineitem"], n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": np.round(r.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _ts(r, "1995-01-02", "2001-11-04", k)})
    rows["lineitem"] = k
    r, k = rng["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + r.integers(0, span, k))
    users = max(10, int(round(EVENT_USERS * max(scale, 0.1))))
    _write(out, "events", {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, k), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": _money(r, 0.01, 500.0, k),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})
    rows["events"] = k
    return rows
