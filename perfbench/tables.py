"""Seeded table inputs for the `queries` workload, and the DuckDB oracle
compare of their outputs.

The tables keep the schemas, key ranges and value domains of the
engine's test tables (TESTDATA.md), so every registry query and its
oracle SQL runs on them unchanged; only the rows come from the seed.
"""
import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n) * np.timedelta64(DAY_US, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng, n_orders):
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders * 2 // 15
    n_line = n_orders * 4
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_orders), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("us"))})
    return t


def _events(rng, n):
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n * 3 // 200, 10), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(np.minimum(rng.exponential(60.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around one random centroid per label."""
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centroids[label] + rng.normal(0.0, 1.5, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def generate(out_dir, seed, sizes):
    """Write the tables named in `sizes` (table group -> row count) as
    parquet under `out_dir`. Returns (rows, bytes) written."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    for i, (group, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        if group == "tpch":
            tables.update(_tpch(rng, n))
        elif group == "events":
            tables["events"] = _events(rng, n)
        elif group == "embeddings":
            tables["embeddings"] = _embeddings(rng, n)
        else:
            raise ValueError(f"unknown table group {group}")
    rows = 0
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows += t.num_rows
    size = sum(os.path.getsize(os.path.join(out_dir, f"{n}.parquet")) for n in tables)
    return rows, size


def oracle_compare(tables_dir, out_dir, repo_root):
    """Run the repository's correctness gate, scripts/check.py, on each
    op's Spark output under `out_dir` against DuckDB running the op's
    oracle SQL over the same tables. Returns a list of (op, ok, detail).

    check.py binds every test table. The ops here do not read
    `documents`, so an empty stand-in with its schema is staged for it.
    """
    stand_in = os.path.join(tables_dir, "documents.parquet")
    if not os.path.exists(stand_in):
        pq.write_table(pa.table({
            "doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()), "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64())}), stand_in)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        ops = sorted(json.load(fh))
    p = subprocess.run([sys.executable, os.path.join(repo_root, "scripts", "check.py"),
                        tables_dir, out_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+([^\s:]+):?\s*(.*)", line)
        if m:
            verdicts[m.group(2)] = (m.group(1) == "OK", m.group(3))
    return [(op, *verdicts.get(op, (False, f"no verdict from check.py (exit {p.returncode})")))
            for op in ops]
