"""Seeded synthetic inputs for the benchmark workloads.

Writes the star schema the engine reads (``tables.TABLES``: region nation
customer supplier part orders lineitem documents embeddings), one parquet
file per table, with the same column names, types and value domains as
the engine's test data. The same ``(seed, sf, dirty)`` always yields
byte-identical tables.

Two properties are deliberate:

- ``o_orderkey`` grows with ``o_orderdate`` (keys are issued in time
  order), so "recent orders" are a key range — the shape CDC batches
  target and file-level min/max pruning can exploit.
- ``dirty=True`` plants a small share of rows that the medallion quality
  rules reject (negative amounts, out-of-range discounts, dangling foreign
  keys, null customer keys). Other workloads get clean inputs, so every
  oracle comparison runs on well-formed data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1995-01-01", "D")
N_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the engine's test-data span
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = "large small hot cold red blue green bright dark plain".split()
PART_NOUN = "ring bolt gear pipe valve plate screw spring chain wheel".split()
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]

#: base row counts at scale factor 1 (TPC-H proportions)
BASE_ROWS = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
ALL_TABLES = ("region", "nation", "supplier", "customer", "part", "orders",
              "lineitem", "documents", "embeddings")


def rows(name: str, sf: float) -> int:
    return max(10, int(round(BASE_ROWS[name] * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _region(rng, sf, dirty):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": names,
    })


def _nation(rng, sf, dirty):
    k = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(k),
        "n_name": [f"NATION_{i}" for i in k],
        "n_regionkey": pa.array((k % 5).astype(np.int32)),
    })


def _supplier(rng, sf, dirty):
    n = rows("supplier", sf)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _customer(rng, sf, dirty):
    n = rows("customer", sf)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _part(rng, sf, dirty):
    n = rows("part", sf)
    k = np.arange(n, dtype=np.int64)
    price = 900.0 + (k % 1000) / 10.0
    if dirty:
        bad = rng.random(n) < 0.005
        price = np.where(bad, -price, price)
    adj, noun = rng.integers(0, 10, n), rng.integers(0, 10, n)
    return pa.table({
        "p_partkey": pa.array(k),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(price, 2)),
    })


def order_days(sf: float, seed: int) -> np.ndarray:
    """Order dates (days since EPOCH), non-decreasing in o_orderkey."""
    rng = np.random.default_rng([seed, 7])
    return np.sort(rng.integers(0, N_DAYS, rows("orders", sf)))


def _orders(rng, sf, dirty, seed):
    n = rows("orders", sf)
    cust = rng.integers(0, rows("customer", sf), n).astype(np.int64)
    total = _money(rng, 1000.0, 500000.0, n)
    cust_mask = None
    if dirty:
        total = np.where(rng.random(n) < 0.003, -total, total)
        cust_mask = rng.random(n) < 0.003
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(cust, mask=cust_mask),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": pa.array(total),
        "o_orderdate": _ts(order_days(sf, seed)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def _lineitem(rng, sf, dirty, seed):
    n, n_orders = rows("lineitem", sf), rows("orders", sf)
    okey = rng.integers(0, n_orders, n).astype(np.int64)
    pkey = rng.integers(0, rows("part", sf), n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    disc = rng.integers(0, 11, n) / 100.0
    if dirty:
        u = rng.random(n)
        qty = np.where(u < 0.003, -qty, qty)
        disc = np.where((u >= 0.003) & (u < 0.006), 1.5, disc)
        okey = np.where((u >= 0.006) & (u < 0.009), okey + n_orders, okey)
        pkey = np.where((u >= 0.009) & (u < 0.011), pkey + rows("part", sf), pkey)
    ship = order_days(sf, seed)[np.minimum(okey, n_orders - 1)] + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, rows("supplier", sf), n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship),
    })


def _documents(rng, sf, dirty):
    """Random-vocabulary texts; ~10% are edited copies of an earlier
    document (near-duplicates) and ~2% verbatim copies (exact)."""
    n = rows("documents", sf)
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.02:
            t = texts[rng.integers(0, i)]
        elif i > 10 and u < 0.12:
            w = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(w), 2):
                w[j] = VOCAB[rng.integers(0, len(VOCAB))]
            t = " ".join(w)
        else:
            t = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, sf, dirty):
    """Unit vectors around ten label centroids; ~5% are slight
    perturbations of an earlier vector (near-duplicate embeddings)."""
    n, dim = rows("embeddings", sf), 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    e = 0.35 * centers[label] + rng.normal(size=(n, dim))
    src = rng.integers(0, n, n)
    near = (rng.random(n) < 0.05) & (src < np.arange(n))
    e[near] = e[src[near]] + 0.05 * rng.normal(size=(int(near.sum()), dim))
    label[near] = label[src[near]]
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


_MAKERS = {
    "region": _region, "nation": _nation, "supplier": _supplier,
    "customer": _customer, "part": _part, "documents": _documents,
    "embeddings": _embeddings,
}


def make_table(name: str, seed: int, sf: float, dirty: bool = False) -> pa.Table:
    rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
    if name == "orders":
        return _orders(rng, sf, dirty, seed)
    if name == "lineitem":
        return _lineitem(rng, sf, dirty, seed)
    return _MAKERS[name](rng, sf, dirty)


def generate(out_dir: str, seed: int, sf: float, tables, dirty: bool = False) -> dict[str, int]:
    """Write ``tables`` under ``out_dir``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name in tables:
        t = make_table(name, seed, sf, dirty)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = t.num_rows
    return out
