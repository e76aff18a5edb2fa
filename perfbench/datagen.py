"""Seeded synthetic tables for the benchmark.

Writes the same ten tables the registry entries read (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), one parquet
file each, with the column names and types listed in FIXTURES.md.  The
same ``(sf, seed)`` always gives byte-identical tables, so results over
them can be compared against frozen digests.

Row counts follow the fixture scale rule: lineitem ~6M x sf, orders
1.5M x sf, events 1M x sf; documents and embeddings stay at 500 rows up
to sf0.01 (5,000 / 2,000 at sf0.1).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a data row column table query join group sort merge part key "
    "value line order filter scan hash window batch stream spark vector "
    "agg customer small big fast slow dup"
).split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["small", "large", "red", "blue", "steel", "brass", "shiny", "matte"],
              ["ring", "widget", "bolt", "nut", "gear", "pipe", "valve", "spring"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _rows(sf: float, per_sf: float, floor: int = 1) -> int:
    return max(floor, int(round(per_sf * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def lineitem_table(sf: float, seed: int) -> tuple[pa.Table, pa.Table]:
    """(lineitem, orders) as arrow tables."""
    rng = np.random.default_rng([seed, 7])
    n_orders = _rows(sf, 1_500_000)
    n_cust = _rows(sf, 150_000)
    n_part = _rows(sf, 200_000)
    n_supp = _rows(sf, 10_000)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2400, n_orders) * DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    n_li = _rows(sf, 6_000_000)
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)[:n_li]
    if len(okey) < n_li:  # top up on the last orders' keys
        okey = np.concatenate([okey, rng.integers(0, n_orders, n_li - len(okey))])
        okey.sort()
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    linenumber = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li]))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (linenumber + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US,
    })
    return lineitem, orders


def _documents(sf: float, rng: np.random.Generator) -> dict:
    n = 5000 if sf >= 0.1 else 500
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(sf: float, rng: np.random.Generator) -> pa.Table:
    n, dim = (2000 if sf >= 0.1 else 500), 64
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = (centers[label] + rng.normal(0, 1.2, (n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": label,
    })


def write_tables(out_dir: str, sf: float, seed: int = 42) -> str:
    """Write all ten tables for scale ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n = _rows(sf, 150_000)
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = _rows(sf, 10_000)
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = _rows(sf, 200_000)
    adj, noun = PART_WORDS
    _write(out_dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n) / 10.0, 2),
    })
    lineitem, orders = lineitem_table(sf, seed)
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    n = _rows(sf, 1_000_000)
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps),
        "user_id": rng.integers(0, _rows(sf, 15_000, 15), n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    # own streams: the curation tables do not shift with the other sizes
    _write(out_dir, "documents", _documents(sf, np.random.default_rng([seed, 2])))
    pq.write_table(
        _embeddings(sf, np.random.default_rng([seed, 3])),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return out_dir
