"""Seeded input tables for the benchmark.

The package's fixtures are TPC-H-shaped parquet tables (``orders``,
``customer``, ``lineitem``, ``part``, ``nation``) plus ``documents`` and
``events``. This module writes tables of the same names and schemas from a
seed alone, so a benchmark run needs nothing outside its checkout: the
same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the package's documents fixture
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def write_tpch(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """``orders``/``customer``/``lineitem``/``part``/``nation`` sized by
    ``n_orders`` (ratios of the sf fixtures: 10 orders per customer,
    1-7 lines per order). Returns row counts per table."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, n_orders // 10)
    n_part = max(64, n_orders // 8)
    os.makedirs(out_dir, exist_ok=True)

    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, n_orders) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
    })
    n_lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype="int64"), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    linenumber = (np.arange(orderkey.size) - starts + 1).astype("int32")
    n_li = orderkey.size
    quantity = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li).astype("int64")),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2500, n_li) * _DAY_US),
    })
    return {"orders": n_orders, "customer": n_cust, "part": n_part,
            "lineitem": int(n_li), "nation": 25}


def _random_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(6, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


def write_documents(
    out_dir: str, seed: int, n_docs: int, exact_share: float, near_share: float
) -> dict[str, int]:
    """``documents``: random texts over VOCAB; ``exact_share`` of the rows
    are copies of an earlier original text (re-cased / re-spaced, so only
    the normalized fingerprint matches) and ``near_share`` are an earlier
    original with one word appended (a near duplicate at Jaccard well above
    0.5)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts = _random_texts(rng, n_docs)
    kind = rng.random(n_docs)
    originals = [0]
    for i in range(1, n_docs):
        src = texts[originals[int(rng.integers(0, len(originals)))]]
        if kind[i] < exact_share:
            texts[i] = "  " + src.upper() + " "
        elif kind[i] < exact_share + near_share:
            texts[i] = src + " dup"
        else:
            originals.append(i)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    return {"documents": n_docs}


def write_events(out_dir: str, seed: int, n_events: int) -> dict[str, int]:
    """``events``: 30 days of timestamped user events."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": _ts(_EPOCH_2024_US + ts),
        "user_id": pa.array(rng.integers(0, 1500, n_events).astype("int64")),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {"events": n_events}
