"""Seeded generator for the star-schema tables the registry queries read.

The registry queries (``__spark_entry__.queries()``) read ten parquet
tables from an ``sf_dir``: a TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings``. The benchmark makes its own copy of them
from ``--seed`` so that a run depends on nothing outside the checkout and
the same seed always yields byte-identical inputs.

Column names, types, cardinalities and value ranges follow the shape the
queries were written against (uniform keys, ~4 lineitems per order,
30-word document vocabulary with 5% near-duplicates, unit-norm 64-d
embeddings). Row counts scale linearly with ``sf``; ``sf=0.1`` gives
600,000 lineitems.
"""

from __future__ import annotations

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
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n, lo_day, hi_day):
    """Midnight timestamps uniform over [lo_day, hi_day) days after 1995-01-01."""
    d = rng.integers(lo_day, hi_day, n)
    return pa.array(_EPOCH_1995 + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


#: every table, in the order :func:`make_tables` returns them
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def make_tables(seed: int, sf: float = 0.1, names=TABLES) -> dict[str, pa.Table]:
    """The tables in ``names`` as Arrow tables; deterministic in
    ``(seed, sf)``. Each table draws from its own random stream, so a
    table is the same whichever other tables are made with it."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 40)
    n_events = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 20)
    n_vecs = max(int(20_000 * sf), 20)

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        })

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })

    def customer(rng):
        return pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        })

    def supplier(rng):
        return pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        })

    def part(rng):
        adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
        noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
        return pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        })

    def orders(rng):
        return pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        })

    def lineitem(rng):
        return pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 1, 2499),
        })

    builders = {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem,
        "events": lambda rng: _events(rng, n_events, n_users),
        "documents": lambda rng: _documents(rng, n_docs),
        "embeddings": lambda rng: _embeddings(rng, n_vecs),
    }
    return {name: builders[name](np.random.default_rng([seed, 100 + TABLES.index(name)]))
            for name in names}


def make_events(seed: int, sf: float = 0.1) -> pa.Table:
    """The ``events`` table alone, deterministic in ``(seed, sf)``."""
    rng = np.random.default_rng([seed, 2])
    return _events(rng, max(int(1_000_000 * sf), 100), max(int(15_000 * sf), 10))


def _events(rng, n: int, n_users: int) -> pa.Table:
    """Time-ordered events over 30 days with distinct microsecond stamps."""
    span = 30 * _US_PER_DAY
    us = np.sort(rng.choice(span, n, replace=False))
    ts = np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; 5% are another document plus " dup" and a
    handful are exact copies, so every dedup operator has work to find."""
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    exact = rng.choice(n, max(n // 600, 2), replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.fromiter((len(s) for s in texts), np.int64, n),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> int:
    """One ``<name>.parquet`` file per table; returns total bytes written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
