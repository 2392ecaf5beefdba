"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog expects (``region`` ...
``embeddings``) as single parquet files under one directory, shaped like the
engine's test corpora (sf0.001-sf0.1) as measured on them: the same column
names and types (dates and ``events.ts`` as ``timestamp[us]``), value
domains and uniform key draws (so join fan-outs and the customer-supplier
trade graph's degrees match), an ``events`` table in event-time order, a
``documents`` corpus of 10-99 words from a 31-word vocabulary in which one
document in twenty is an exact ``" dup"``-tagged copy of another, and
unit-norm 64-d ``embeddings`` with no planted near-duplicates.
NOTES.md records the comparison.

The same ``(seed, sf)`` always gives byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "small", "hot", "cold", "old", "new", "green"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "anvil", "widget", "plate", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: dt.datetime, n_days: int, size: int):
    us = _us(start) + rng.integers(0, n_days + 1, size) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, size: int):
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    text = [" ".join(rng.choice(words, int(rng.integers(10, 100))))
            for _ in range(n)]
    # one document in twenty, at seeded positions, becomes an exact copy
    # of another document tagged with a trailing " dup" (copies of copies
    # happen, as in the test corpora)
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        text[i] = text[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``; row counts follow TPC-H ratios
    (lineitem = 6M x sf), documents and embeddings stay at 500 rows."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(50, round(150_000 * sf))
    n_part = max(64, round(200_000 * sf))
    n_ord = round(1_500_000 * sf)
    n_li = round(6_000_000 * sf)
    n_ev = round(1_000_000 * sf)
    n_users = max(20, round(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_li),
        }
    )
    ts = np.sort(
        _us(dt.datetime(2024, 1, 1))
        + rng.integers(0, 30 * _DAY_US, n_ev, dtype=np.int64)
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, 500)
    out["embeddings"] = _embeddings(rng, 500)
    return out


def generate(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write every table to ``<out_dir>/<name>.parquet``; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sf)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return tabs


def split_files(tab: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``tab`` as ``n_files`` consecutive row slices (in row order,
    so a file stream over an event-time-ordered table sees time advance
    file by file). Returns the paths in write order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, tab.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(tab.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths
