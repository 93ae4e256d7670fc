"""Seeded generator for the suite tables the ``suite_heavy`` queries read.

Column names and Arrow types follow the fixture tables the suite is
written against (FIXTURES.md §1); value distributions follow them
loosely: uniform foreign keys, ~4 lines per order, 60-day-late
shipments for the Q21 shape, word-soup documents with planted near
duplicates (Jaccard >= ~0.9 on character 5-shingles, far above the 0.8
threshold, so banded MinHash cannot miss them).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts by scale; "full" matches the sf0.01 fixtures.
SIZES = {
    "full": {"customer": 1500, "supplier": 100, "orders": 15000,
             "lineitem": 60000, "documents": 500},
    "tiny": {"customer": 150, "supplier": 10, "orders": 1500,
             "lineitem": 6000, "documents": 120},
}

_WORDS = ("key agg row scan slow fast table value part hash line sort window "
          "merge batch spark a the data column join small customer query "
          "order group big vector stream filter dup").split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
_DAY_US = 86_400 * 10**6
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_SPAN_DAYS = 2400


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n: int) -> pa.Array:
    days = _EPOCH_1995 + rng.integers(0, _SPAN_DAYS, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))]
            if len(src) >= 250:  # near duplicate: one extra word
                texts.append(src + " " + str(rng.choice(_WORDS)))
                continue
        k = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(_WORDS, k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[i % len(_LANGS)] for i in range(n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str, seed: int, scale: str = "full") -> dict[str, int]:
    """Write one ``<table>.parquet`` per table; return row counts."""
    rng = np.random.default_rng(seed)
    n = SIZES[scale]
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, no, nl = n["customer"], n["supplier"], n["orders"], n["lineitem"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 900.0, 500_000.0, no),
        "o_orderdate": _dates(rng, no),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    okey = np.sort(rng.integers(0, no, nl))
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    linenumber = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl),
    })
    tables["documents"] = _documents(rng, n["documents"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
