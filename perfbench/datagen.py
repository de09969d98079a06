"""Deterministic synthetic input tables for the benchmark.

The engine's registry queries read a TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables (one parquet file
each, see ``questdb_spark.sources.parquet.TPCH_TABLES``).  This module
writes that schema from a fixed data seed, at a given scale factor, with
the value shapes the queries rely on: prices and event values with two
decimals, a ts-sorted ``events`` stream over January 2024, a 5 % share of
near-duplicate documents, and unit-norm clustered embeddings.

The data seed is fixed (``DATA_SEED``): every workload seed reads the same
tables, so the frozen registry query digests stay valid; the
workload seed only picks parameters and order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per table at sf 1.0 (dimension tables are fixed size)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _rows(name: str, sf: float) -> int:
    return max(10, int(round(_BASE_ROWS[name] * sf)))


def _day_ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def make_tables(sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = _rows("customer", sf)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = _rows("supplier", sf)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = _rows("part", sf)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = _rows("orders", sf)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _day_ts(rng, no, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = _rows("lineitem", sf)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _day_ts(rng, nl, "1995-01-02", 2499),
        }
    )
    ne = _rows("events", sf)
    # distinct, sorted micros over 2024-01-01 .. 2024-01-31
    span = 30 * 86_400 * 1_000_000
    micros = np.sort(rng.choice(span, ne, replace=False))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, nc // 10), ne).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = _rows("documents", sf)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    nv = max(_rows("embeddings", sf), 500)
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=1.5, size=(nv, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )
    return t


def ensure_dataset(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return the dir.

    A ``_DONE`` marker makes the write all-or-nothing across runs."""
    d = os.path.join(root, f"sf{sf:g}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    os.makedirs(d, exist_ok=True)
    for name, df in make_tables(sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    open(os.path.join(d, "_DONE"), "w").close()
    return d
