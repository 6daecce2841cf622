"""Seeded synthetic fixture tables for the benchmark.

The benchmark reads nothing outside its checkout, so it generates the
TPC-H-style star schema plus the ``events``, ``documents`` and
``embeddings`` tables that the engine's queries read, with the column
names, types and value domains those queries expect. The same
``(seed, sf)`` always gives byte-identical tables, and each table draws
from its own seeded stream, so asking for a subset changes nothing.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
              "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(np.int64))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(15, int(150_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, min(2000, int(50_000 * sf))),
        "users": max(10, int(15_000 * sf)),
    }


def _part_prices(n_part: int) -> np.ndarray:
    return np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)


def _table(name: str, rng, n: dict[str, int]) -> pd.DataFrame:
    if name == "region":
        return pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                             "r_name": REGIONS})
    if name == "nation":
        return pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    if name == "customer":
        k = n["customer"]
        return pd.DataFrame({
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng, k, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, k)})
    if name == "supplier":
        k = n["supplier"]
        return pd.DataFrame({
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng, k, -999.99, 9999.99)})
    if name == "part":
        k = n["part"]
        return pd.DataFrame({
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS, k),
                                                 rng.choice(PART_WORDS, k))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
            "p_type": rng.choice(PART_TYPES, k),
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": _part_prices(k)})
    if name == "orders":
        k = n["orders"]
        return pd.DataFrame({
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], k),
            "o_totalprice": _money(rng, k, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, k)})
    if name == "lineitem":
        k = n["lineitem"]
        qty = rng.integers(1, 51, k).astype(np.float64)
        partkey = rng.integers(0, n["part"], k).astype(np.int64)
        return pd.DataFrame({
            "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * _part_prices(n["part"])[partkey]
                * rng.uniform(0.5, 2.5, k), 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], k),
            "l_linestatus": rng.choice(["F", "O"], k),
            "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04")})
    if name == "events":
        k = n["events"]
        gaps = rng.integers(1, int(30 * 86400e6 / k) * 2, k)
        return pd.DataFrame({
            "event_id": np.arange(k, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us")
                   + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n["users"], k).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": _money(rng, k, 0.01, 500.0),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    if name == "documents":
        k = n["documents"]
        words = np.array(DOC_WORDS)
        texts = [" ".join(words[rng.integers(0, len(words), m)])
                 for m in rng.integers(10, 100, k)]
        return pd.DataFrame({
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, k),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    if name == "embeddings":
        k = n["embeddings"]
        labels = rng.integers(0, 10, k)
        centers = rng.normal(size=(10, EMBED_DIM))
        vecs = centers[labels] + rng.normal(scale=1.5, size=(k, EMBED_DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pd.DataFrame({
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32)})
    raise KeyError(name)


def make_tables(seed: int, sf: float,
                names: tuple[str, ...] = TABLES) -> dict[str, pd.DataFrame]:
    """The named fixture tables at scale ``sf``."""
    n = _sizes(sf)
    return {name: _table(name, np.random.default_rng([seed, TABLES.index(name)]), n)
            for name in names}


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-row-group parquet file per table, as the fixtures
    the engine's tests read are laid out."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, len(df)))
