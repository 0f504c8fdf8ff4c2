"""Seeded synthetic inputs for the benchmark workloads.

Every table the registered queries read (the TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) is generated here with the
schemas and value domains of the repository's parquet fixtures, at a size
set by ``lineitem_rows``.  The same seed always yields byte-identical
inputs; nothing is read from outside the benchmark's working directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = int(pd.Timestamp("1995-01-01").value // 1000)
_EPOCH_2024 = int(pd.Timestamp("2024-01-01").value // 1000)


@dataclass(frozen=True)
class StarSizes:
    lineitem_rows: int = 60_000
    documents: int = 500
    embeddings: int = 500
    embedding_dim: int = 64

    @property
    def orders(self) -> int:
        return max(self.lineitem_rows // 4, 50)

    @property
    def customers(self) -> int:
        return max(self.lineitem_rows // 40, 20)

    @property
    def parts(self) -> int:
        return max(self.lineitem_rows // 30, 20)

    @property
    def suppliers(self) -> int:
        return 100

    @property
    def events(self) -> int:
        return max(self.lineitem_rows // 6, 200)

    @property
    def users(self) -> int:
        return max(self.lineitem_rows // 400, 10)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents with ~5% near-duplicates of earlier ones
    (a few words swapped and a ``dup`` marker), so the dedup and
    near-dup operators have real clusters to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 30)):
                words[int(j)] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            words.append("dup")
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    """Unit vectors scattered around ten labelled centroids."""
    centroids = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype=np.int32), flat),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def write_star_schema(out_dir: str, seed: int, sizes: StarSizes = StarSizes()) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns the
    row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = sizes.customers
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), pa.string()),
    })
    ns = sizes.suppliers
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    npart = sizes.parts
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(npart)], pa.string()
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1), pa.float64()),
    })
    no = sizes.orders
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no), pa.float64()),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, no) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no), pa.string()),
    })
    nl = sizes.lineitem_rows
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
    })
    ne = sizes.events
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, sizes.users, ne), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, ne) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    tables["documents"] = _documents(rng, sizes.documents)
    tables["embeddings"] = _embeddings(rng, sizes.embeddings, sizes.embedding_dim)
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


# ---- micro-batches for the write workloads ---------------------------------

EVENT_BATCH_DDL = (
    "event_id bigint, user_id bigint, amount_cents bigint, event_type string, ts timestamp"
)


def event_batch(rng: np.random.Generator, first_id: int, rows: int) -> pd.DataFrame:
    """One writer micro-batch: ``rows`` events with ids from ``first_id``."""
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + rows, dtype=np.int64),
        "user_id": rng.integers(0, 10_000, rows).astype(np.int64),
        "amount_cents": rng.integers(1, 100_000, rows).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, rows),
        "ts": pd.to_datetime(_EPOCH_2024 + first_id * 1_000_000 + np.arange(rows) * 1000, unit="us"),
    })


def event_checksum(batch: pd.DataFrame) -> int:
    """Content checksum of an event batch; :func:`event_checksum_sql` is
    the same sum computed by Spark over a table."""
    per_row = (
        batch["event_id"].to_numpy() * 1_000_003
        + batch["user_id"].to_numpy() * 8191
        + batch["amount_cents"].to_numpy()
        + batch["event_type"].str.len().to_numpy() * 131
    ) % 2_147_483_647
    return int(per_row.sum())


event_checksum_sql = (
    "sum(pmod(event_id * 1000003 + user_id * 8191 + amount_cents"
    " + length(event_type) * 131, 2147483647))"
)
