"""Seeded input generator for the benchmark.

Writes the ten tables of the engine's fixture layout (``<dir>/<table>.parquet``,
one file per table, the schemas of FIXTURES.md) from a seed alone, so a run
reads nothing outside its own working directory.  The value distributions
follow the reference fixtures: a TPC-H-like star schema, a month of
timestamped events, a 31-word synthetic corpus with planted near-duplicates,
and random unit embeddings.  The seed changes the rows, their order, the
parquet row-group split, event-time jitter and which documents carry a
planted duplicate.

Two invariants keep every benchmarked query exact against its DuckDB oracle:
order prices are distinct (no ties inside ``topk``), and near-duplicates are
planted only on documents of at least 60 words, so their word-trigram
Jaccard is above 0.98 and MinHash banding (r=4, b=4) misses one with
probability below 2e-5.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("cold", "small", "large", "shiny", "red", "heavy")
PART_NOUN = ("widget", "bolt", "gear", "panel", "valve")
PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM")

DAY_MS = 86_400_000
ORDER_EPOCH_DAYS = 9131  # 1995-01-01
ORDER_SPAN_DAYS = 2404  # through 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENT_SPAN_US = 30 * DAY_MS * 1000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated input set."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    event_users: int
    documents: int
    embeddings: int


SCALES = {
    # The row counts of the sf0.01 reference fixtures.  Ten times smaller
    # than sf0.1, so that a run of every workload fits the benchmark's time
    # budget with more than one pass measured (README.md).
    "bench": Scale(1500, 100, 2000, 15_000, 60_000, 10_000, 150, 500, 500),
    # sf0.001-sized, for the smoke test.
    "tiny": Scale(150, 10, 200, 1500, 6000, 1000, 15, 200, 200),
}


def _write(out_dir: str, name: str, table: pa.Table, rng: np.random.Generator) -> None:
    # the seed shuffles row order and picks the row-group split
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    row_group = int(rng.integers(max(1, table.num_rows // 4), table.num_rows + 1))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=row_group)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ms_dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = ORDER_EPOCH_DAYS + rng.integers(0, ORDER_SPAN_DAYS, n)
    return pa.array(days.astype("int64") * DAY_MS, pa.timestamp("ms"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, size=int(k))) for k in lengths]
    long_docs = np.flatnonzero(lengths >= 60)
    n_dups = min(len(long_docs) // 2, max(1, n // 20))
    chosen = rng.choice(long_docs, size=2 * n_dups, replace=False)
    for src, dst in zip(chosen[:n_dups], chosen[n_dups:]):
        texts[dst] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _build(name: str, s: Scale, rng: np.random.Generator) -> pa.Table:
    if name == "region":
        return pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
                "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
                "c_acctbal": _money(rng, s.customers, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, size=s.customers).tolist(),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
                "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
                "s_acctbal": _money(rng, s.suppliers, -999.99, 9999.99),
            }
        )
    if name == "part":
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(s.parts), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 6, s.parts), rng.integers(0, 5, s.parts))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
                "p_type": rng.choice(PART_TYPES, size=s.parts).tolist(),
                "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 2),
            }
        )
    if name == "orders":
        # distinct cents, so per-customer top-k never ties
        cents = 100_000 + rng.choice(49_900_000, size=s.orders, replace=False)
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
                "o_orderstatus": rng.choice(("F", "O", "P"), size=s.orders).tolist(),
                "o_totalprice": cents / 100.0,
                "o_orderdate": _ms_dates(rng, s.orders),
                "o_orderpriority": rng.choice(PRIORITIES, size=s.orders).tolist(),
            }
        )
    if name == "lineitem":
        n = s.lineitems
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, s.parts, n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, s.suppliers, n), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype("float64"),
                "l_extendedprice": _money(rng, n, 900.0, 100_000.0),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.choice(("A", "N", "R"), size=n).tolist(),
                "l_linestatus": rng.choice(("F", "O"), size=n).tolist(),
                "l_shipdate": _ms_dates(rng, n),
            }
        )
    if name == "events":
        return events_table(rng, s.events, s.event_users)
    if name == "documents":
        return _documents(rng, s.documents)
    emb = rng.standard_normal((s.embeddings, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, scale: str = "bench", tables=TABLES) -> str:
    """Write ``tables`` under ``out_dir``; return the SHA-256 of the files.
    Each table draws from its own seeded stream, so any subset is
    byte-identical to the same tables of the full set."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        _write(out_dir, name, _build(name, SCALES[scale], rng), rng)
    return inputs_hash(out_dir, tables)


def events_table(rng: np.random.Generator, n: int, users: int, first_id: int = 0) -> pa.Table:
    """``n`` events spread over a month, in the fixture's ``events`` schema
    (``ts`` as TIMESTAMP(NANOS), like the reference fixtures)."""
    ts_us = np.sort(EVENT_EPOCH_US + rng.integers(0, EVENT_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(first_id + np.arange(n), pa.int64()),
            "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, size=n).tolist(),
            "value": _money(rng, n, 0.01, 490.0),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def inputs_hash(out_dir: str, tables=TABLES) -> str:
    h = hashlib.sha256()
    for name in tables:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()
