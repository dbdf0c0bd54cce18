"""Seeded input tables for the benchmark.

The engine reads ten parquet tables (a TPC-H-like star schema plus the
``events`` stream, ``documents`` and ``embeddings``). This module writes
them from a seed with the schemas, row counts, key cardinalities and
value ranges of the engine's sf0.01 test tables (the comparison is in
``NOTES.md``), so every run of a workload sees inputs that depend only
on ``--seed``:

  * events: 10k points over January 2024 (uniform arrivals, five
    event types, 150 users, exponential values, ``{"k": n}`` props);
  * orders 15k / lineitem 60k / customer 1.5k / part 2k / supplier 100;
  * documents: 500 texts of 10-99 tokens over a 30-word vocabulary,
    5% of them near duplicates of another (one token appended);
  * embeddings: 500 unit vectors of 64 dims around 10 label centroids.

Timestamps are ``timestamp[us]``, as in the test tables.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: bump when the generated tables change, so cached copies are rebuilt
VERSION = 2

JAN1_MS = 1704067200000
DAY_MS = 86_400_000
N_DAYS = 30

N_EVENTS = 10_000
N_USERS = 150
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_DOCS = 500
N_VECS = 500
DIM = 64

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "large", "red", "blue", "hot", "old", "cold", "new")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
VOCAB = (
    "a the data query spark table column row key value hash join merge "
    "sort scan filter group agg window stream batch vector line part "
    "order customer big small fast slow"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _write(out: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, out / f"{name}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def events_table(rng: np.random.Generator) -> pa.Table:
    span_us = N_DAYS * DAY_MS * 1000
    ts = np.sort(rng.choice(span_us, N_EVENTS, replace=False))
    ts = np.datetime64(JAN1_MS * 1000, "us") + ts.astype("timedelta64[us]")
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]
    value = np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01)
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents_table(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n))])
        for n in rng.integers(10, 100, N_DOCS)
    ]
    # near duplicates, as in the test tables: 5% of the docs are another
    # doc's text with " dup" appended (no exact copies)
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.05):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    centroids = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, N_VECS).astype(np.int32)
    v = 0.15 * centroids[label] + rng.normal(0, 1, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write_tables(out: Path, seed: int) -> None:
    """Write all ten tables for ``seed`` into ``out`` (created)."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    }))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array([
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(N_PART) % 1000) / 10.0),
    }))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": pa.array(_days_us(rng, "1995-01-01", 2405, N_ORDERS), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    }))
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINEITEM)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": pa.array(_days_us(rng, "1995-01-02", 2499, N_LINEITEM), pa.timestamp("us")),
    }))
    _write(out, "events", events_table(rng))
    _write(out, "documents", documents_table(rng))
    _write(out, "embeddings", embeddings_table(rng))
    (out / "_DONE").write_text(f"{VERSION}\n")


def ensure_tables(cache: Path, seed: int) -> Path:
    """The cached table set for ``seed``, generated on first use."""
    out = cache / f"v{VERSION}_seed{seed}"
    if not (out / "_DONE").exists():
        tmp = cache / f".tmp_v{VERSION}_seed{seed}"
        if tmp.exists():
            import shutil

            shutil.rmtree(tmp)
        write_tables(tmp, seed)
        if out.exists():
            import shutil

            shutil.rmtree(out)
        tmp.rename(out)
    return out
