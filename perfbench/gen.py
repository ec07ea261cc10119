"""Seeded input tables for the benchmark.

Writes the ten tables the registered queries read (`sources.TABLES`) as
parquet files with the schemas and value ranges of the repository's
sf0.01 fixtures: a TPC-H-like star schema, a 30-day `events` stream,
a 31-word `documents` corpus with 5% near-duplicates at fixed
positions (a third of them copies of the `src0` benchmark corpus, so
decontamination has hits), and 64-d unit `embeddings`. Row counts and
the near-duplicate graph are the same for every seed; the same seed
gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_DOCS, N_VECS, N_USERS, DIM = 10000, 500, 500, 150, 64

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("widget", "plate", "ring", "rod", "gizmo", "gear", "bolt", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")

_US = pa.timestamp("us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span + 1, n).astype("timedelta64[D]"), _US)


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng) -> pa.Table:
    # In every block of 20 docs, doc 0 belongs to the src0 benchmark
    # corpus and doc 10 is a near-duplicate (the text plus " dup") of
    # doc 0 in every third block, else of doc 7. The near-duplicate graph
    # is the same for every seed, so the dedup family does the same work.
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 20 == 10:
            texts.append(texts[i - 10 if (i // 20) % 3 == 0 else i - 3] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]))
    sources = [f"src{int(rng.integers(1, 20))}" for _ in range(N_DOCS)]
    for i in range(0, N_DOCS, 20):
        sources[i] = "src0"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng) -> pa.Table:
    step = 30 * 86400 * 1_000_000 // N_EVENTS  # µs between events
    us = np.arange(N_EVENTS) * step + rng.integers(0, step, N_EVENTS)
    ts = np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, _US),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def _lineitem(rng) -> pa.Table:
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    return pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("O", "F"), n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    )


def generate(out_dir: str, seed: int) -> int:
    """Write every table under `out_dir`; returns the bytes written."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
                "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (N_PART, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 21, N_PART)]),
                "p_type": _pick(rng, PART_TYPES, N_PART),
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": pa.array(900 + (np.arange(N_PART) % 1000) / 10),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
                "o_orderstatus": _pick(rng, ("P", "O", "F"), N_ORDERS),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, N_ORDERS)),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
                "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
            }
        ),
        "lineitem": _lineitem(rng),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
