"""Seeded TPC-H-shaped parquet tables for the operator workload.

``generate(out_dir, seed, rows)`` writes the ten tables the registry queries
read (``region nation customer supplier part orders lineitem events
documents embeddings``), with the column names, parquet types and value
domains of the test data the queries are written for. ``rows`` is the
lineitem row count; the other fact tables keep that data's ratios to it
(orders 1/4, customer
1/40, part 1/30, supplier 1/600, events 1/6, documents and embeddings
1/120). Documents draw from the same 30-word vocabulary, and about one in
twenty is a near-copy of an earlier one (one word swapped for ``dup``), so
the dedup and similarity queries find pairs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "shiny", "green")
PART_NOUN = ("ring", "plate", "widget", "rod", "bolt", "gear", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _dates(rng, n, start: dt.datetime, days: int, whole_days: bool) -> np.ndarray:
    base = np.datetime64(start, "us")
    if whole_days:
        offs = rng.integers(0, days, n).astype("timedelta64[D]")
    else:
        offs = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + offs


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, rows: int) -> None:
    """Write the tables under ``out_dir``; a finished directory is reused."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, rows])
    n_orders, n_cust = rows // 4, rows // 40
    n_part, n_supp = rows // 30, max(10, rows // 600)
    n_events, n_docs = rows // 6, max(50, rows // 120)
    ids = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    ints = lambda a: pa.array(a, pa.int32())  # noqa: E731
    pick = lambda vals, n: pa.array([vals[j] for j in rng.integers(0, len(vals), n)])  # noqa: E731

    tables = {
        "region": pa.table({"r_regionkey": ints(np.arange(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": ints(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": ints(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids(n_cust),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": ints(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pick(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids(n_supp),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": ints(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids(n_part),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
                "p_type": pick(PART_TYPES, n_part),
                "p_size": ints(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + rng.integers(0, 1100, n_part) * 1.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids(n_orders),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": pick(("F", "O", "P"), n_orders),
                "o_totalprice": _money(rng, 900, 450_000, n_orders),
                "o_orderdate": _dates(rng, n_orders, dt.datetime(1995, 1, 1), 2404, True),
                "o_orderpriority": pick(PRIORITIES, n_orders),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, rows), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, rows), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
                "l_linenumber": ints(rng.integers(1, 8, rows)),
                "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, rows),
                "l_discount": np.round(rng.integers(0, 11, rows) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, rows) / 100, 2),
                "l_returnflag": pick(("A", "N", "R"), rows),
                "l_linestatus": pick(("F", "O"), rows),
                "l_shipdate": _dates(rng, rows, dt.datetime(1995, 1, 2), 2450, True),
            }
        ),
        "events": pa.table(
            {
                "event_id": ids(n_events),
                "ts": np.sort(_dates(rng, n_events, dt.datetime(2024, 1, 1), 30, False)),
                "user_id": pa.array(rng.integers(0, max(10, n_events // 66), n_events), pa.int64()),
                "event_type": pick(EVENT_TYPES, n_events),
                "value": _money(rng, 0.01, 490.02, n_events),
                "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
