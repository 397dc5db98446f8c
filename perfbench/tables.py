"""Seeded tables for the headline queries.

The queries of ``bench.py``'s HEADLINE suite read seven parquet tables
(``lineitem orders customer nation documents events embeddings``).
This module writes them, with the column names and types the queries
expect, from a scale factor and a seed alone, so the benchmark never
reads data from outside its own checkout.  Row counts scale like the
TPC-H-ish fixtures (6M lineitem rows per unit of scale); embeddings and
users have the fixture sizes of scale 0.1 at every scale.

``expected_q10_rows`` recomputes q10's answer (users with two events
within five minutes) from the written table with numpy, as an output
check that does not go through Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "customer", "nation", "documents", "events", "embeddings")
WORDS = (
    "a the data spark query table row column key value hash join sort merge "
    "group filter scan batch stream window order line part customer vector "
    "fast slow big small agg index node edge graph page text token word"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EMBEDDING_DIM = 64
N_VECTORS = 2000
N_LABELS = 10
N_USERS = 1500


def _ts(days_from: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))


def _write(out_dir: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the seven tables under ``out_dir``; return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_line = max(int(6_000_000 * scale), 600)
    n_orders = max(n_line // 4, 150)
    n_cust = max(n_orders // 10, 25)
    n_docs = max(int(50_000 * scale), 100)
    n_events = max(int(1_000_000 * scale), 1000)
    n_vec = max(int(N_VECTORS * min(scale / 0.1, 1.0)), 100)

    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    # every nation gets customers, every customer orders (q04 has 25 rows)
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(np.arange(n_cust) % 25, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": np.arange(n_orders, dtype="int64") % n_cust,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2500, n_orders) * 86400.0),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, max(n_line // 30, 1), n_line),
        "l_suppkey": rng.integers(0, max(n_line // 600, 1), n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * 86400.0),
    })

    # documents: 12-90 words from a small vocabulary; one in 50 copies an
    # earlier document, so exact dedup and shared n-grams find groups
    lengths = rng.integers(12, 91, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lengths]
    copies = np.flatnonzero(rng.random(n_docs) < 0.02)
    for i in copies[copies > 0]:
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts("2024-01-01", rng.uniform(0, 30 * 86400, n_events)),
        "user_id": rng.integers(0, N_USERS, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    emb = rng.standard_normal((n_vec, EMBEDDING_DIM)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBEDDING_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n_vec), pa.int32()),
    })
    return {
        "lineitem": n_line, "orders": n_orders, "customer": n_cust, "nation": 25,
        "documents": n_docs, "events": n_events, "embeddings": n_vec,
    }


def read_column(out_dir: str, table: str, column: str) -> np.ndarray:
    return pq.read_table(os.path.join(out_dir, f"{table}.parquet"),
                         columns=[column]).column(0).to_numpy()


def expected_q10_rows(out_dir: str) -> int:
    """Users with at least one pair of events at most 5 minutes apart."""
    users = read_column(out_dir, "events", "user_id").astype("int64")
    micros = read_column(out_dir, "events", "ts").astype("datetime64[us]").astype("int64")
    micros -= micros.min()
    key = np.sort(users * (1 << 42) + micros)
    first_in_window = np.searchsorted(key, key - 300_000_000, side="left")
    has_pair = np.arange(len(key)) > first_in_window
    return int(np.unique(key[has_pair] >> 42).size)
