"""Deterministic synthetic tables for the benchmark.

Writes the ten tables ``arcadedb_spark.driver_queries`` reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the column names and types of
the engine's test fixtures.  The tables depend only on the scale factor
and the fixed ``DATA_SEED``: the benchmark's ``--seed`` picks keys,
endpoints and pass order, never the tables, so job counts and plan
shapes compare across seeds.

Row counts follow the fixture scale rule (lineitem = 6,000,000 x sf).
The text corpus plants near-duplicate and exact-duplicate documents so the
dedup operators return non-empty results; every other near-duplicate
pair sits far below the 0.3 / 0.5 Jaccard thresholds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "hot", "new", "old", "blue", "big", "tiny"]
_PART_NOUN = ["ring", "widget", "gizmo", "rod", "anvil", "bolt", "gear", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "SMALL", "PROMO", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter big group stream vector index graph edge node plan cache shard "
    "page log"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_DAY_MS = 86_400_000


def _ts(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("int64") * 1000, type=pa.timestamp("us"))


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    words = np.array(_WORDS)
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # ~2% near duplicates (one word changed out of >=41: 3-shingle Jaccard
    # >= 0.85)
    # and ~1% exact duplicates up to case and whitespace
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 40]
    picks = rng.choice(long_ids, size=max(2, n // 33), replace=False)
    for j, src in enumerate(picks):
        dst = (int(src) + 1 + int(rng.integers(0, n - 1))) % n
        toks = texts[int(src)].split()
        if j % 3 == 2:
            texts[dst] = "  " + " ".join(toks).upper()
        else:
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = str(words[(list(words).index(toks[pos]) + 1) % len(words)])
            texts[dst] = " ".join(toks)
    return texts


def generate(path: str, sf: float) -> None:
    """Write every table for scale factor ``sf`` into directory ``path``."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_users = max(20, int(15_000 * sf))
    n_events = int(1_000_000 * sf)
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(20_000 * sf))

    _write(path, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(path, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(path, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(path, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    _write(path, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    base_ms = 788_918_400_000  # 1995-01-01
    _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(base_ms + rng.integers(0, 2400, n_ord) * _DAY_MS),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]
    _write(path, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(base_ms + rng.integers(0, 2500, n_line) * _DAY_MS),
    })
    ev_ms = np.sort(
        1_704_067_200_000 + rng.integers(0, 30 * _DAY_MS, n_events)
    )  # January 2024, event_id in time order
    _write(path, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ev_ms),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    _write(path, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 4, n_vecs)
    centers = rng.normal(0, 1, (4, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(path, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
