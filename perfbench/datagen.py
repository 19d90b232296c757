"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten catalog tables (``redmap_spark.catalog.TABLES``)
as one parquet file each, with the column names, types and value domains
of the engine's TPC-H-style test schema, so every inventory entry and its
DuckDB oracle run on them unchanged. ``write_corpus`` writes a document
corpus for the training-data pipeline, with a fixed share of exact
duplicates, short and repetitive documents for the quality gates to drop,
and PII for the redaction stage.

Both are pure numpy/pyarrow: the same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)

_US_PER_DAY = 86_400_000_000


def _ts(start: str, us_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + us_offsets.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path, compression="snappy")


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write region … embeddings at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_docs, n_users = int(1_000_000 * sf), int(50_000 * sf), max(int(15_000 * sf), 10)
    p = os.path.join

    _write({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)},
           p(out_dir, "region.parquet"))
    _write({"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
           p(out_dir, "nation.parquet"))
    _write({"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]},
           p(out_dir, "customer.parquet"))
    _write({"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           p(out_dir, "supplier.parquet"))
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write({"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
           p(out_dir, "part.parquet"))
    _write({"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _US_PER_DAY),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]},
           p(out_dir, "orders.parquet"))

    lines = np.clip(rng.binomial(13, 0.3, n_ord), 1, 13)
    n_li = int(lines.sum())
    _write({"l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
                             ).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * _US_PER_DAY)},
           p(out_dir, "lineitem.parquet"))

    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write({"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts("2024-01-01", ev_us),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           p(out_dir, "events.parquet"))

    _write(_documents(rng, n_docs, dup_share=0.02, noisy_share=0.0),
           p(out_dir, "documents.parquet"))

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_docs)
    vec = centers[labels] + rng.normal(0, 0.8, (n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write({"vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32)},
           p(out_dir, "embeddings.parquet"))


def _documents(rng: np.random.Generator, n: int, dup_share: float, noisy_share: float) -> dict:
    """``n`` documents of 10–99 vocabulary words; ``dup_share`` of them are
    exact copies of earlier ones, and ``noisy_share`` are too short, highly
    repetitive, or carry an email / IP address."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 100, n)]
    noisy = np.flatnonzero(rng.random(n) < noisy_share)
    for i, kind in zip(noisy, rng.integers(0, 3, len(noisy))):
        if kind == 0:
            texts[i] = " ".join(vocab[rng.integers(0, len(vocab), 5)])
        elif kind == 1:
            texts[i] = "the spark " * int(rng.integers(10, 40)) + texts[i]
        else:
            texts[i] = f"{texts[i]} mail user{i}@example.com from 10.0.{i % 250}.{i % 200} a the"
    dups = np.flatnonzero(rng.random(n) < dup_share)
    for i in dups[dups > 0]:
        texts[i] = texts[int(rng.integers(0, i))]
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def write_corpus(path: str, n_docs: int, seed: int, dup_share: float = 0.1,
                 noisy_share: float = 0.1) -> None:
    """Write the corpus_write input: ``n_docs`` documents as one parquet file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(_documents(np.random.default_rng(seed), n_docs, dup_share, noisy_share), path)
