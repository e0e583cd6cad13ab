"""Deterministic benchmark inputs shaped like the engine's testdata.

Writes the ten tables the query registry and the window pipeline read
(``region nation customer supplier part orders lineitem events
documents embeddings``) as single parquet files, with the column names,
physical types and value ranges of the standard ``sfX`` test points:
uniform keys, TPC-H-like domains, 30 days of events, bag-of-words
documents with ~5 % near-duplicates, and unit-norm 64-d embeddings in
ten labelled clusters. Row counts scale linearly with ``sf`` (sf0.1 is
600k lineitem rows and 100k events); ``region`` and ``nation`` are fixed.

The data depends only on ``sf`` (the data seed is fixed). The benchmark's own
``--seed`` never reaches this module: it picks which days and which
query order a run uses, so every seed reads the same tables.

``ensure`` builds a point once and reuses it; the sf1 point used by the
``batch_backfill`` workload is derived from sf0.1 with the repository's
own ``tools/make_benchdata.generate`` (10 key-offset replicas).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DATA_SEED = 42
EVENT_EPOCH = datetime(2024, 1, 1)
EVENT_DAYS = 30

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(base: str, offsets: np.ndarray, unit: str) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets.astype(f"timedelta64[{unit}]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return texts


def generate(out_dir: str, sf: float) -> None:
    """Write every table of scale point ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord), "D"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line), "D"),
    })
    # events ordered by time, so event_id order is arrival order
    evt_us = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts("2024-01-01", evt_us, "us"),
        "user_id": rng.integers(0, int(15_000 * sf), n_evt),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(np.minimum(rng.exponential(60.0, n_evt), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def ensure(data_root: str, sf: float) -> str:
    """Return the directory of scale point ``sf`` under ``data_root``,
    building it on first use. A point is built in a scratch directory and
    renamed into place, so an interrupted build never leaves a partial
    point behind."""
    out = os.path.join(data_root, f"sf{sf:g}")
    if os.path.isfile(os.path.join(out, "events.parquet")):
        return out
    tmp = f"{out}.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    if sf >= 1:
        from tools.make_benchdata import generate as replicate

        replicate(ensure(data_root, sf / 10), tmp, 10)
    else:
        generate(tmp, sf)
    os.rename(tmp, out)
    return out
