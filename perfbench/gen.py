"""Deterministic synthetic base tables for the benchmark.

Writes the ten tables the engine reads (``io.TABLES``) as one parquet
file each, with the same column names, types and value domains as the
engine's standard testdata: a TPC-H-shaped star schema, an ``events``
click stream, a ``documents`` corpus over a small vocabulary (with
near-duplicates, so the dedup operators have work to do) and 64-dim
unit ``embeddings`` drawn around ten labelled centres.

The tables depend only on ``rows`` (lineitem row count; the other
tables scale with it as in TPC-H) and a fixed seed, so every run of
the benchmark reads identical base data; ``--seed`` varies op order
and maintenance batches, never the corpus.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = (["blue", "hot", "small", "old", "red", "new", "cold", "large"],
              ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"])
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]


def _days(rng, n, start: dt.date, span_days: int):
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, rows: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(DATA_SEED)
    n_orders = rows // 4
    n_cust, n_supp, n_part = rows // 40, max(10, rows // 600), rows // 30
    n_events, n_docs, n_emb = rows // 6, max(100, rows // 120), max(100, rows // 120)
    os.makedirs(out_dir, exist_ok=True)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    adj, noun = PART_WORDS
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(
            _days(rng, n_orders, dt.date(1995, 1, 1), 2404), pa.timestamp("us")
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    partkey = rng.integers(0, n_part, rows)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, rows), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.5, 2.1, rows), 2),
        "l_discount": np.round(rng.integers(0, 11, rows) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, rows) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, rows)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, rows)],
        "l_shipdate": pa.array(
            _days(rng, rows, dt.date(1995, 1, 2), 2498), pa.timestamp("us")
        ),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(20, n_events // 66), n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_orders, "lineitem": rows,
        "events": n_events, "documents": n_docs, "embeddings": n_emb,
    }


def ensure(data_root: str, rows: int) -> tuple[str, dict[str, int]]:
    """Generate once per (rows, generator version) under ``data_root``
    and reuse afterwards; a half-written directory is never visible
    (staged, then renamed into place). The version is a hash of this
    file, so an edit to the generator never reuses old tables, nor the
    oracle results cached beside them."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(data_root, f"rows{rows}-{version}")
    marker = os.path.join(out, "_counts.txt")
    if not os.path.exists(marker):
        staged = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(staged, ignore_errors=True)
        counts = generate(staged, rows)
        with open(os.path.join(staged, "_counts.txt"), "w") as f:
            f.write("".join(f"{k} {v}\n" for k, v in counts.items()))
        shutil.rmtree(out, ignore_errors=True)
        os.rename(staged, out)
    with open(marker) as f:
        counts = {k: int(v) for k, v in (line.split() for line in f)}
    return out, counts
