"""Seeded synthetic inputs for the benchmark.

Writes the ten-table schema the query registry reads (``region`` ...
``embeddings``, one parquet file each) with the same column names,
types and value domains as the repository's fixture data, so every
registry query and its DuckDB oracle run unchanged on it. Everything is
drawn from one ``numpy.random.Generator`` seeded by the caller: the
same seed and scale give byte-identical tables.

Row counts follow the fixture sizing (sf=0.01 gives 60,000 lineitem
rows). Documents are word chains over a small vocabulary, and about one
in twenty is a near-duplicate of an earlier one (its text plus
``" dup"``), which is what the dedup operators look for.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe",
             "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the big small fast slow row column table key value part "
         "group order line customer query data scan filter join agg "
         "sort hash merge window stream batch spark vector").split()
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _days_ts(rng, n, start: dt.datetime, days: int) -> pa.Array:
    base = _us(start)
    us = base + rng.integers(0, days, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _prices(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = out[int(rng.integers(0, i))]
            out.append(src + " dup")
            continue
        k = int(rng.integers(10, 100))
        out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


def events_table(rng, n_ev: int, days: int = 30) -> pa.Table:
    """``n_ev`` events in event-time order over ``days`` days of 2024."""
    ev_us = np.sort(_us(dt.datetime(2024, 1, 1))
                    + rng.integers(0, days * 86_400_000_000, n_ev))
    return pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table for ``seed`` at scale ``sf``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = max(int(6_000_000 * sf), 800)
    n_ev = max(int(1_000_000 * sf), 200)
    n_doc = max(int(50_000 * sf), 100)
    n_emb = max(min(int(50_000 * sf), 2000), 100)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _prices(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i]
                         for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _prices(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i]
                          for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _prices(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_ts(rng, n_ord, dt.datetime(1995, 1, 1), 2400),
        "o_orderpriority": [PRIORITIES[i]
                            for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i]
                         for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days_ts(rng, n_line, dt.datetime(1995, 1, 2), 2500)})
    t["events"] = events_table(rng, n_ev)
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table for ``seed``/``sf`` under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
