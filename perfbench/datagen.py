"""Seeded inputs for the benchmark.

Writes the ten catalog tables (the schemas of ``incubator_beam_spark.catalog``
and FIXTURES.md) and the stream backlog as parquet. Every value comes from
``numpy.random.default_rng(seed)``, so the same seed writes the same bytes'
worth of rows; the library only ever sees the files.

Sizes follow the fixture scale factors: at sf 0.01 lineitem has 60,000 rows,
orders 15,000, documents 500 and events 10,000.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "old", "small", "large", "green", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "widget", "nut", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the data query table row column key value join hash sort merge scan "
    "filter group agg window stream batch spark vector line part order "
    "customer big small fast slow"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US = pa.timestamp("us")


def _epoch_us(year: int, month: int, day: int) -> int:
    return int((dt.datetime(year, month, day) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(rng: np.random.Generator, start: tuple[int, int, int], days: int, n: int) -> pa.Array:
    us = _epoch_us(*start) + rng.integers(0, days, n) * 86_400_000_000
    return pa.array(us, type=pa.int64()).cast(_US)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents over a 31-word vocabulary. Every 20th document
    (5%) is the document ten places earlier with one word appended, so the
    dedup gates find near-duplicate pairs; the pairs never chain, so the
    number of connected-component rounds does not depend on the seed."""
    texts: list[str] = []
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[i - 10] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), lengths[i])]))
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables for scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 15)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 500)

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
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(rng, (1995, 1, 1), 2400, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(rng, (1995, 1, 2), 2500, n_line),
    })
    # events: one month of exponentially spaced arrivals, in event-id order
    gaps = rng.exponential(1.0, n_evt)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 - 1)
    ts_us = _epoch_us(2024, 1, 1) + (offs * 1_000_000).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts_us, pa.int64()).cast(_US),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_doc, "embeddings": n_emb,
    }


def write_bids(out_dir: str, seed: int, n_events: int, n_files: int) -> list[str]:
    """Write a NEXMark-style bid backlog as ``n_files`` parquet files.

    File k holds the k-th slice of a 48-hour bid stream in arrival order,
    so a stream that reads one file per trigger sees event time advance
    batch by batch. Modification times are pinned ascending: the file
    source orders files by mtime, and a fresh write's mtimes can tie.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    bid_id = np.arange(n_events, dtype=np.int64)
    start = _epoch_us(2024, 1, 1)
    ts_us = start + np.sort(rng.integers(0, 48 * 3_600_000_000, n_events))
    auction = rng.integers(0, 100, n_events)
    bidder = rng.integers(0, 100, n_events)
    price = rng.integers(0, 10_000, n_events)
    paths = []
    for k, part in enumerate(np.array_split(np.arange(n_events), n_files)):
        path = os.path.join(out_dir, f"bids-{k:04d}.parquet")
        pq.write_table(pa.table({
            "bid_id": bid_id[part],
            "ts": pa.array(ts_us[part], pa.int64()).cast(_US),
            "auction": auction[part],
            "bidder": bidder[part],
            "price": price[part],
        }), path)
        t = start // 1_000_000 + k
        os.utime(path, (t, t))
        paths.append(path)
    return paths
