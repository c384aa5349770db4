"""Seeded input generation for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
with pyarrow, so one seed always gives byte-identical parquet. The shapes
follow the repository's TPC-H-like test tables (same columns, types,
value domains and key relations), which the registered queries and their
DuckDB oracles are written against. The corpus and event distributions
(document length, vocabulary, near-duplicate share, unclustered unit
embeddings, events per user, marker shares) are fitted to the test
tables at sf0.1; README.md compares the two.

Sizes scale with ``sf``: lineitem has 6,000,000 * sf rows, as in TPC-H.
The corpus tables (documents, embeddings) keep a floor of 500 rows so
the ANN, dedup and classifier queries always have a corpus to fit on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "small", "large", "hot", "old", "dark"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
WORDS = (
    "a the data spark table column row value key join group agg filter "
    "sort merge hash scan window stream batch vector query order line "
    "part customer small big fast slow"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_table(rng, n: int, n_users: int) -> pa.Table:
    """Events over 30 days with strictly increasing timestamps, so
    (user, ts) identifies a row."""
    ts = (
        EPOCH_2024
        + np.sort(rng.integers(0, 30 * DAY_US - n, n, dtype=np.int64))
        + np.arange(n, dtype=np.int64)
    )
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # 5% of the corpus are near-duplicates: a copy of another document
    # with one extra token, the shape the dedup queries look for
    dup = rng.choice(n, max(1, n // 20), replace=False)
    for i in dup:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def make_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables for scale ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(
            EPOCH_1995
            + (order_day[l_order] + rng.integers(1, 122, n_line)) * DAY_US
        ),
    })
    pq.write_table(
        events_table(rng, max(1_000, int(1_000_000 * sf)),
                     max(15, int(15_000 * sf))),
        os.path.join(out_dir, "events.parquet"),
    )
    _write(out_dir, "documents", _documents(rng, max(500, int(50_000 * sf))))
    _write(out_dir, "embeddings", _embeddings(rng, max(500, int(20_000 * sf))))
    return out_dir


def make_event_files(
    out_dir: str, seed: int, files: int, rows_per_file: int, users: int
) -> tuple[str, pa.Table]:
    """Split one seeded event table into ``files`` time-ordered parquet
    files with pinned, increasing mtimes: the file source reads oldest
    first, so micro-batch order is event-time order. Returns the file
    directory and the whole table (the batch reference)."""
    rng = np.random.default_rng(seed)
    table = events_table(rng, files * rows_per_file, users)
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    for i in range(files):
        dest = os.path.join(files_dir, f"{i:04d}.parquet")
        pq.write_table(table.slice(i * rows_per_file, rows_per_file), dest)
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
    return files_dir, table
