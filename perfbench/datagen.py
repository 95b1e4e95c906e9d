"""Seeded synthetic source tables for the benchmark.

Writes the ten source tables the engine's gates read (region nation
customer supplier part orders lineitem events documents embeddings), one
parquet file each, with the schemas, value ranges and near-duplicate
structure of the engine's TPC-H-like test data. Row counts scale with
``sf`` the way that data does (lineitem = 6M x sf; documents and
embeddings never fall below 500 rows). The same seed and scale always
give byte-identical tables, so a benchmark run's inputs follow from its
seed alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.40, 0.15, 0.15, 0.15)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMB_DIM = 64
#: share of documents that are a copy of another document plus " dup"
DUP_SHARE = 0.05

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def row_counts(sf: float) -> dict[str, int]:
    n = lambda base: max(int(round(base * sf)), 1)  # noqa: E731
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(n(50_000), 500), "embeddings": max(n(20_000), 500),
    }


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)).cast(pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, size=n).astype("timedelta64[D]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    n_dup = int(n * DUP_SHARE)
    perm = rng.permutation(n)
    for dst, src in zip(perm[:n_dup], perm[n_dup:2 * n_dup]):
        texts[dst] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{k % 20}" for k in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(x.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gap_us = 30 * 86_400 * 1_000_000 / n
    ts = np.cumsum(rng.exponential(gap_us, size=n)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def build_tables(sf: float, seed: int,
                 tables: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The requested tables as Arrow tables. Each table draws from its own
    generator seeded by (seed, table index), so asking for a subset yields
    the same rows as generating everything."""
    cnt = row_counts(sf)
    out: dict[str, pa.Table] = {}
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        n = cnt[name]
        keys = pa.array(np.arange(n, dtype=np.int64))
        if name == "region":
            t = pa.table({"r_regionkey": pa.array(range(5), type=pa.int32()),
                          "r_name": pa.array(REGIONS)})
        elif name == "nation":
            t = pa.table({
                "n_nationkey": pa.array(range(25), type=pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
            })
        elif name == "customer":
            t = pa.table({
                "c_custkey": keys, "c_name": _names("Customer", n),
                "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
                "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
                "c_mktsegment": _choice(rng, SEGMENTS, n),
            })
        elif name == "supplier":
            t = pa.table({
                "s_suppkey": keys, "s_name": _names("Supplier", n),
                "s_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
                "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
            })
        elif name == "part":
            adj = rng.integers(0, len(PART_ADJ), size=n)
            noun = rng.integers(0, len(PART_NOUN), size=n)
            t = pa.table({
                "p_partkey": keys,
                "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                                    for a, b in zip(adj, noun)]),
                "p_brand": pa.array([f"Brand#{k}" for k in
                                     rng.integers(1, 26, size=n)]),
                "p_type": _choice(rng, PART_TYPES, n),
                "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)),
            })
        elif name == "orders":
            t = pa.table({
                "o_orderkey": keys,
                "o_custkey": pa.array(rng.integers(0, cnt["customer"], size=n,
                                                   dtype=np.int64)),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), n),
                "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n)),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n),
                "o_orderpriority": _choice(rng, PRIORITIES, n),
            })
        elif name == "lineitem":
            t = pa.table({
                "l_orderkey": pa.array(rng.integers(0, cnt["orders"], size=n,
                                                    dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, cnt["part"], size=n,
                                                   dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, cnt["supplier"], size=n,
                                                   dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n)),
                "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
                "l_returnflag": _choice(rng, ("A", "N", "R"), n),
                "l_linestatus": _choice(rng, ("F", "O"), n),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n),
            })
        elif name == "events":
            t = _events(rng, n, max(cnt["customer"] // 10, 1))
        elif name == "documents":
            t = _documents(rng, n)
        else:
            t = _embeddings(rng, n)
        out[name] = t
    return out


def write_tables(out_dir: str, sf: float, seed: int,
                 tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns name → rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in build_tables(sf, seed, tables).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = t.num_rows
    return rows
