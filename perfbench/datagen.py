"""Seeded generator for the benchmark's input tables.

Writes the ten tables the queries read (``io.sources.TABLES``) as parquet,
with the schemas, row counts per scale factor and value vocabularies of the
TPC-H-style fixtures the test suite uses (``FIXTURES.md``). Every column is
drawn from ``numpy.random.default_rng(seed)``, so one seed always gives the
same tables and another seed gives tables of the same shape and size.

A benchmark seed picks one of ``INPUT_SETS`` input sets (``input_set``),
so that the expected results of every seed are recorded in
``expected.json``.
"""

from __future__ import annotations

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
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05
N_LABELS = 10

#: distinct input sets; seeds equal modulo this number give the same tables
INPUT_SETS = 32

_DAY_US = 86_400_000_000
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_START = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
_EVENT_START = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int,
          p: tuple[float, ...] | None = None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: np.datetime64, rng: np.random.Generator, span: int,
          n: int) -> pa.Array:
    ts = start + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(round(150_000 * sf))
    n_supp = int(round(10_000 * sf))
    n_part = int(round(200_000 * sf))
    n_ord = int(round(1_500_000 * sf))
    n_line = int(round(6_000_000 * sf))
    n_evt = int(round(1_000_000 * sf))
    n_user = max(int(round(15_000 * sf)), 1)
    n_doc = max(500, int(round(50_000 * sf)))
    n_vec = max(500, int(round(20_000 * sf)))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = tuple(f"{a} {b}" for a in PART_ADJ for b in PART_NOUN)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, tuple(f"Brand#{i}" for i in range(1, 26)), n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(_ORDER_START, rng, _ORDER_DAYS, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(_SHIP_START, rng, _SHIP_DAYS, n_line),
    })
    ts = _EVENT_START + np.sort(rng.integers(0, _EVENT_SPAN_US, n_evt)).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    n_words = rng.integers(10, 101, n_doc)
    word_idx = rng.integers(0, len(WORDS), int(n_words.sum()))
    docs, pos = [], 0
    for k in n_words:
        docs.append(list(word_idx[pos:pos + k]))
        pos += k
    # near-duplicates, so that the dedup, LSH and similarity queries find
    # pairs: each is an earlier document with a few words replaced
    for i in np.flatnonzero(rng.random(n_doc) < NEAR_DUP_SHARE):
        if i == 0:
            continue
        words = list(docs[rng.integers(0, i)])
        for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
            words[j] = rng.integers(0, len(WORDS))
        docs[i] = words
    texts = [" ".join(WORDS[w] for w in d) for d in docs]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    centroids = rng.standard_normal((N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vec)
    vecs = 1.2 * centroids[labels] + rng.standard_normal((n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def input_set(seed: int) -> int:
    """The input set a benchmark seed runs on."""
    return seed % INPUT_SETS


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
