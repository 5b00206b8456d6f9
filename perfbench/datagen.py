"""Seeded synthesis of the ten fixture tables the registry queries read.

The benchmark runs where no fixture directory exists, so it builds its own
inputs from ``--seed``: the same seed and scale give byte-identical parquet.
Schemas, value domains and the shapes the operators depend on follow the
fixture set that TESTDATA.md describes:

- TPC-H-ish star schema (region, nation, customer, supplier, part, orders,
  lineitem) with uniform keys and the fixtures' categorical domains;
- ``events``: a month of time-sorted events, TIMESTAMP(MICROS) ``ts``;
- ``documents``: texts over a 31-word vocabulary, 10-100 tokens, where 5%
  of documents are an earlier document plus the token ``dup`` (the
  near-duplicate pairs the dedup family must find);
- ``embeddings``: random 64-d unit vectors, ids ``< 5`` serve as queries.

Row counts scale linearly with ``sf`` (sf=0.1 matches the fixture sizes).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "steel")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "screw", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": names,
    })


def _nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n)],
    })


def _supplier(rng, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, n: int) -> pa.Table:
    adj = np.asarray(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.asarray(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.asarray(PART_TYPES)[rng.integers(0, len(PART_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.asarray(("F", "O", "P"))[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995_US + days * _DAY_US),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    days = rng.integers(1, 2499, n)  # 1995-01-02 .. 2001-11-04
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.asarray(("A", "N", "R"))[rng.integers(0, 3, n)],
        "l_linestatus": np.asarray(("F", "O"))[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995_US + days * _DAY_US),
    })


def _events(rng, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)],
        # Whole tens: a window's per-timeframe mean price then has at most
        # two decimals, so no suggested_price lands exactly half-way at 6 dp,
        # where Spark's and DuckDB's round() disagree.
        "value": 10.0 * np.round(rng.exponential(50.0, n)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sf: float, docs_sf: float | None = None) -> dict[str, int]:
    """Write the ten tables for (seed, sf) into ``out_dir``; return row counts.

    ``docs_sf`` sizes ``documents`` separately (the corpus workload scales
    the corpus, not the star schema). Each table draws from its own
    seeded stream, so one table's size never shifts another's values.
    """
    docs_sf = sf if docs_sf is None else docs_sf
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * docs_sf), "embeddings": int(20_000 * sf),
    }
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    build = {
        "region": _region,
        "nation": _nation,
        "customer": lambda: _customer(rngs["customer"], n["customer"]),
        "supplier": lambda: _supplier(rngs["supplier"], n["supplier"]),
        "part": lambda: _part(rngs["part"], n["part"]),
        "orders": lambda: _orders(rngs["orders"], n["orders"], n["customer"]),
        "lineitem": lambda: _lineitem(
            rngs["lineitem"], n["lineitem"], n["orders"], n["part"], n["supplier"]
        ),
        "events": lambda: _events(rngs["events"], n["events"]),
        "documents": lambda: _documents(rngs["documents"], n["documents"]),
        "embeddings": lambda: _embeddings(rngs["embeddings"], n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        table = build[name]()
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
