"""Seeded inputs for the benchmark: base tables and op lists.

Everything here is a pure function of the seed. The base tables follow the
shape and value ranges of the engine's sf0.1 test tables (TESTDATA.md and
FIXTURES.md): the same schemas, row counts and domains, drawn from
``numpy.random.default_rng(seed)``. The engine only ever sees the parquet
files and op lists written here.

No Spark is imported: the generator runs before the session starts, and the
benchmark's tests run it on its own.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 test tables.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "hot", "new", "small", "large", "old", "green"]
_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "screw"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _choice(values: list[str], idx: np.ndarray) -> pa.Array:
    """``values[idx]`` as a plain string column, built in Arrow."""
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _keys(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def base_tables(seed: int, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """The named base tables for ``seed``. Each table draws from its own
    stream derived from (seed, table), so asking for a subset yields the
    same rows as asking for all of them."""
    out = {}
    for name in names:
        rng = np.random.default_rng([seed, sorted(ROWS).index(name)])
        out[name] = _TABLES[name](rng, ROWS[name])
    return out


def _region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(n), pa.int32()), "r_name": _REGIONS[:n]})


def _nation(rng, n):
    return pa.table(
        {
            "n_nationkey": pa.array(range(n), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n)],
            "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32()),
        }
    )


def _customer(rng, n):
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": _keys("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _choice(_SEGMENTS, rng.integers(0, 5, n)),
        }
    )


def _supplier(rng, n):
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": _keys("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng, n):
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    keys = np.arange(n)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _choice(names, rng.integers(0, len(names), n)),
            "p_brand": _choice([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n)),
            "p_type": _choice(_PTYPES, rng.integers(0, len(_PTYPES), n)),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )


def _orders(rng, n):
    n_cust, n_days = ROWS["customer"], 2405
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": _choice(["F", "O", "P"], rng.integers(0, 3, n)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, n_days, n) * _DAY_US),
            "o_orderpriority": _choice(_PRIORITIES, rng.integers(0, 5, n)),
        }
    )


def _lineitem(rng, n):
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _choice(["A", "N", "R"], rng.integers(0, 3, n)),
            "l_linestatus": _choice(["F", "O"], rng.integers(0, 2, n)),
            "l_shipdate": _ts(_EPOCH_1995 + np.timedelta64(1, "D"), rng.integers(0, 2499, n) * _DAY_US),
        }
    )


def _events(rng, n):
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(_EPOCH_2024, offsets),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": _choice(_EVENT_TYPES, rng.integers(0, 5, n)),
            "value": np.round(np.minimum(rng.exponential(60.0, n), 560.0), 2),
            "props": _choice([f'{{"k": {k}}}' for k in range(100)], rng.integers(0, 100, n)),
        }
    )


def _documents(rng, n):
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        # one doc in twenty is a near-duplicate of an earlier one: a few
        # words replaced, then a trailing marker, as in the test corpus
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()[:100]
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = _choice(_LANGS, rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n):
    vecs = (rng.standard_normal((n, 64)) * 0.15).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


_TABLES = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    """One single-row-group parquet file per table, ``<name>.parquet``,
    the layout the query registry and the DuckDB oracles read."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"), row_group_size=1 << 20)


def cycles(rng: np.random.Generator, kinds: list, n_cycles: int) -> list[tuple[int, object]]:
    """``n_cycles`` seeded permutations of ``kinds``, concatenated, as
    (cycle, kind): every kind runs once per cycle, so the op mix is the
    same for every seed and only the order changes."""
    return [(c, kinds[i]) for c in range(n_cycles) for i in rng.permutation(len(kinds))]
