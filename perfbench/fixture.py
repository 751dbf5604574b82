"""The benchmark's base tables, synthesised inside the checkout.

TPC-H-shaped ``region``, ``nation``, ``customer``, ``supplier``,
``part``, ``orders`` and ``lineitem`` at a scale factor ``sf``, with the
schema of the repository's test tiers (``FIXTURES.md``): surrogate keys
from 0, money and rates exact at two decimals, tz-naive microsecond
timestamps. Each order has 1-7 line items numbered from 1, so
``(l_orderkey, l_linenumber)`` is unique and every ordered query output
is fully determined.

The tables are a pure function of ``(sf, FIXTURE_SEED)``; ``--seed``
varies the operations, not the data, so runs of different seeds time
the same tables. Writing sf0.1 takes under a second, so each run writes
its own copy into its scratch directory, outside the timed set-up.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240601

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "red", "small", "old", "green"]
PART_NOUN = ["anvil", "gear", "rod", "widget", "bolt", "spring", "valve", "pin"]
WORDS = ("a the fast slow big small key order sort table scan merge part window "
         "hash join batch stream spark dup group query row data filter customer "
         "line value agg column vector").split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts in [lo, hi], exact at two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table, except ``lineitem`` (1-7 per order)."""
    k = round(sf * 1000)
    return {"region": 5, "nation": 25, "customer": 150 * k, "supplier": 10 * k,
            "part": 200 * k, "orders": 1500 * k, "documents": max(500, 50 * k)}


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([FIXTURE_SEED, round(sf * 1000)])
    n = row_counts(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), np_)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), np_)]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": (90000 + np.arange(np_) % 200 * 10) / 100.0,
    })
    no = n["orders"]
    order_day = rng.integers(0, _ORDER_DAYS, no)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": (np.arange(nl) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995 + (np.repeat(order_day, lines)
                                         + rng.integers(1, 122, nl)) * _DAY_US),
    })
    out["documents"] = _documents(rng, n["documents"])
    return out


def _documents(rng, nd: int) -> pa.Table:
    """Word-salad documents; one in ten is a copy of an earlier one with
    one word changed, so near-duplicate detection has work to do."""
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(20, 80))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(path: str, sf: float) -> str:
    """Write the tables at ``sf`` as ``<path>/<table>.parquet``."""
    os.makedirs(path, exist_ok=True)
    for table, t in tables(sf).items():
        pq.write_table(t, os.path.join(path, f"{table}.parquet"), compression="snappy")
    return path
