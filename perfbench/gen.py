"""Seeded input generator for the benchmark.

Builds the engine's table set (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) with the schemas and
value domains of the reference test data, at a chosen scale factor, as
one parquet file per table. The same seed gives byte-identical inputs.
Workbooks for the xlsx workload are cut from these tables.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
_EVENTS = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "es", "de", "zh"]
_VOCAB = (
    "join filter window row sort merge scan hash table value part key agg "
    "query line data column group order spark batch stream small big fast "
    "slow customer vector the a"
).split()

_EPOCH = datetime(1970, 1, 1)


def _micros(d: datetime) -> int:
    return int((d - _EPOCH) / timedelta(microseconds=1))


def _days(rng, n: int, lo: datetime, hi: datetime) -> np.ndarray:
    """Midnight timestamps (µs since epoch) uniform over [lo, hi]."""
    span = (hi - lo).days
    return _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def make_tables(sf: float, seed: int, only=TABLES) -> dict[str, pa.Table]:
    """The tables named in ``only`` at scale factor ``sf`` (orders =
    1.5M × sf rows). Each table draws from its own seeded stream, so a
    subset holds the same rows as the full set."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def region(rng):
        return {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}

    def nation(rng):
        return {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }

    def customer(rng):
        return {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }

    def supplier(rng):
        return {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }

    def part(rng):
        adj, noun = rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part)
        return {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }

    def orders(rng):
        return {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _ts(_days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1))),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }

    def lineitem(rng):
        return {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, n_line, 900, 105_000),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
            "l_shipdate": _ts(_days(rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4))),
        }

    def events(rng):
        ev_off = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
        return {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(_micros(datetime(2024, 1, 1)) + ev_off),
            "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
            "event_type": rng.choice(_EVENTS, n_ev).tolist(),
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }

    def documents(rng):
        texts: list[str] = []
        for i in range(n_doc):
            if i >= 10 and rng.random() < 0.1:
                # Near-duplicate of an earlier document, one word swapped,
                # so the dedup and containment ops have matches to find.
                words = texts[int(rng.integers(0, i))].split()
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
            else:
                words = rng.choice(_VOCAB, int(rng.integers(8, 100))).tolist()
            texts.append(" ".join(words))
        return {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }

    def embeddings(rng):
        emb = rng.normal(size=(n_emb, 64)).astype("float32")
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        return {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }

    build = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    return {
        t: pa.table(build[t](np.random.default_rng(streams[t]))) for t in only
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout the catalog reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def rows_of(t: pa.Table) -> list[tuple]:
    """Python row tuples (timestamps as naive datetimes)."""
    cols = [c.to_pylist() for c in t.columns]
    return list(zip(*cols))
