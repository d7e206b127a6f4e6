"""Correctness helpers: row digests by the repo's canonical hash, and
DuckDB over the generated tables.

``value_hash`` is the order-independent hash of ``tools/check_correctness.py``,
the local mirror of the comparator the registry's oracles are attested
against, loaded from the checkout so the gate follows that hash.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from perfbench.gen import TABLES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "check_correctness", os.path.join(_ROOT, "tools", "check_correctness.py")
)
_mirror = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mirror)
value_hash = _mirror.value_hash


def spark_digest(df) -> tuple[int, str]:
    """(row count, value hash) of a Spark DataFrame."""
    rows = [tuple(r) for r in df.collect()]
    return len(rows), value_hash(rows, df.columns)


def duck_digest(con, sql: str) -> tuple[int, str]:
    """(row count, value hash) of a DuckDB query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return len(rows), value_hash(rows, cols)


def duck_over(data_dir: str) -> "duckdb.DuckDBPyConnection":
    """In-memory DuckDB with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
