"""User-facing engine facade — the reference tool's surface, Spark-backed.

The reference class of tools is a CLI/library that loads xlsx workbooks
into database tables (SURVEY.md §0, §3.1). This module is the drop-in
shaped API:

    from xlsx_to_database_spark.api import Engine

    eng = Engine()                       # or Engine(spark=my_session)
    t = eng.load_xlsx("book.xlsx", sheet="Sales")
    t.to_jdbc("jdbc:postgresql://db/x", table="sales", mode="create")
    t.to_parquet("/lake/sales", partition_by=["year"])
    t.df.filter(...)                     # full DataFrame API underneath

The facade sits on the engine's real parts (xlsx data source, sinks,
txn table) and adds the naming/mode vocabulary. It does one thing of
its own: ``load_xlsx`` plans the xlsx scan on the driver
(``sources.xlsx.planned_scan``), running the data source's
``schema()``, ``partitions()`` and ``read()`` without the two Python
planner round trips a ``spark.read.format("xlsx")`` load makes. Both
paths return the same schema and rows (tests/test_xlsx_paths.py).
"""

from __future__ import annotations

import os
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from xlsx_to_database_spark.sources import sinks
from xlsx_to_database_spark.sources.xlsx import planned_scan, register_xlsx_source


def default_table_name(path: str, sheet: Optional[str] = None) -> str:
    """filename[_sheet] → sanitized SQL table name (reference behavior:
    target table named from file/sheet)."""
    from xlsx_to_database_spark.sources.infer import sanitize_identifier

    stem = os.path.splitext(os.path.basename(path))[0]
    name = stem if not sheet or sheet in ("*", "") else f"{stem}_{sheet}"
    return sanitize_identifier(re.sub(r"\s+", "_", name))


class LoadedTable:
    """An xlsx sheet (or any DataFrame) plus its sink methods."""

    def __init__(self, df: DataFrame, name: str):
        self.df = df
        self.name = name

    def to_jdbc(
        self,
        url: str,
        table: Optional[str] = None,
        mode: str = "create",
        **options: str,
    ) -> None:
        sinks.to_database(self.df, url, table or self.name, mode=mode, **options)

    def to_parquet(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: Optional[list[str]] = None,
    ) -> None:
        sinks.to_parquet(self.df, path, mode=mode, partition_by=partition_by)

    def to_txn_table(
        self,
        path: str,
        key: Optional[str] = None,
        mode: str = "create",
    ) -> int:
        """Load into the transaction-logged table format
        (operators/txn_table.py): ``create`` starts a new table,
        ``append`` commits a new version onto an existing one —
        atomic, versioned, time-travelable, unlike a plain parquet
        write. ``key`` is the stats/clustering column (default: first
        column). Returns the committed version."""
        from xlsx_to_database_spark.operators.txn_table import TxnTable

        t = TxnTable(
            self.df.sparkSession, path, key or self.df.columns[0]
        )
        if mode == "create":
            return t.create(self.df)
        if mode == "append":
            return t.append(self.df)
        raise ValueError(f"txn table mode must be create|append, got {mode!r}")

    def to_view(self, name: Optional[str] = None) -> str:
        n = name or self.name
        self.df.createOrReplaceTempView(n)
        return n

    def count(self) -> int:
        return self.df.count()


class Engine:
    """Session owner + entry points. ``spark=None`` builds the tuned
    session from session.py (local dev); pass an existing session on a
    cluster."""

    def __init__(self, spark: Optional[SparkSession] = None, app_name: str = "xlsx_to_database"):
        if spark is None:
            from xlsx_to_database_spark.session import get_spark

            spark = get_spark(app_name)
        self.spark = spark
        register_xlsx_source(spark)

    def load_xlsx(
        self,
        path: str,
        sheet: Optional[str] = None,
        header: bool = True,
        sanitize: bool = True,
        schema: Optional[str] = None,
    ) -> LoadedTable:
        """Read one worksheet (or ``sheet="*"`` for all visible sheets,
        unioned by position under the first sheet's schema).

        ``schema`` is an optional DDL string overriding inference
        (SURVEY.md §1.3 declared-schema path).
        """
        options = {"path": path, "header": str(header).lower(), "sanitize": str(sanitize).lower()}
        if sheet:
            options["sheet"] = sheet
        declared = StructType.fromDDL(schema) if schema else None
        return LoadedTable(
            planned_scan(self.spark, options, declared), default_table_name(path, sheet)
        )

    def load_table(self, df: DataFrame, name: str) -> LoadedTable:
        """Wrap any DataFrame with the sink surface."""
        return LoadedTable(df, name)

    def sql(self, text: str) -> DataFrame:
        return self.spark.sql(text)
