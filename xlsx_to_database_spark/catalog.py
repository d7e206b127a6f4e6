"""Testdata catalog: load the driver-generated parquet tables.

Tables (SURVEY.md §1.4): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scans stay fully declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown + column pruning for free; at 100 TB these would be
partitioned/bucketed parquet directories and the same code holds.

Schema memo. An inferring ``spark.read.parquet`` runs a Spark job to
merge the file footers on every call, which at bench scale costs more
than many of the queries that follow it. ``table()`` therefore infers a
file's schema once and pins it on later reads
(``spark.read.schema(s).parquet``), which start no job. The memo holds
the ``StructType``, never the DataFrame: two ``table()`` calls must
return independent plans, or a self-join would see the same attribute
ids on both sides. The key is the path, the file's identity and version
(``st_ino``, ``st_mtime_ns``, ``st_size``; for a directory, those of
every file under it) and the two session confs that change the types
inference gives (``nanosAsLong`` and ``inferTimestampNTZ.enabled``,
both pinned by ``session.tune_session``). A rewritten file or a flipped
conf misses the memo and is inferred afresh; a path that cannot be
stat'ed locally (a remote URI) is inferred on every call. One entry is
kept per path, so the memo is bounded by the number of tables read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor —
#: region/nation are bounded by geography (25 nations) even at 100 TB.
BROADCAST_DIMS = frozenset({"region", "nation"})


#: Session confs whose values change the schema parquet inference gives.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: path -> (version key, inferred schema); see the module docstring.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_version(path: str) -> tuple | None:
    """(ino, mtime_ns, size) of a file, or of every file under a
    directory; None when the path cannot be stat'ed locally."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        version = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                fst = os.stat(os.path.join(root, f))
                version.append((root, f, fst.st_ino, fst.st_mtime_ns, fst.st_size))
        return tuple(version)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """Read ``path`` with its memoised schema, inferring it on a miss."""
    version = _file_version(path)
    if version is None:
        df = spark.read.parquet(path)
        return df, df.schema
    key = (version, *(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    _SCHEMAS[path] = (key, schema)
    return df, schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (lazy columnar scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df, schema = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # ts is TIMESTAMP(NANOS) in the file, surfaced as nanos-long via
        # spark.sql.legacy.parquet.nanosAsLong (session.py). Truncate to
        # microseconds with integer division (ns longs ~1.7e18 overflow
        # double precision, so no float math here) — exactly DuckDB's
        # ns→µs truncation, keeping oracle timestamps value-identical.
        from pyspark.sql import functions as F

        if isinstance(schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(schema["ts"].dataType, TimestampNTZType):
            # Defensive mirror of spark.sql.parquet.inferTimestampNTZ
            # (session.py): a session that read the file before our confs
            # applied surfaces TIMESTAMP_NTZ; with the session tz pinned
            # UTC the cast is a pure type relabel, value-identical.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several tables at once: ``li, ord = tables(spark, d, 'lineitem', 'orders')``."""
    return tuple(table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql`` paths."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
