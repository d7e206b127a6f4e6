"""SparkSession construction and per-session tuning.

Scale posture (SURVEY.md §6): at bench scale (sf0.1) fixed overheads
dominate, so we keep shuffle partitions low locally; at 100 TB the same
code runs with cluster-sized ``spark.sql.shuffle.partitions`` — AQE
coalescing makes the static number a ceiling, not a commitment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Runtime-settable confs applied to *any* session we are handed (the
#: driver owns the session for smoke/correctness runs). Only confs that
#: Spark allows to change at runtime belong here.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics: DuckDB reads parquet TIMESTAMP
    # as naive/UTC; pin Spark to UTC so values and year()/date_trunc()
    # results hash-match the oracle.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Bench data is tiny (sf0.1); huge shuffle fan-out would be pure
    # overhead. On a real cluster this would be sized to data volume.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Arrow for any pandas interchange (UDF batches, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Allow our xlsx Python data source to receive pushed filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS), which Spark's reader rejects;
    # read as raw nanos-since-epoch longs and truncate to micros in the
    # catalog (matching DuckDB's ns→µs truncation on the oracle side).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Newer testdata stores ts as TIMESTAMP(MICROS) with isAdjustedToUTC
    # unset; Spark 4 infers that as TIMESTAMP_NTZ by default, which
    # unix_micros()/watermarks reject. Read it as plain TIMESTAMP — the
    # session timezone is pinned UTC above, so wall-clock values match
    # DuckDB's naive reading exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as INT64 micros, not deprecated INT96: INT96
    # columns carry no min/max statistics, which silently disables
    # footer-only file/row-group pruning on every timestamp predicate —
    # the whole point of clustered sinks.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


#: Confs in ``RUNTIME_CONFS`` that decide result values (timestamps, and
#: the types the catalog infers and memoises). A session that refuses
#: one would silently return different answers, so ``tune_session``
#: raises for these; every other conf is a performance knob and stays
#: best-effort.
VALUE_CONFS = frozenset({
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.outputTimestampType",
})


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (ours or one handed to us).

    Raises ``RuntimeError`` naming the conf when one of ``VALUE_CONFS``
    cannot be set."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # Some confs may be fixed by the session owner; never fail a
            # query over a tuning knob, never run with a wrong value.
            if key in VALUE_CONFS:
                raise RuntimeError(
                    f"cannot set {key}={value!r}, which decides result values"
                ) from exc
    return spark


#: The directory holding this package. Python workers import the engine
#: by name (the xlsx reader, the worker daemon), so it must be on their
#: path wherever the driver runs from.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "xlsx-to-database-spark") -> SparkSession:
    """Build (or reuse) a local session sized for this container.

    Two settings concern the Python workers. Their ``PYTHONPATH`` (the
    executor environment that ``spark.executorEnv.PYTHONPATH`` sets)
    gains ``PACKAGE_ROOT`` after any value already set, because the
    workers import the engine by name and would otherwise find it only
    when the JVM's working directory happens to be the checkout. It is
    added once the context exists, so a value given to spark-submit is
    kept; every Python function takes the environment when it is
    created. ``spark.python.daemon.module`` starts the workers from
    ``xlsx_to_database_spark.daemon``, which on CPython < 3.12 stops
    every task from re-reading the directories of the zip archives
    pyspark is imported from (see that module).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", RUNTIME_CONFS["spark.sql.shuffle.partitions"])
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "xlsx_to_database_spark.daemon")
    )
    spark = builder.getOrCreate()
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [PACKAGE_ROOT])
    return tune_session(spark)
