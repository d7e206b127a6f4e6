"""Streaming query ops (SURVEY.md §2.9) over the replayed events stream.

Oracle strategy: availableNow + complete-mode (or stateless append)
makes the final streaming state equal the batch answer, so most ops get
exact DuckDB oracles. Even `stream_watermark` is exact here: its replay
is ts-range-ordered, so nothing drops and the emitted set is precisely
the windows below the final watermark — a batch-expressible predicate
(see its docstring). Only `stream_sink` stays rows-only (a write op,
verified by read-back).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from xlsx_to_database_spark.operators.txn_table import TxnTable
from xlsx_to_database_spark.queries import stage
from xlsx_to_database_spark.registry import query
from xlsx_to_database_spark.streaming.engine import (
    _stage_dir,
    _state_sized_shuffle,
    events_raw_schema,
    events_stream,
    run_foreach_batch_parquet,
    run_to_memory,
    with_event_time,
)


@query(
    "stream_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour event counts/sums per type. Epoch-aligned tumbling
    windows == date_trunc('hour') buckets, so batch SQL is the oracle."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n_events", "total_value"
    )


@query(
    "stream_sliding",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k.shift * INTERVAL '15 minutes'
             AS window_start,
           count(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS shift) k
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding every 15m: each event lands in 4 windows. The
    oracle replicates window membership with 4 shifted 15-minute
    buckets."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_to_memory(agg, "complete")
    return out.select(F.col("window.start").alias("window_start"), "n_events")


@query(
    "stream_session",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30m gap) per user. Oracle is the classic
    gaps-and-islands rewrite; session_window.end = last event + gap."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


def _ordered_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events into 3 ts-range-ordered files replayed as 3 ordered
    micro-batches (shared by stream_watermark and stream_txn_sink).

    repartitionByRange assigns part-0000N ascending ts ranges; an
    explicit utime pass then makes that also the mtime order, because
    FileStreamSource replays oldest-mtime-first, NOT path order — the
    parallel write commits part files in task-finish order, and a split
    whose latest ts range landed the oldest mtime would replay FIRST,
    advancing the watermark past the earlier ranges so their rows drop
    as late (observed as a silently-shrunken result; caught by the
    exact oracle). The split is staged :func:`stage.once`, so it only
    appears once the utime pass is done: a build cut short between
    Spark's commit and the last utime leaves nothing to reuse. The
    source (size, mtime) pair is embedded in the name so regenerated
    testdata can never be read through a stale split (size alone could
    collide)."""
    src_dir = _stage_dir(sf_dir, 1)
    src_path = os.path.join(sf_dir, "events.parquet")

    def build(split_dir: str) -> None:
        spark.read.schema(events_raw_schema(sf_dir)).parquet(
            src_dir
        ).repartitionByRange(3, "ts").write.parquet(split_dir)
        parts = sorted(
            f for f in os.listdir(split_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        base = int(os.path.getmtime(os.path.join(split_dir, parts[0])))
        for i, f in enumerate(parts):
            os.utime(os.path.join(split_dir, f), (base + i * 10, base + i * 10))

    name = f"events_wm3_{os.path.getsize(src_path)}_{int(os.path.getmtime(src_path))}"
    return stage.once(sf_dir, name, build)


@query(
    "stream_watermark",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL '1 hour' AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events
    FROM events, wm
    WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= w
    GROUP BY 1, 2
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lateness tumbling aggregate: 1h watermark, append mode,
    multi-batch replay (3 file splits) so the watermark actually
    advances between batches and closed windows get emitted.

    EXACT oracle (round-3 verdict #7): the replay is ordered —
    ``repartitionByRange(3, "ts")`` writes disjoint ascending ts ranges
    and the staged part files get explicitly pinned ascending mtimes so
    FileStreamSource (which replays oldest-mtime-first, NOT path order)
    processes them in ts order — so no row ever arrives below the
    watermark and nothing is dropped. availableNow
    finishes with a no-data batch that advances the watermark to
    max(ts) - 1h, emitting every window with ``window.end <= watermark``;
    the un-emitted tail (windows still above the final watermark) is
    exactly the SQL predicate in the oracle. Emission below a final
    watermark thus IS batch-expressible for ordered replays — only
    disordered replays (rows genuinely dropped) stay rows-only."""
    split_dir = _ordered_split_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(events_raw_schema(sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    ev = with_event_time(raw, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n_events"
    )


@query(
    "stream_dedup",
    """
    SELECT DISTINCT event_id, user_id, event_type, value
    FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id over a stream that replays
    the events twice (real duplicates). dropDuplicates keeps the first
    arrival; since duplicates are byte-identical the result equals
    batch DISTINCT exactly. At scale, dropDuplicatesWithinWatermark
    bounds the state store — semantics identical while dups arrive
    within the lateness bound."""
    ev = events_stream(spark, sf_dir, copies=2)
    deduped = ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return run_to_memory(deduped, "append")


@query(
    "stream_dedup_watermark",
    """
    SELECT DISTINCT event_id, user_id, event_type, value
    FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the bounded-state dedup for
    infinite streams: dedup state older than the watermark delay is
    evicted, so the state store size tracks the lateness bound instead
    of the stream's lifetime. With a delay covering the replayed data's
    full span, no state is evicted and the result equals batch DISTINCT
    exactly; in production the delay is the dup-arrival SLA (e.g. 24h of
    at-least-once redelivery), keeping state ~constant at 100 TB/day."""
    ev = events_stream(spark, sf_dir, copies=2)
    deduped = (
        ev.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return run_to_memory(deduped, "append")


@query(
    "stream_stateful",
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           max(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-user aggregate via applyInPandasWithState:
    state = (count, sum, max_ts) updated per batch. With one input file
    (single batch) the emitted update equals the batch aggregate."""
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("total", DoubleType()),
            StructField("last_us", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        cnt, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
            batch_max = pdf["ts"].max()
            last_us = max(last_us, int(batch_max.value // 1000))
        state.update((cnt, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [round(total, 2)],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    ev = events_stream(spark, sf_dir)
    result = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return run_to_memory(result, "update")


@query(
    "stream_static_join",
    """
    SELECT e.event_id, e.event_type, m.category, e.value
    FROM events e
    JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
                 ('purchase', 'revenue'), ('signup', 'growth'),
                 ('error', 'ops')) m(event_type, category)
      ON e.event_type = m.event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich the stream with a static dimension (stream-static joins
    need no state: the static side is broadcast per micro-batch)."""
    static = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    ev = events_stream(spark, sf_dir)
    joined = ev.join(F.broadcast(static), "event_type").select(
        "event_id", "event_type", "category", "value"
    )
    return run_to_memory(joined, "append")


@query("stream_sink")  # rows-only: a write operation, verified by reading back
def stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch parquet sink with checkpointing; returns the
    read-back rows (count must equal the source). The sink writes one
    overwritable batch_id=N subdir per micro-batch (idempotent on
    retry); partition discovery surfaces batch_id on read-back, dropped
    here for a schema identical to the source projection."""
    out_dir = stage.fresh(sf_dir, "stream_sink")
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    run_foreach_batch_parquet(ev, out_dir)
    return spark.read.parquet(out_dir).drop("batch_id")


# `transformWithStateInPandas` (the Spark 4 arbitrary-state API) lives in
# examples/tws_stateful.py, OUTSIDE the registry: its state protocol needs
# the google.protobuf runtime, absent here with no honest vendoring path,
# so the op can never produce a driver/mirror signal in this sandbox and
# is not counted as a registered op (round-4 verdict #4; SURVEY §2.12
# carries the SKIPPED note). `stream_stateful` above verifies the same
# stateful-aggregate semantics through applyInPandasWithState.


@query(
    "stream_stream_join",
    """
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: every purchase matched to the same
    user's clicks in the preceding 30 minutes. Both sides carry
    watermarks and the join has a two-sided time-range condition — the
    combination that lets Spark evict matched state instead of holding
    both streams forever (the unbounded-state trap of naive
    stream-stream joins; SCALE.md §2.9). availableNow drains everything
    in one pass, so the result equals the batch self-join oracle."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        on=[
            purchases.p_user == clicks.c_user,
            clicks.click_ts >= purchases.purchase_ts - F.expr("INTERVAL 30 minutes"),
            clicks.click_ts <= purchases.purchase_ts,
        ],
        how="inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
    )
    return run_to_memory(joined, "append")


@query(
    "stream_foreach_batch",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total
    FROM events
    WHERE value > 50
    GROUP BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink with an EXACT content oracle (stream_sink's
    rows-only sibling): filtered event rows drain through the
    idempotent batch_id-subdir parquet sink, and the read-back aggregate
    must equal the batch query on the source — proving the sink neither
    drops nor duplicates rows across micro-batch boundaries. The
    aggregate runs on the READ-BACK side (after the stream), so any
    exactly-once violation changes counts and fails the hash. Decimal
    value sums keep the total engine-exact under any batching."""
    out_dir = stage.fresh(sf_dir, "stream_foreach_batch")
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("value") > 50)
        .select("event_type", "value")
    )
    run_foreach_batch_parquet(ev, out_dir)
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total"),
    )


@query(
    "stream_txn_sink",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS total
    FROM events GROUP BY event_type
    """,
)
def stream_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion INTO the transaction-logged table format:
    each micro-batch of the 3-way ordered replay commits as one
    idempotent version (``append_once`` keyed on the batch id — a
    replayed batch is a no-op, Delta's txn-appId device), so the stream
    lands as an atomic, versioned, time-travelable table instead of a
    bag of files. The read-back aggregate over the FINAL table must
    equal the batch query on the source — any dropped batch, duplicated
    retry, or torn commit changes the hash. Exactly-once here is
    end-to-end: source replay (checkpointed offsets) × idempotent
    transactional sink."""
    split_dir = _ordered_split_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(events_raw_schema(sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    ev = with_event_time(raw, sf_dir).select("event_id", "event_type", "value")
    root = stage.fresh(sf_dir, "stream_txn_sink")
    tt = TxnTable(spark, root, "event_id")
    ckpt = f"/tmp/spark_stream_ckpt/{uuid.uuid4().hex}"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not tt.versions():
            tt.create(batch_df)
        else:
            tt.append_once(batch_df, f"events-batch-{batch_id}")

    q = (
        ev.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return tt.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total"),
    )


@query(
    "stream_restart_resume",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS total,
           2 AS n_commits,
           0 AS empty_restart_commits
    FROM events
    GROUP BY 1
    """,
)
def stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-restart continuity as an oracled query — the
    production redeploy path the availableNow drains never cross. The
    events table is split in half by event_id parity; the SAME stateful
    update-mode pipeline (per-bucket count/sum, foreachBatch MERGE into
    a TxnTable) is started THREE times against one durable checkpoint:

    1. half A staged → drain (create + first merge commit),
    2. half B staged → RESTART from the checkpoint → drain,
    3. no new data    → restart again → must commit NOTHING.

    The read-back must hash-match the batch aggregate over ALL events:
    lost state undercounts every phase-1 bucket (update mode re-emits
    the restored total, not the phase-2 delta), a re-read of half A
    double-counts, and a replayed merge on the empty restart bumps the
    version counter. n_commits (2: phase-1 create + phase-2 merge —
    each availableNow file-source drain plans its staged file as one
    micro-batch) and empty_restart_commits (0) pin the txn-log shape.

    Scale: restart cost is O(state + new files) — offsets and state
    live in the checkpoint, never rescanned from the source; the MERGE
    sink prunes to files overlapping the 10-bucket key range."""
    base = stage.fresh(sf_dir, "restart_resume")
    src, ckpt, root = f"{base}/src", f"{base}/ckpt", f"{base}/table"
    os.makedirs(src)

    raw_schema = events_raw_schema(sf_dir)
    raw = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")

    def stage_half(parity: int, name: str) -> None:
        tmp_out = f"{base}/stage_{name}"
        raw.filter(F.col("event_id") % 2 == parity).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp_out)

        (part,) = glob.glob(f"{tmp_out}/part-*.parquet")
        shutil.move(part, f"{src}/{name}.parquet")
        shutil.rmtree(tmp_out, ignore_errors=True)

    tt = TxnTable(spark, root, "bucket")

    def drain() -> None:
        # Rebuilt from scratch each phase — state, source offsets, and
        # any uncommitted batch come only from ``ckpt``, like a redeploy.
        stream_raw = spark.readStream.schema(raw_schema).parquet(src)
        agg = (
            with_event_time(stream_raw, sf_dir)
            .groupBy((F.col("user_id") % 10).cast("long").alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    ),
                    4,
                ).alias("total"),
            )
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            if not tt.versions():
                tt.create(batch_df)
            else:
                tt.merge(batch_df, "bucket")

        with _state_sized_shuffle(spark):
            q = (
                agg.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    stage_half(0, "a")
    drain()
    stage_half(1, "b")
    drain()
    commits = tt.latest_version() + 1
    drain()  # empty restart
    empty_commits = tt.latest_version() + 1 - commits
    return (
        tt.read()
        .select("bucket", "n", "total")
        .withColumn("n_commits", F.lit(commits).cast("int"))
        .withColumn(
            "empty_restart_commits", F.lit(empty_commits).cast("int")
        )
    )
