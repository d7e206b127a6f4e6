"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

These ops exist to prove the Python extension points work end to end —
row UDFs, Arrow-vectorized pandas UDFs, grouped pandas aggregates, and
Python UDTFs. The scale rule stands: UDFs are the slow path; everything
expressible with built-ins elsewhere in this engine uses built-ins.
Where Python is unavoidable, Arrow-batched pandas UDFs (10-100× the
row-at-a-time throughput) are the floor.
"""

from __future__ import annotations

# Module-level so pandas_udf can resolve the iterator UDF's type hints
# (postponed annotations are strings, looked up in module globals).
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf
from pyspark.sql.types import DoubleType, StringType

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.registry import query


@query(
    "udf_python",
    """
    SELECT c_custkey,
           lower(replace(c_name, 'Customer#', 'cust-')) AS norm_name
    FROM customer
    """,
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-scalar Python UDF (name normalizer), oracle-mirrored by the
    equivalent SQL expression. Deliberately trivial logic: the op under
    test is the Python-worker round trip itself."""

    @udf(returnType=StringType())
    def norm_name(name: str) -> str:
        return name.replace("Customer#", "cust-").lower() if name is not None else None

    c = table(spark, sf_dir, "customer")
    return c.select("c_custkey", norm_name("c_name").alias("norm_name"))


@query(
    "udf_pandas",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 6)
             AS l2_norm
    FROM embeddings
    """,
)
def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF: numpy L2 norm over embedding
    batches — the pattern for any numeric kernel the built-ins can't
    express (here they could; the op proves the vectorized path agrees
    with the expression path and the oracle)."""
    @pandas_udf(DoubleType())
    def l2_norm(vectors: pd.Series) -> pd.Series:
        return vectors.map(
            lambda v: round(float(np.sqrt(np.dot(np.asarray(v, dtype="float64"),
                                                 np.asarray(v, dtype="float64")))), 6)
        )

    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", l2_norm("embedding").alias("l2_norm"))


@query(
    "udaf_pandas",
    """
    SELECT c_mktsegment, round(gini, 6) AS gini FROM (
      SELECT c_mktsegment,
             CASE WHEN sum(o_totalprice) = 0 THEN 0.0 ELSE
               (2.0 * sum(rn * o_totalprice) / (count(*) * sum(o_totalprice))
                - (count(*) + 1.0) / count(*))
             END AS gini
      FROM (
        SELECT c.c_mktsegment, o.o_totalprice,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      )
      GROUP BY c_mktsegment
    )
    """,
)
def udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregate via applyInPandas: Gini coefficient of
    order values per market segment (the canonical 'not expressible as
    a single built-in aggregate' statistic — though the oracle shows
    the sorted-rank identity makes it SQL-able for verification)."""

    def gini(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # worker-side: imported where the UDF body runs

        x = pdf["o_totalprice"].sort_values().to_numpy()
        n = len(x)
        total = float(x.sum())
        g = 0.0 if total == 0 else (
            2.0 * float(np.arange(1, n + 1, dtype="float64") @ x) / (n * total) - (n + 1.0) / n
        )
        return pd.DataFrame({"c_mktsegment": [pdf["c_mktsegment"].iloc[0]], "gini": [round(g, 6)]})

    o, c = table(spark, sf_dir, "orders"), table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).select("c_mktsegment", "o_totalprice")
    return joined.groupBy("c_mktsegment").applyInPandas(gini, "c_mktsegment string, gini double")


@query(
    "udtf_python",
    """
    SELECT doc_id, chunk_id, chunk, length(chunk) AS chunk_len
    FROM (
      SELECT doc_id,
             unnest(generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) - 1))
               AS chunk_id,
             text
      FROM documents
    ) base
    CROSS JOIN LATERAL (
      SELECT array_to_string(string_split(text, ' ')[chunk_id * 8 + 1 : chunk_id * 8 + 8], ' ')
               AS chunk
    ) c
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: explode each document into fixed 8-token chunks with
    positions — the chunking primitive of RAG/pretraining pipelines."""

    @udtf(returnType="doc_id bigint, chunk_id bigint, chunk string, chunk_len int")
    class ChunkDoc:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), 8):
                chunk = " ".join(toks[i : i + 8])
                yield doc_id, i // 8, chunk, len(chunk)

    spark.udtf.register("chunk_doc", ChunkDoc)
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT c.* FROM docs_for_udtf, LATERAL chunk_doc(doc_id, text) c"
    )


@query(
    "udf_arrow",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    """,
)
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the zero-copy batch UDF surface: whole Arrow
    record batches cross the JVM↔Python boundary with no pandas
    conversion, the cheapest path when the kernel is already columnar
    (numpy/pyarrow.compute). The float math is IEEE-identical to the
    SQL expression, so the oracle is exact; the round happens JVM-side at 4dp —
    the product's exact decimal precision, where rounding is tie-free."""
    def net(batches):
        for b in batches:
            price = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), price],
                ["l_orderkey", "l_linenumber", "net_raw"],
            )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    out = li.mapInArrow(net, "l_orderkey long, l_linenumber int, net_raw double")
    return out.select(
        "l_orderkey", "l_linenumber", F.round(F.col("net_raw"), 4).alias("net_price")
    )


@query(
    "udf_cogrouped",
    """
    WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ), p AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
               round(sum(value), 2) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(p.purchase_value, 0.0) AS purchase_value
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)
def udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas (`groupBy().cogroup().applyInPandas`): both
    sides of a key arrive as aligned pandas frames per group — the API
    for per-key custom merges (as-of logic, per-entity reconciliation)
    that a join can't express row-wise. Arrow moves each co-group once;
    the kernel here is a vectorized count/sum merge whose result is
    provably the full-outer-join aggregate the oracle computes. Scale:
    cogroup shuffles both sides on the key — same cost as the join it
    generalizes."""
    # Two SEPARATE reads on purpose: when both cogroup sides share one
    # scan, their columns carry identical expression ids and Spark's
    # column pruner drops the right side's non-key columns (the right
    # frame arrives as just ['user_id'] — observed on 4.1.2). Distinct
    # reads give distinct ids; the scans are identical so the extra
    # read costs one more pass of a pruned 2-column scan, not a shuffle.
    clicks = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "value")
    )
    purchases = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value")
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # A key present on only one side arrives as an EMPTY frame with
        # no columns at all (not an empty typed frame) — every column
        # access on the absent side must sit behind a len() guard.
        uid = left["user_id"].iloc[0] if len(left) else right["user_id"].iloc[0]
        pval = round(float(right["value"].sum()), 2) if len(right) else 0.0
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "purchase_value": [pval],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_clicks long, n_purchases long, purchase_value double",
        )
    )


@query(
    "udf_sql",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice * (1.0 - 0.04)
                               AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS net_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def udf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (Spark 4 ``CREATE FUNCTION ... RETURN
    expr``) — the fourth UDF surface beside Python/pandas/Arrow UDFs
    and the ONLY one with zero serialization cost: the body inlines
    into the Catalyst plan, keeps whole-stage codegen, and never leaves
    the JVM. For any UDF expressible as a SQL expression this is the
    100 TB answer; the Python surfaces exist for logic SQL cannot say.

    The function applies a flat 4% discount; the oracle inlines the
    same expression — which is precisely the semantics being pinned:
    a SQL UDF is macro expansion, not a call boundary. DECIMAL
    quantization of each term keeps the group sums order-independent;
    the FINAL column is cast to DOUBLE on both engines — DECIMAL-typed
    result columns sit outside the driver comparator's canonical
    domain ('X.90' vs 'X.9', the round-9 red), and a 2dp decimal
    converts to the identical IEEE double everywhere."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION flat_net(p DOUBLE) "
        "RETURNS DECIMAL(18,4) "
        "RETURN CAST(p * (1.0 - 0.04) AS DECIMAL(18,4))"
    )
    table(spark, sf_dir, "orders").createOrReplaceTempView("__udf_sql_o")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(flat_net(o_totalprice)), 2) AS DOUBLE)
                 AS net_total
        FROM __udf_sql_o
        GROUP BY o_orderpriority
        """
    )


@query(
    "udtf_sql",
    """
    WITH spine AS (
      SELECT unnest(range(0, 12)) AS m
    ), months AS (
      SELECT CAST(m AS BIGINT) AS month_off,
             TIMESTAMP '1997-01-01' + to_months(CAST(m AS INT)) AS month_start
      FROM spine
    )
    SELECT m.month_off, m.month_start,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM months m LEFT JOIN orders o
      ON o.o_orderdate >= m.month_start
     AND o.o_orderdate < m.month_start + to_months(1)
    GROUP BY m.month_off, m.month_start
    """,
)
def udtf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined TABLE function (Spark 4 ``CREATE FUNCTION ...
    RETURNS TABLE``) — the set-returning sibling of `udf_sql` and the
    JVM-side alternative to `udtf_python`: the body is a subquery that
    inlines into the plan, so generating a 12-month spine costs a
    Range node, not a Python process. Used here for the classic
    calendar-spine left join (months with zero orders must appear).

    The month-window band join is bounded (12 spine rows — broadcast
    NLJ over a metadata-size build side, same class as
    `etl_calendar_scaffold`)."""
    spark.sql(
        # range(0, n) rejects a non-foldable function parameter;
        # sequence() accepts one, so the spine generates through explode.
        "CREATE OR REPLACE TEMPORARY FUNCTION month_spine(n INT) "
        "RETURNS TABLE(month_off BIGINT, month_start TIMESTAMP) "
        "RETURN SELECT x AS month_off, "
        "TIMESTAMP '1997-01-01' + make_interval(0, CAST(x AS INT)) "
        "FROM (SELECT explode(sequence(CAST(0 AS BIGINT), "
        "CAST(n - 1 AS BIGINT))) AS x)"
    )
    table(spark, sf_dir, "orders").createOrReplaceTempView("__udtf_sql_o")
    return spark.sql(
        """
        SELECT m.month_off, m.month_start,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        FROM month_spine(12) m LEFT JOIN __udtf_sql_o o
          ON o.o_orderdate >= m.month_start
         AND o.o_orderdate < m.month_start + make_interval(0, 1)
        GROUP BY m.month_off, m.month_start
        """
    )


@query(
    "udf_pandas_iter",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - l_discount)
             AS DECIMAL(18,4))), 2) AS DOUBLE) AS net_total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (``Iterator[Series] -> Iterator[
    Series]``) — the LAST UDF surface in the suite and the one built
    for expensive per-worker initialization: the closure's setup code
    runs ONCE per partition, then streams Arrow batches through it —
    exactly how model-inference UDFs amortize loading a tokenizer or
    an ONNX session across millions of rows (the scalar pandas UDF
    re-enters per batch with no init seam at all).

    The "expensive init" here is a constants table built once per
    partition (asserted: init count ≤ partitions, not batches, in the
    unit test via an accumulator). Arithmetic is 4dp-quantized so the
    engine comparison stays exact."""
    init_acc = spark.sparkContext.accumulator(0)
    batch_acc = spark.sparkContext.accumulator(0)

    @pandas_udf("double")
    def net_price(
        it: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        init_acc.add(1)          # once per partition/task
        factor = 1.0             # stand-in for an expensive model load
        for p, d in it:
            batch_acc.add(1)     # once per Arrow batch
            yield (p.round(2) * (factor - d)).round(4)

    li = table(spark, sf_dir, "lineitem")
    out = li.select(
        "l_returnflag",
        net_price(F.col("l_extendedprice"), F.col("l_discount"))
        .cast("decimal(18,4)").alias("net"),
    )
    res = out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # internal sum stays decimal (order-independent); OUTPUT is
        # double — DECIMAL result columns sit outside the driver
        # comparator's canonical domain (round-9 red)
        F.round(F.sum("net"), 2).cast("double").alias("net_total"),
    )
    # stash accumulators for the unit test
    udf_pandas_iter._accs = (init_acc, batch_acc)  # type: ignore[attr-defined]
    return res
