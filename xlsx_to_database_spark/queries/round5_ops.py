"""Round-5 additions, two batches.

Batch 1 (window-filling): fixed-window chunking, shingle containment
pairs, and the grid-bucketed 2-D radius join — pretraining chunk prep,
superset/quote dedup, and spatial-style radius joins.

Batch 2 (beyond the window; next round's window candidates, all
mirror-green): Mann-Whitney rank-sum test, exact rolling correlation,
malformed-CSV ingest policy, incremental surrogate-key assignment,
spreadsheet→schema column mapping, the Benford first-digit screen,
degree-ordered triangle counting, merged-cell workbook scan,
range-partitioned JDBC ingest, parquet column bloom filters, OHLC
downsampling, systematic sampling, merged-interval coverage, and
consecutive-day streaks.

Batch 3 (late round 5): market-basket association rules, the
two-proportion z-test, single-source BFS hop distances, and OPTIMIZE
ZORDER as a transactional commit on the txn-log table format.

Registered LAST in the registry import order (the round4_ops pattern):
the round-5 driver window is backlog(44) + reopened(3) + batch 1;
batches 2–3 queue immediately after the window without displacing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import dedup as D
from xlsx_to_database_spark.registry import query

_CHUNK_W = 32  #: tokens per chunk
_CHUNK_S = 16  #: stride (W/2 -> 50% overlap, the usual pretraining choice)


@query(
    "text_chunk_split",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), idx AS (
      SELECT unnest(range(0, 16)) AS i
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(t[i*{_CHUNK_S}+1 : i*{_CHUNK_S}+{_CHUNK_W}], ' ') AS chunk,
           CAST(len(t[i*{_CHUNK_S}+1 : i*{_CHUNK_S}+{_CHUNK_W}]) AS INT) AS n_tok
    FROM toks JOIN idx ON i <= (len(t) - 1) // {_CHUNK_S}
    """,
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with 50% overlap — the step that turns
    variable-length documents into trainer/retriever-sized pieces
    (`seq_pack` is the packing half; this is the splitting half). Chunk
    ``chunk_id`` starts at token ``chunk_id·S``, spans up to W tokens;
    every token is covered, interior tokens twice (stride S = W/2).

    Scale shape: map-only — one codegen `transform` over the token
    array builds all windows, `posexplode` flattens; no shuffle, no UDF,
    no join. Output rows ≈ input tokens × (W/S)/W · ... ≈ 2·tokens/W;
    the explode's row growth is the op's deliberate output, not a plan
    accident. The DuckDB oracle drives the same windows off an integer
    series join (docs here are ≤ 99 tokens → i < 16 bounds the series;
    the Spark side needs no such bound since `sequence` is data-sized).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("t") - 1) / _CHUNK_S).cast("int"),
                ),
                lambda i: F.slice("t", i * _CHUNK_S + 1, _CHUNK_W),
            )
        ).alias("chunk_id", "win"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int"),
        F.array_join("win", " ").alias("chunk"),
        F.size("win").alias("n_tok"),
    )


@query(
    "text_containment",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6)
             AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6) >= 0.9
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-superset screening: pairs where ≥ 90% of doc_a's
    word-3-gram shingles appear in doc_b — quote-inclusion / boilerplate
    wrapping / templated-superset cases that Jaccard structurally misses
    (a short doc inside a long one has J ≈ 0, C ≈ 1). Candidates via the
    asymmetric prefix filter (A blocks on its rarest shingles, B on all;
    zero false negatives — proof at operators/dedup.py::
    containment_pairs), verified exactly. The oracle is the defining
    cross product."""
    return D.containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.9, shingle=3
    )


_RADIUS = 0.02


@query(
    "join_grid_radius",
    f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(sqrt(power(a.x - b.x, 2) + power(a.y - b.y, 2)), 6) AS dist
    FROM pts a JOIN pts b ON a.vec_id < b.vec_id
    WHERE round(sqrt(power(a.x - b.x, 2) + power(a.y - b.y, 2)), 6)
          <= {_RADIUS}
    """,
)
def join_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within Euclidean radius r in the plane of the
    first two embedding dimensions — the grid-bucketed spatial radius
    join (geo joins, collision detection, blocking for record linkage).

    Plan: snap each point to an r-sized grid cell; ONE side explodes to
    its 3×3 cell neighborhood, the other keys by its own cell; equi-join
    on the cell id, then the exact distance filter. dist ≤ r bounds
    each coordinate delta by r, so a qualifying pair's cells differ by
    ≤ 1 per axis and the neighborhood join has zero false negatives;
    each pair meets exactly once (the unexploded side sits in one cell,
    the exploded side covers it once, and the id_a < id_b filter keeps
    one orientation) — no distinct needed. This is an equi-shuffle on
    cell id: no cross join anywhere, candidate volume is Σ_cell
    9·|cell|², which r controls; at 100 TB dense cells are ordinary AQE
    skew-join work, and the 9× expansion sits on the probe side of a
    shuffled hash join. The oracle is the defining cross product.
    Exactness: float→double widening is exact on both engines, sqrt/pow
    are bit-identical libm calls, and the 6dp-rounded distance is what
    both sides threshold on."""
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    cell = lambda c: F.floor(c / _RADIUS).cast("long")  # noqa: E731
    left = pts.select(
        F.col("vec_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell(F.col("x")) + dx).alias("cx"),
                        (cell(F.col("y")) + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("c"),
    ).select("id_a", "xa", "ya", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    right = pts.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cell(F.col("x")).alias("cx"),
        cell(F.col("y")).alias("cy"),
    )
    dist = F.round(
        F.sqrt(
            F.pow(F.col("xa") - F.col("xb"), 2) + F.pow(F.col("ya") - F.col("yb"), 2)
        ),
        6,
    )
    return (
        left.join(right, on=["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= _RADIUS)
    )


# ---------------------------------------------------------------------------
# Round-5 second batch: rank-sum test, rolling correlation, malformed CSV.
# Registered beyond the round-5 driver window (50 slots, already full) —
# mirror-verified this round, window candidates next round.
# ---------------------------------------------------------------------------


@query(
    "stat_mann_whitney",
    """
    WITH g AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), pv AS (
      SELECT v, sum(is_a) AS ca, count(*) AS c FROM g GROUP BY v
    ), rs AS (
      SELECT *, sum(c) OVER (ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cum FROM pv
    ), t AS (
      SELECT CAST(sum(ca * (2 * (cum - c) + c + 1)) AS DOUBLE) / 2 AS r1,
             CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS nn,
             CAST(sum(c * c * c - c) AS DOUBLE) AS ties
      FROM rs
    )
    SELECT n1 AS n_a, nn - n1 AS n_b,
           round(r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2, 1) AS u_stat,
           round((r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2
                  - CAST(n1 AS DOUBLE) * (nn - n1) / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * (nn - n1) / 12
                        * ((nn + 1) - ties / (CAST(nn AS DOUBLE) * (nn - 1)))),
                 6) AS z
    FROM t
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with tie correction — the
    nonparametric two-sample location test beside the KS/t/chi2 family:
    does '1-URGENT' price-rank above '5-LOW'? Rank-based, so it needs a
    GLOBAL rank — the classic distributed-stats trap this engine solves
    once in operators/global_order.py: aggregate per distinct value
    (one shuffle), then a bucketed exact running count gives every
    value its cumulative position; no single-partition sort of the
    data, ever. Tied observations take average ranks, which the
    per-value aggregate yields in closed form: rank-sum contribution of
    group A at value v = ca·(2·cum_before + c + 1)/2 — kept as an exact
    INTEGER (×2) through the final sum, so float summation order cannot
    exist. The z-score arithmetic then runs on exact scalars with the
    same literal double expression on both engines."""
    from xlsx_to_database_spark.operators.global_order import (
        with_global_running_sums,
    )

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    pv = (
        o.select(
            F.col("o_totalprice").alias("v"),
            (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("is_a"),
        )
        .groupBy("v")
        .agg(F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("c"))
    )
    rs = with_global_running_sums(pv, [F.col("v").asc()], "v", {"cum": "c"})
    t = rs.agg(
        (
            F.sum(
                F.col("ca") * (2 * (F.col("cum") - F.col("c")) + F.col("c") + 1)
            ).cast("double")
            / 2
        ).alias("r1"),
        F.sum("ca").cast("long").alias("n1"),
        F.sum("c").cast("long").alias("nn"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("double")
        .alias("ties"),
    )
    n1d = F.col("n1").cast("double")
    nnd = F.col("nn").cast("double")
    u = F.col("r1") - n1d * (F.col("n1") + 1) / 2
    mu = n1d * (F.col("nn") - F.col("n1")) / 2
    sigma = F.sqrt(
        n1d
        * (F.col("nn") - F.col("n1"))
        / 12
        * ((F.col("nn") + 1) - F.col("ties") / (nnd * (F.col("nn") - 1)))
    )
    return t.select(
        F.col("n1").alias("n_a"),
        (F.col("nn") - F.col("n1")).alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z"),
    )


@query(
    "stat_rolling_corr",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1
    ), fr AS (
      SELECT day,
             count(*) OVER w AS n,
             CAST(sum(rev) OVER w AS DOUBLE) AS sx,
             CAST(sum(qty) OVER w AS DOUBLE) AS sy,
             CAST(sum(rev * rev) OVER w AS DOUBLE) AS sxx,
             CAST(sum(qty * qty) OVER w AS DOUBLE) AS syy,
             CAST(sum(rev * qty) OVER w AS DOUBLE) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS corr_7d
    FROM fr
    """,
)
def stat_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily revenue and daily
    quantity — the moving-frame co-movement monitor (is price mix
    drifting against volume this week?). NOT computed with a windowed
    corr() aggregate: the two engines' incremental corr algorithms sum
    floats in different orders. Instead the frame carries five EXACT
    DECIMAL sums (Σx, Σy, Σx², Σy², Σxy — products of quantized
    DECIMAL(18,2) values stay exact), and the textbook formula runs on
    those exact scalars in identical double arithmetic on both sides.
    The daily series is date-domain-bounded (~2.5k rows at ANY corpus
    size — it aggregates before it windows), so the single-partition
    frame window is the documented fast exact plan, not a scale
    hazard."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(-6, 0)
    fr = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("rev").over(w).cast("double").alias("sx"),
        F.sum("qty").over(w).cast("double").alias("sy"),
        F.sum(F.col("rev") * F.col("rev")).over(w).cast("double").alias("sxx"),
        F.sum(F.col("qty") * F.col("qty")).over(w).cast("double").alias("syy"),
        F.sum(F.col("rev") * F.col("qty")).over(w).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    dx = n * F.col("sxx") - sx * sx
    dy = n * F.col("syy") - sy * sy
    num = n * F.col("sxy") - sx * sy
    return fr.select(
        "day",
        n.cast("long").alias("n"),
        F.when((dx > 0) & (dy > 0), F.round(num / F.sqrt(dx * dy), 6)).alias(
            "corr_7d"
        ),
    )


@query(
    "csv_malformed_scan",
    """
    SELECT count(*) AS n_good, CAST(3 AS BIGINT) AS n_bad,
           CAST(sum(o_orderkey) + sum(o_custkey) AS BIGINT) AS key_checksum,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS revenue
    FROM orders
    """,
)
def csv_malformed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row policy on CSV ingest — the ETL surface every lake
    hits: a staged orders extract plus a planted 3-line garbage file in
    the same directory (one type-corrupt field per line, a different
    column each). DROPMALFORMED must drop exactly those 3 lines and
    nothing else; the good-row count, key checksum, and revenue must
    equal the source table's. n_bad is derived as total_lines − n_good
    from a schema-free text count, NOT from the corrupt-record column —
    so no cache() crutch and no corrupt-column-only-filter limitation.
    The aggregate references every NUMERIC column on purpose: Spark's
    CSV column pruning only type-checks projected columns, so a query
    touching fewer columns would legitimately keep rows whose breakage
    it never parsed (string fields cannot type-fail, so each garbage
    line corrupts one of the referenced numeric columns)."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    src_size = os.path.getsize(os.path.join(sf_dir, "orders.parquet"))
    dst = f"/tmp/spark_stage/{tag}_orders_csv_{src_size}"
    garbage = os.path.join(dst, "zz_garbage.csv")
    if not os.path.exists(garbage):
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.mode("overwrite")
            .csv(dst)
        )
        with open(garbage, "w") as fh:
            fh.write("x,1,1-URGENT,1.5\n2,y,5-LOW,2.5\n3,3,3-MEDIUM,notadouble\n")
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string, "
        "o_totalprice double"
    )
    good = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(dst)
        .agg(
            F.count(F.lit(1)).alias("n_good"),
            (F.sum("o_orderkey") + F.sum("o_custkey")).alias("key_checksum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("revenue"),
        )
    )
    total = spark.read.text(dst).agg(F.count(F.lit(1)).alias("n_total"))
    return (
        good.crossJoin(F.broadcast(total))
        .select(
            "n_good",
            (F.col("n_total") - F.col("n_good")).alias("n_bad"),
            "key_checksum",
            "revenue",
        )
    )


@query(
    "etl_surrogate_keys",
    """
    WITH dim AS (
      SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS sk
      FROM customer WHERE c_custkey % 10 <> 0
    ), mx AS (
      SELECT max(sk) AS k FROM dim
    ), nw AS (
      SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey, CAST(sk AS BIGINT) AS sk, CAST(0 AS INT) AS is_new
    FROM dim
    UNION ALL
    SELECT c_custkey, CAST(k + rn AS BIGINT) AS sk, CAST(1 AS INT) AS is_new
    FROM nw, mx
    """,
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental surrogate-key assignment — the warehouse load step
    the reference capability class performs on every spreadsheet import:
    rows already in the dimension keep their dense keys 1..K; the new
    batch (here the deterministic c_custkey%10==0 slice standing in for
    today's file) gets K+1.. in natural-key order. Both numberings use
    the bucketed exact global row_number (operators/global_order.py) —
    no single-partition sort at dimension scale — and the K offset rides
    a broadcast one-row aggregate, not a driver collect, so the whole
    assignment stays one lazy distributed plan."""
    from xlsx_to_database_spark.operators.global_order import (
        with_global_row_number,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey")
    order = [F.col("c_custkey").asc()]
    dim = with_global_row_number(
        c.filter(F.col("c_custkey") % 10 != 0), order, "c_custkey", out="sk"
    )
    mx = dim.agg(F.max("sk").alias("k"))
    new = with_global_row_number(
        c.filter(F.col("c_custkey") % 10 == 0), order, "c_custkey", out="rn"
    )
    return dim.select(
        "c_custkey", "sk", F.lit(0).cast("int").alias("is_new")
    ).unionAll(
        new.crossJoin(F.broadcast(mx)).select(
            "c_custkey",
            (F.col("k") + F.col("rn")).cast("long").alias("sk"),
            F.lit(1).cast("int").alias("is_new"),
        )
    )


@query(
    "xlsx_schema_map",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(NULL AS VARCHAR) AS n_comment
    FROM nation
    """,
)
def xlsx_schema_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spreadsheet→table column mapping — the reference capability
    class's core load semantics: a staged workbook whose headers are
    human-messy ('Nation Key', 'NAME ', 'region-key') plus an extra
    audit column, aligned onto the warehouse schema by normalized-name
    matching (table prefix optional in the source), typed NULLs for
    target columns the sheet lacks ('n_comment'), extra source columns
    dropped, types cast. Resolution happens at plan time from schema
    metadata (sources/infer.py::align_to_schema); the data path is one
    shuffle-free projection."""
    import os

    from pyspark.sql.types import StructType

    from xlsx_to_database_spark.sources import xlsx_io
    from xlsx_to_database_spark.sources.infer import align_to_schema
    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

    register_xlsx_source(spark)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_stage/{tag}_nation_messy.xlsx"
    if not os.path.exists(path):
        os.makedirs("/tmp/spark_stage", exist_ok=True)
        rows = [
            tuple(r) + ("etl",)
            for r in table(spark, sf_dir, "nation")
            .orderBy("n_nationkey")
            .collect()
        ]
        xlsx_io.write_workbook(
            path + ".tmp",
            {"sheet1": (["Nation Key", "NAME ", "region-key", "Loaded By"], rows)},
        )
        os.replace(path + ".tmp", path)
    target = StructType.fromDDL(
        "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    )
    return align_to_schema(
        spark.read.format("xlsx").load(path), target, prefix="n_"
    )


@query(
    "stat_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), t AS (
      SELECT count(*) AS total FROM d
    )
    SELECT digit, count(*) AS n,
           round(count(*) / CAST(total AS DOUBLE), 6) AS obs_p,
           round(ln(1 + 1.0 / digit) / ln(10), 6) AS exp_p,
           round(power(count(*) / CAST(total AS DOUBLE)
                       - ln(1 + 1.0 / digit) / ln(10), 2)
                 / (ln(1 + 1.0 / digit) / ln(10)), 6) AS chi2_term
    FROM d, t GROUP BY digit, total
    """,
)
def stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen — the classic fraud/data-quality gate
    on monetary columns: observed leading-digit frequencies vs the
    log10(1+1/d) law, with per-digit chi-square contributions. The
    digit comes from the DECIMAL(18,2) string form, NOT from
    floor(x/10^floor(log10 x)): exact powers of ten sit on a log10
    rounding boundary where the two engines' libm could disagree by one
    ULP and bucket a value into digit 10; string extraction of a
    quantized decimal is engine-stable by construction. exp_p is
    ln(1+1/d)/ln(10) on BOTH engines (ln is verified bit-identical;
    log10 intrinsics are not). One conditional aggregate over a single
    scan + a broadcast total — no sort, map-side combinable."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).alias("total"))
    obs = F.col("n") / F.col("total").cast("double")
    exp = F.log(1 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("obs_p"),
            F.round(exp, 6).alias("exp_p"),
            F.round(F.pow(obs - exp, 2) / exp, 6).alias("chi2_term"),
        )
    )


@query(
    "graph_triangles",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) t(u) GROUP BY u
    ), de AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM (
              SELECT 1 FROM de e1 JOIN de e2 ON e1.t = e2.s
              JOIN de e3 ON e3.s = e1.s AND e3.t = e2.t)) AS BIGINT)
             AS n_triangles
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the co-purchase graph (parts sharing an
    order) via the degree-ordered node-iterator — THE canonical
    distributed graph-analytics kernel beside pagerank/components.
    Naive wedge enumeration pivots on high-degree hubs and explodes as
    Σd²; orienting every edge from its (degree, id)-smaller endpoint to
    the larger bounds out-degree by O(√m) on ANY graph (arboricity
    argument — the MapReduce formulation of Suri & Vassilvitskii's
    node-iterator), so wedges = Σ d_out² stays near-linear in edges and
    each triangle is found exactly once (its two lowest-ordered edges
    form the wedge, the third closes it). All equi-joins on node ids —
    shuffle-partitionable, AQE handles residual hub skew. The (d, id)
    tuple order is realized with a struct comparison, identical to the
    oracle's tuple compare."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    # localCheckpoint: the edge list feeds FOUR consumers (degrees, two
    # orientation joins via de, wedge closer, edge count) and alias
    # divergence defeats ReusedExchange — without it the self-join +
    # distinct recomputes per branch (measured 51-exchange plan, 0
    # reuses). Same materialize-the-graph-once convention as
    # connected_components / pagerank.
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    de = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(
                F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v")),
                F.col("u"),
            )
            .otherwise(F.col("v"))
            .alias("s"),
            F.when(
                F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v")),
                F.col("v"),
            )
            .otherwise(F.col("u"))
            .alias("t"),
        )
    ).localCheckpoint(eager=True)
    e1 = de.select(F.col("s").alias("s1"), F.col("t").alias("t1"))
    e2 = de.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    wedges = e1.join(e2, F.col("t1") == F.col("s2")).select(
        F.col("s1").alias("ws"), F.col("t2").alias("wt")
    )
    closer = de.select(F.col("s").alias("ws"), F.col("t").alias("wt"))
    tri = wedges.join(closer, ["ws", "wt"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return edges.crossJoin(F.broadcast(tri)).select(
        F.col("n_edges").cast("long"),
        F.col("n_triangles").cast("long"),
    )


@query(
    "xlsx_merged_scan",
    """
    SELECT r_name AS region_name, n_name AS nation_name
    FROM region JOIN nation ON r_regionkey = n_regionkey
    """,
)
def xlsx_merged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-cell report layout → proper relation: a staged workbook
    where each region's name is ONE merged cell spanning its nations'
    rows (the ubiquitous human-report shape), read back with
    ``option("mergedCells", "fill")`` so the anchor value propagates
    down the range and every row carries its region. Without the fill
    the non-anchor cells are None — exactly what naive readers produce
    and exactly why spreadsheet ETL needs this unpivot. The merge
    geometry is parsed from ``<mergeCells>`` in one extra streaming
    pass (xlsx_io.py::merged_ranges); row-major order means the anchor
    is always seen before the cells it fills."""
    import os
    import re as _re
    import zipfile

    from xlsx_to_database_spark.sources import xlsx_io
    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

    register_xlsx_source(spark)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_stage/{tag}_region_report.xlsx"
    if not os.path.exists(path):
        os.makedirs("/tmp/spark_stage", exist_ok=True)
        nat = table(spark, sf_dir, "nation")
        reg = table(spark, sf_dir, "region")
        joined = (
            nat.join(reg, nat.n_regionkey == reg.r_regionkey)
            .select("r_name", "n_name", "n_regionkey", "n_nationkey")
            .orderBy("n_regionkey", "n_nationkey")
            .collect()
        )
        rows, merges, rix = [], [], 2  # data starts at sheet row 2
        prev = None
        for r in joined:
            if r.r_name != prev:
                if prev is not None and rix - 1 > merges[-1][0]:
                    merges[-1] = (merges[-1][0], rix - 1)
                merges.append((rix, rix))
                rows.append((r.r_name, r.n_name))
                prev = r.r_name
            else:
                rows.append((None, r.n_name))
            rix += 1
        if merges and rix - 1 > merges[-1][0]:
            merges[-1] = (merges[-1][0], rix - 1)
        xlsx_io.write_workbook(
            path + ".tmp", {"report": (["region_name", "nation_name"], rows)}
        )
        with zipfile.ZipFile(path + ".tmp") as zf:
            members = {n: zf.read(n) for n in zf.namelist()}
        mc = "".join(f'<mergeCell ref="A{a}:A{b}"/>' for a, b in merges if b > a)
        sheet = members["xl/worksheets/sheet1.xml"].decode()
        members["xl/worksheets/sheet1.xml"] = _re.sub(
            "</worksheet>",
            f'<mergeCells count="{len(merges)}">{mc}</mergeCells></worksheet>',
            sheet,
        ).encode()
        with zipfile.ZipFile(path + ".tmp2", "w") as zf:
            for n, data in members.items():
                zf.writestr(n, data)
        os.replace(path + ".tmp2", path)
        os.remove(path + ".tmp")
    return spark.read.format("xlsx").option("mergedCells", "fill").load(path)


@query(
    "jdbc_partitioned_scan",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey <= 5000
    """,
)
def jdbc_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned parallel JDBC ingest — the scan-side sibling of
    `jdbc_sink`, and the read shape that matters at scale: one
    connection per partition, each issuing a disjoint
    ``o_orderkey BETWEEN lo AND hi`` predicate, so a 1000-executor
    cluster drains a warehouse table without a single-connection
    bottleneck (partitionColumn / lowerBound / upperBound /
    numPartitions — the standard Spark JDBC parallelism contract).
    Derby in-memory stands in for the warehouse; the oracle is the
    source rows the table was loaded from."""
    import os

    from xlsx_to_database_spark.sources import sinks as SK

    tag = os.path.basename(os.path.normpath(sf_dir))
    url = os.environ.get(
        "SPARK_GRAFT_JDBC_URL", f"jdbc:derby:memory:graft_scan_{tag};create=true"
    )
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 5000)
        .select(
            F.col("o_orderkey").cast("long"),
            F.col("o_custkey").cast("long"),
            "o_orderpriority",
            "o_totalprice",
        )
    )
    SK.to_database(src, url, "orders_part", mode="truncate")
    back = SK.from_database(
        spark,
        url,
        "orders_part",
        partitionColumn="o_orderkey",
        lowerBound="1",
        upperBound="5000",
        numPartitions="8",
    )
    return back.select(
        F.col("o_orderkey").cast("long"),
        F.col("o_custkey").cast("long"),
        "o_orderpriority",
        F.col("o_totalprice").cast("double"),
    )


@query(
    "parquet_bloom_sink",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS qty_sum
    FROM lineitem WHERE l_orderkey % 1000 = 7
    """,
)
def parquet_bloom_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write with a COLUMN BLOOM FILTER on the join/filter key —
    the lake-format feature that turns selective point predicates into
    row-group skips even where min/max stats are useless (high-cardinality
    unsorted keys: a key's presence is scattered uniformly, so every
    row group's [min,max] covers it, but the bloom filter answers
    'definitely absent' per group). Written via the standard parquet
    writer options (parquet.bloom.filter.enabled#col) — no table format
    needed; the footer carries the filters (pyarrow-asserted in tests).
    The oracle checks content integrity through the write+read cycle on
    a selective predicate of the kind blooms serve."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = f"/tmp/spark_stage/{tag}_lineitem_bloom"
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    (
        li.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
        # parquet-mr only emits a bloom when the column is NOT fully
        # dictionary-encoded (a complete dictionary already answers
        # membership exactly). Test-scale keys all fit the dictionary,
        # so disable it for this column to exercise the regime that
        # holds at real scale, where high-cardinality keys overflow the
        # dictionary and the bloom is what saves the row-group reads.
        .option("parquet.enable.dictionary#l_orderkey", "false")
        .parquet(dst)
    )
    back = spark.read.parquet(dst).filter(F.pmod("l_orderkey", F.lit(1000)) == 7)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
        ).alias("qty_sum"),
    )


@query(
    "win_ohlc",
    """
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           round(CAST(max(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE), 4)
             AS open,
           round(CAST(max(value) AS DOUBLE), 4) AS high,
           round(CAST(min(value) AS DOUBLE), 4) AS low,
           round(CAST(max(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE), 4)
             AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY event_type, bucket
    """,
)
def win_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the time-series rollup every metrics/market
    pipeline runs: per (series, hour) the first, max, min, and last
    value. First/last use ``min_by``/``max_by`` on a (ts, event_id)
    STRUCT — a total order, so ties at the same timestamp resolve
    identically on both engines — and the whole op is ONE hash
    aggregate with map-side partials: no window function over the fact
    stream, no sort, shuffle carries one row per (series, hour). The
    oracle spells the same semantics with rank windows (DuckDB's
    arg_min does not take composite keys)."""
    ev = table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        ).agg(
            F.round(F.min_by("value", key).cast("double"), 4).alias("open"),
            F.round(F.max("value").cast("double"), 4).alias("high"),
            F.round(F.min("value").cast("double"), 4).alias("low"),
            F.round(F.max_by("value", key).cast("double"), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "sample_systematic",
    """
    SELECT c_custkey, c_name
    FROM (SELECT c_custkey, c_name,
                 row_number() OVER (ORDER BY c_custkey) AS rn
          FROM customer)
    WHERE rn % 100 = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling under a global order — the
    auditor's sample: deterministic, order-respecting, exactly n/k
    rows, unlike Bernoulli (sample_frac) or hash buckets (sample_hash).
    Needs a global position, which is exactly what the bucketed global
    row_number provides without a single-partition sort
    (operators/global_order.py); the modulo filter is then map-only."""
    from xlsx_to_database_spark.operators.global_order import (
        with_global_row_number,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ranked = with_global_row_number(
        c, [F.col("c_custkey").asc()], "c_custkey", out="rn"
    )
    return ranked.filter(F.col("rn") % 100 == 0).select("c_custkey", "c_name")


@query(
    "interval_coverage",
    """
    WITH iv AS (
      SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ), m AS (
      SELECT k, s, e,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv
    ), isl AS (
      SELECT k, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING)
               AS island
      FROM m
    ), per AS (
      SELECT k, island, date_diff('day', min(s), max(e)) AS dur
      FROM isl GROUP BY k, island
    )
    SELECT k AS c_custkey, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(dur) AS BIGINT) AS covered_days
    FROM per GROUP BY k
    """,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage per customer — each order opens a 30-day
    activity window; overlapping windows merge, and the answer is how
    many distinct islands exist and how many days they cover (the union
    length of an interval set — SLA coverage, sensor uptime, campaign
    reach all reduce to this). The classic sweep, expressed in two
    windows over (customer)-partitioned data: a running max of interval
    ends detects island starts (a start past everything seen so far),
    a running sum numbers the islands, then one aggregate per island.
    Deterministic under ties: equal (s,e) rows contribute the same
    running max regardless of their relative order, so both engines
    agree. Partitions are per-customer (bounded), never global."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = iv.withColumn("prev_max", F.max("e").over(w_prev)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    per = isl.groupBy("k", "island").agg(
        F.datediff(F.max("e"), F.min("s")).alias("dur")
    )
    return per.groupBy(F.col("k").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("dur").cast("long").alias("covered_days"),
    )


@query(
    "win_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), g AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT) AS grp
      FROM d
    ), s AS (
      SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp
    )
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM s GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak per user — the engagement metric
    behind every 'N-day streak' badge, and the calendar cousin of
    `win_sessionize` (whose islands are time-GAP based, not
    calendar-consecutive). The date-minus-rank trick: within a user,
    consecutive days share ``day - row_number()`` (each next day
    advances both by one), so streaks become plain GROUP BY keys — no
    self-join, no recursive walk. Per-user partitions bound every
    window; days are deduped first so multi-event days count once."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.withColumn("grp", F.date_sub(F.col("day"), rn))
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


@query(
    "corpus_token_budget",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM scored
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok
    FROM ranked WHERE cum_tok - n_tok < 10000
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection — the data-mixing primitive every
    pretraining run executes: rank the corpus by a quality proxy
    (n_chars here; any score column in production) and keep documents
    greedily until the token budget is spent. A document is admitted
    iff the budget is not already exhausted BEFORE it (cum − own < B),
    so exactly one document straddles the boundary — the greedy rule
    that makes budgets reproducible. The global running token sum is
    the bucketed exact operator (operators/global_order.py): quantile
    bucketing + per-bucket windows + broadcast offsets, never a
    single-partition sort of the corpus."""
    from xlsx_to_database_spark.operators.global_order import (
        with_global_running_sums,
    )

    d = table(spark, sf_dir, "documents")
    # The bucketed operator's contract is DRIVING KEY ASCENDING (bucket
    # offsets accumulate in that direction), so the quality-descending
    # order rides a negated driving column — identical total order to
    # (n_chars DESC, doc_id ASC), valid at any bucket count.
    scored = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        (-F.col("n_chars")).alias("__negc"),
    )
    ranked = with_global_running_sums(
        scored,
        [F.col("__negc").asc(), F.col("doc_id").asc()],
        "__negc",
        {"cum_tok": "n_tok"},
    )
    return ranked.filter(F.col("cum_tok") - F.col("n_tok") < 10_000).select(
        "doc_id",
        F.col("n_tok").cast("long"),
        F.col("cum_tok").cast("long"),
    )


@query(
    "stat_cuped",
    """
    WITH per AS (
      SELECT o_custkey AS k, o_custkey % 2 AS arm,
             sum(CASE WHEN o_orderdate >= DATE '1995-01-01'
                       AND o_orderdate < DATE '1996-01-01'
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS x,
             sum(CASE WHEN o_orderdate >= DATE '1996-01-01'
                       AND o_orderdate < DATE '1997-01-01'
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS y
      FROM orders GROUP BY o_custkey
    ), mo AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x*x) AS DOUBLE) AS sxx,
             CAST(sum(x*y) AS DOUBLE) AS sxy
      FROM per
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS mean_y,
           round(CAST(sum(y) AS DOUBLE) / count(*)
                 - ((mo.n * mo.sxy - mo.sx * mo.sy)
                    / (mo.n * mo.sxx - mo.sx * mo.sx))
                   * (CAST(sum(x) AS DOUBLE) / count(*) - mo.sx / mo.n), 6)
             AS mean_y_cuped
    FROM per, mo GROUP BY arm, mo.n, mo.sx, mo.sy, mo.sxx, mo.sxy
    """,
)
def stat_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the standard experimentation
    adjustment: subtract θ·(covariate − its mean) from each unit's
    metric, with θ = cov(x,y)/var(x) learned from pre-period data
    (first-year spend as covariate, second-year spend as metric,
    custkey parity as the arm). Exactness: per-unit x/y are DECIMAL sums, the moments are
    sums of DECIMAL products cast to double ONCE, and θ plus both
    adjusted means are then identical double arithmetic on both
    engines. Shape: one per-unit aggregate (shuffle on custkey), one
    broadcast one-row moment frame, one per-arm aggregate — the same
    plan at 1e9 units."""
    o = table(spark, sf_dir, "orders")
    in_year = lambda y: (  # noqa: E731
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01"))
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    per = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.when(in_year(1995), price).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("x"),
        F.sum(F.when(in_year(1996), price).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("y"),
    ).withColumn("arm", F.pmod("k", F.lit(2)))
    mo = per.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    arm = per.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("y").cast("double").alias("ay"),
        F.sum("x").cast("double").alias("ax"),
    )
    theta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    mean_y = F.col("ay") / F.col("n_users")
    mean_x = F.col("ax") / F.col("n_users")
    return arm.crossJoin(F.broadcast(mo)).select(
        "arm",
        F.col("n_users").cast("long"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(
            mean_y - theta * (mean_x - F.col("sx") / F.col("n")), 6
        ).alias("mean_y_cuped"),
    )


@query(
    "graph_degree_distribution",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) t(u) GROUP BY u
    )
    SELECT CAST(length(bin(d)) AS INT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_degree,
           CAST(max(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned degree histogram of the co-purchase graph — the
    first thing anyone asks of a large graph (is it heavy-tailed? where
    do the hubs start?), and the planning input for skew handling in
    `graph_triangles`. Buckets are ⌊log2 d⌋+1 computed as the BINARY
    STRING LENGTH of the degree — pure integer formatting, immune to
    the libm boundary problem floor(log2(2^k)) has at exact powers of
    two (bit-identical 'is it 3.0 or 2.9999…' is not a question both
    engines answer alike). Two aggregates over the edge list; the
    histogram is ≤ 64 rows at any scale."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = a.join(b, "o").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(
        F.length(F.bin("d")).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )


@query(
    "stat_survival_km",
    """
    WITH life AS (
      SELECT o_custkey,
             date_diff('day', min(o_orderdate), max(o_orderdate)) AS dur,
             CASE WHEN max(o_orderdate) < DATE '1998-01-01'
                  THEN 1 ELSE 0 END AS ev
      FROM orders GROUP BY o_custkey
    ), byd AS (
      SELECT dur, sum(ev) AS d, count(*) AS c FROM life GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             sum(c) OVER (ORDER BY dur DESC
                          ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM byd
    ), terms AS (
      SELECT dur, d, n_risk,
             CASE WHEN d = n_risk THEN NULL
                  ELSE CAST(ln(1 - CAST(d AS DOUBLE) / n_risk)
                            AS DECIMAL(28,18)) END AS t,
             CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
      FROM risk
    )
    SELECT dur AS duration_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CASE WHEN max(dead) OVER (ORDER BY dur
                                     ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
                ELSE round(exp(CAST(sum(t) OVER (ORDER BY dur
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
           END AS survival
    FROM terms
    """,
)
def stat_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer lifetimes — the
    censoring-aware estimator behind every churn/retention curve.
    Lifetime = days between a customer's first and last order; the
    event (churn observed) fires when the last order predates 1998,
    otherwise the lifetime is right-censored at the horizon. At each
    distinct duration t: n_risk = customers with duration >= t (a
    DESC-ordered running sum over the per-duration counts), d = events
    exactly at t, and S(t) multiplies in (1 - d/n_risk) — computed as
    exp of a running sum of ln terms, each term quantized to
    DECIMAL(28,18) BEFORE summing so the accumulation is
    order-insensitive and engine-exact (the agg_entropy discipline).
    d = n_risk zeroes the curve from there on — guarded explicitly
    rather than routed through ln(0).

    Scale shape: one shuffle (per-customer aggregate), one tiny
    per-duration aggregate, then global windows over AT MOST one row
    per distinct duration — bounded by the date-range span in days
    (~2.4k), NOT by row count, at any SF. Same class as the
    histogram/global-order ops."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    life = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("dur"),
        F.when(F.max("o_orderdate") < F.lit("1998-01-01"), 1)
        .otherwise(0)
        .alias("ev"),
    )
    byd = life.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byd.withColumn("n_risk", F.sum("c").over(w_desc))
    terms = risk.withColumn(
        "t",
        F.when(F.col("d") == F.col("n_risk"), F.lit(None)).otherwise(
            F.log(1 - F.col("d").cast("double") / F.col("n_risk")).cast(
                "decimal(28,18)"
            )
        ),
    ).withColumn("dead", F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
    return terms.select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("d_events"),
        F.when(F.max("dead").over(w_asc) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("t").over(w_asc).cast("double")), 6))
        .alias("survival"),
    )


@query(
    "stat_changepoint",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), c AS (
      SELECT day,
             abs(CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE)
                 - CAST(row_number() OVER (ORDER BY day) AS DOUBLE)
                   * (CAST(sum(x) OVER () AS DOUBLE) / count(*) OVER ()))
               AS cusum_abs,
             count(*) OVER () AS n_days
      FROM daily
    )
    SELECT day AS changepoint_day, round(cusum_abs, 2) AS cusum_abs,
           CAST(n_days AS BIGINT) AS n_days
    FROM c ORDER BY round(cusum_abs, 2) DESC, day LIMIT 1
    """,
)
def stat_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily-revenue series — where
    did the level shift? The classic offline estimator: center the
    series on its mean, cumulative-sum, and the |CUSUM| argmax is the
    most likely single changepoint (AMOC). Exactness: daily totals and
    their running sum are DECIMAL (exact, order-insensitive); the one
    double conversion happens on the finished sums, and rn·mu is then
    identical IEEE arithmetic on both engines. The argmax orders by the
    ROUNDED statistic with the day as total tie-break.

    Scale shape: one shuffle (per-day aggregate), then global windows
    over one row per distinct day — bounded by the calendar span
    (~2.4k rows at any SF), the histogram-op class. The raw scan is the
    only data-sized stage."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = daily.select(
        F.col("day").alias("changepoint_day"),
        F.round(
            F.abs(
                F.sum("x").over(w_run).cast("double")
                - F.row_number().over(Window.orderBy("day")).cast("double")
                * (F.sum("x").over(w_all).cast("double")
                   / F.count(F.lit(1)).over(w_all))
            ),
            2,
        ).alias("cusum_abs"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    )
    return c.orderBy(F.col("cusum_abs").desc(), "changepoint_day").limit(1)


@query(
    "interval_gaps",
    """
    WITH iv AS (
      SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ), m AS (
      SELECT k, s,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv
    )
    SELECT k AS c_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(max(gap) AS BIGINT) AS max_gap_days,
           CAST(sum(gap) AS BIGINT) AS idle_days
    FROM (
      SELECT k, date_diff('day', prev_max, s) AS gap
      FROM m WHERE prev_max IS NOT NULL AND s > prev_max
    ) t GROUP BY k
    """,
)
def interval_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-gap analysis — the complement of `interval_coverage`: how
    long were the dark periods between a customer's activity islands
    (the SLA question is always 'what was the longest outage', never
    'what was covered'). Shares the sweep skeleton: a per-customer
    running max of interval ends; a row whose start clears everything
    seen so far opens a gap of (start - prev_max) days. One
    per-customer window + one aggregate; partitions are per-customer
    (bounded), never global. Customers with no gap (one island)
    disappear, matching the oracle's inner aggregation."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("prev_max", F.max("e").over(w_prev))
    gaps = m.filter(
        F.col("prev_max").isNotNull() & (F.col("s") > F.col("prev_max"))
    ).select("k", F.datediff("s", "prev_max").alias("gap"))
    return gaps.groupBy(F.col("k").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap").cast("long").alias("max_gap_days"),
        F.sum("gap").cast("long").alias("idle_days"),
    )


_BOOT_B = 64  #: bootstrap replicates
#: Poisson(1) CDF cut points: P(0), P(0..1), P(0..2) — weights 3+ pooled.
_BOOT_CDF = (0.367879441, 0.735758882, 0.919698603)
#: The same cut points as integer thresholds on the raw 31-bit hash:
#: u < cdf  ⟺  h < floor(cdf·2^31)+1 (h is an integer; cdf·2^31 is not).
#: Integer compares keep the whole weight expression in long arithmetic —
#: measured 4.3× faster than the CASE-on-double form at 20M rows
#: (30.7 s → 7.1 s with the long-cents metric, tools/scale_smoke.py).
_BOOT_T = tuple(int(c * 2147483648) + 1 for c in _BOOT_CDF)


def _boot_weight_sql(key_sql: str, r: int) -> str:
    """Deterministic Poisson(1)-ish resample weight for (row key, rep r).

    A multiplicative-hash draw — (key·1103515245 + (r+1)·2654435761)
    mod 2^31 — compared against the Poisson(1) CDF as integer
    thresholds, summed: w = [h≥T0] + [h≥T1] + [h≥T2] ∈ {0,1,2,3}. Pure
    BIGINT arithmetic end to end: bit-identical in any engine, which is
    what lets the oracle replay the 'randomness'. SQL text, so the 64
    replicates' weights parse in one py4j call each."""
    h = (
        f"pmod({key_sql} * 1103515245L + {(r + 1) * 2654435761}L, "
        "2147483648L)"
    )
    return (
        f"(CAST({h} >= {_BOOT_T[0]}L AS BIGINT) "
        f"+ CAST({h} >= {_BOOT_T[1]}L AS BIGINT) "
        f"+ CAST({h} >= {_BOOT_T[2]}L AS BIGINT))"
    )


@query(
    "stat_bootstrap_ci",
    f"""
    WITH w AS (
      SELECT r,
             CAST(h >= {_BOOT_T[0]} AS BIGINT)
               + CAST(h >= {_BOOT_T[1]} AS BIGINT)
               + CAST(h >= {_BOOT_T[2]} AS BIGINT) AS w,
             xc
      FROM (
        SELECT r,
               (o_orderkey * 1103515245 + (r+1) * 2654435761)
                % 2147483648 AS h,
               CAST(round(o_totalprice * 100) AS BIGINT) AS xc
        FROM orders, (SELECT unnest(range({_BOOT_B})) AS r)
      )
    ), per AS (
      SELECT r, CAST(sum(w * xc) AS DOUBLE) / sum(w) / 100.0 AS m
      FROM w GROUP BY r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           round(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 4)
             AS mean_lo,
           round(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 4)
             AS mean_hi,
           (SELECT round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS DOUBLE) / count(*) / 100.0, 4) FROM orders)
             AS mean_point
    FROM per
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value —
    THE distributed bootstrap: instead of resampling n rows with
    replacement (which needs global coordination), each row draws an
    independent Poisson(1) replicate count per rep, which converges to
    the same resample distribution and never leaves the row (Chamandy
    et al., 'Estimating Uncertainty for Massive Data Streams', the
    pattern behind every large-scale A/B platform's CIs). Randomness is
    a deterministic multiplicative hash of (orderkey, rep) so the
    oracle replays it exactly; the metric rides as exact integer CENTS
    (round(price·100) — prices carry 2 decimals by construction), so
    every per-rep sum is pure long arithmetic, and the 2.5/97.5
    percentiles interpolate over B=64 identical doubles. (Cents sums
    stay inside int64 up to ~10^11 rows × weight 3 × $10^5 — past any
    realistic SF; DECIMAL is the escape hatch beyond.)

    Scale shape: the Spark side compiles ALL reps into ONE aggregate
    pass — 2·B partial-agg expressions (sum(w·cents), sum(w) per rep),
    no row explosion, no shuffle beyond the single-row merge; the rep
    means then posexplode from one row. The oracle's rows×B cross join
    is the readable equivalent, not the executed plan. At 100 TB this
    is one scan + 128 long-typed running partials per task (7.1 s for
    20M rows × 64 reps on local[32], tools/scale_smoke.py --big)."""
    o = table(spark, sf_dir, "orders")
    # The 2·B+2 aggregate expressions and the B rep-mean array are
    # parsed SQL: the Column-DSL form cost ~3.5 s of py4j plan
    # construction per call.
    xc_sql = "CAST(round(o_totalprice * 100) AS BIGINT)"
    aggs = []
    for r in range(_BOOT_B):
        w = _boot_weight_sql("o_orderkey", r)
        aggs.append(f"sum({w} * {xc_sql}) AS s{r}")
        aggs.append(f"sum({w}) AS n{r}")
    aggs.append(f"sum({xc_sql}) AS sx")
    aggs.append("count(1) AS nx")
    one = o.groupBy().agg(*[F.expr(a) for a in aggs])
    means = one.selectExpr(
        "explode(array("
        + ", ".join(
            f"CAST(s{r} AS DOUBLE) / n{r} / 100.0D" for r in range(_BOOT_B)
        )
        + ")) AS m",
        "CAST(sx AS DOUBLE) / nx / 100.0D AS point",
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("mean_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("mean_hi"),
        F.round(F.first("point"), 4).alias("mean_point"),
    )


@query(
    "text_bpe_pairs",
    """
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT substring(w, CAST(unnest(range(1, length(w))) AS INT), 2)
               AS pair
      FROM toks WHERE length(w) >= 2
    ) p
    GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair frequencies — the inner statistic of BPE
    tokenizer training: every merge step picks the most frequent
    adjacent pair, and this op is that argmax (top 20) over the corpus
    at the character stage. Two codegen explodes (tokens, then a
    transform over in-token offsets — no Python, no UDF) feed ONE hash
    aggregate; the pair domain is tiny (alphabet²), so partial
    aggregation collapses the explosion map-side and the shuffle
    carries only per-task pair counts. Iterating the actual merge loop
    would re-run this with a growing symbol table; one step is the
    honest distributed kernel (the loop is driver-side orchestration).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@query(
    "stat_seasonal_decompose",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), t AS (
      SELECT day, x,
             CAST(sum(x) OVER w7 AS DOUBLE) / count(*) OVER w7 AS trend,
             count(*) OVER w7 AS nwin
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT dayofweek(day) AS dow,
           round(CAST(sum(CAST(CAST(x AS DOUBLE) - trend
                                AS DECIMAL(28,10))) AS DOUBLE)
                 / count(*), 2) AS seasonal,
           CAST(count(*) AS BIGINT) AS n_days
    FROM t WHERE nwin = 7
    GROUP BY dayofweek(day)
    """,
)
def stat_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (additive, weekly): detrend the
    daily-revenue series with a centered 7-day moving average, then the
    seasonal index per weekday is the mean residual — the
    moving-average step of STL, which is what 'is Tuesday really our
    big day or is that just growth' actually asks. Exactness: the MA is
    an exact DECIMAL window sum divided by an exact count (one double
    conversion, no subtract-on-slide drift — DuckDB's segment-tree
    window aggregation regroups float additions, DECIMAL is immune);
    each residual quantizes to DECIMAL(28,10) before the per-weekday
    sum so accumulation order can't matter. Edge days without a full
    7-row frame are excluded (textbook centered MA).

    Scale shape: one shuffle to the per-day aggregate, then windows
    over one row per calendar day (~2.4k at any SF) — histogram-class.
    Weekday numbering aligned to DuckDB's Sunday=0 by shifting Spark's
    Sunday=1."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "x",
        (F.sum("x").over(w7).cast("double") / F.count(F.lit(1)).over(w7)
         ).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("nwin"),
    ).filter(F.col("nwin") == 7)
    resid = (F.col("x").cast("double") - F.col("trend")).cast("decimal(28,10)")
    return t.groupBy((F.dayofweek("day") - 1).alias("dow")).agg(
        F.round(F.sum(resid).cast("double") / F.count(F.lit(1)), 2).alias(
            "seasonal"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )


@query(
    "table_merge_upsert",
    """
    SELECT c_custkey, c_name, c_nationkey,
           round(c_acctbal + CASE WHEN c_custkey <= 150
                                   AND c_custkey % 3 = 0
                                  THEN 1000 ELSE 0 END, 2) AS c_acctbal,
           c_mktsegment
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, c_name, c_nationkey,
           round(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey <= 20
    """,
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE on the txn-log table format
    (operators/txn_table.py) — the ACID answer to `etl_upsert`'s
    full-rewrite emulation. The table is created range-clustered on the
    key, then (1) an UPDATE batch confined to keys ≤ 150 merges in —
    manifest min/max pruning rewrites only the file(s) whose stats
    range intersects [3, 150], carrying the rest by reference with zero
    I/O (file-level copy-on-write, the Delta/Iceberg trick that keeps
    100 TB MERGEs proportional to the touched keys) — and (2) an
    INSERT batch beyond the table's max key merges as a pure append
    (zero files rewritten). The returned final state must hash-match
    the oracle's declarative reconstruction; the pruning counters are
    pinned in tests/test_operators.py.

    Fixture discipline (round-7 verdict #4): the range-clustered base
    table is staged ONCE per process (txn_fixtures.staged_copy); each
    invocation merges into a fresh OS-level copy, so the wall-clock is
    the two MERGE commits + read-back, not the repeated create."""
    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.txn_fixtures import staged_copy

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )

    def _build(root: str) -> None:
        TxnTable(spark, root, "c_custkey").create(
            c.repartitionByRange(4, "c_custkey")
        )

    root = staged_copy("txn_merge_v2", sf_dir, _build)
    tt = TxnTable(spark, root, "c_custkey")
    updates = c.filter(
        (F.col("c_custkey") <= 150) & (F.col("c_custkey") % 3 == 0)
    ).withColumn("c_acctbal", F.col("c_acctbal") + 1000)
    tt.merge(updates, "c_custkey")
    inserts = c.filter(F.col("c_custkey") <= 20).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    tt.merge(inserts, "c_custkey")
    return tt.read().select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )


@query(
    "table_time_travel",
    """
    SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total
    FROM orders WHERE o_orderkey % 4 <> 0
    UNION ALL
    SELECT 1, CAST(count(*) AS BIGINT),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2)
    FROM orders
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2)
    FROM orders WHERE o_orderkey % 10 <> 1
    """,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel on the txn-log table format:
    create (v0, 3/4 of orders) → append (v1, the rest) → DELETE (v2,
    keys ≡ 1 mod 10), then read EVERY version by its manifest and
    aggregate each — proving old snapshots stay byte-identical after
    later commits (immutable data files + versioned file lists; reads
    resolve a manifest, never a directory listing). The DELETE is
    copy-on-write: only files containing matches are rewritten, with
    the predicate pushed into the probing parquet scan. Each commit is
    an atomic manifest rename (optimistic concurrency — the protocol
    Delta runs on object stores)."""
    import os
    import shutil

    from xlsx_to_database_spark.operators.txn_table import TxnTable

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/spark_stage/{tag}_txn_tt"
    shutil.rmtree(root, ignore_errors=True)
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(
        o.filter(F.col("o_orderkey") % 4 != 0).repartitionByRange(
            4, "o_orderkey"
        )
    )
    tt.append(o.filter(F.col("o_orderkey") % 4 == 0))
    tt.delete_where(F.col("o_orderkey") % 10 == 1)
    snaps = [
        tt.read(v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total"),
        )
        for v in (0, 1, 2)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionAll(s)
    return out


@query(
    "table_incremental_read",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
)
def table_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC-lite) read off the txn-log table format: three
    append commits partition orders by key mod 3; ``read_changes(0, 2)``
    must return EXACTLY the rows of the two later appends — resolved
    from manifest file-set differences (carried-by-reference files never
    reappear), zero data diffing. This is the consumer half of
    streaming ingestion at scale: downstream jobs tail the log and
    process only new files, never rescanning the table."""
    import os
    import shutil

    from xlsx_to_database_spark.operators.txn_table import TxnTable

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/spark_stage/{tag}_txn_incr"
    shutil.rmtree(root, ignore_errors=True)
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.filter(F.col("o_orderkey") % 3 == 0))
    tt.append(o.filter(F.col("o_orderkey") % 3 == 1))
    tt.append(o.filter(F.col("o_orderkey") % 3 == 2))
    return tt.read_changes(0, 2).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "table_schema_evolution",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL
                ELSE o_orderstatus END AS status_tag
    FROM orders
    """,
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the txn-log table format: the table
    is created WITHOUT ``status_tag``, a later append carries it, and
    reads merge the parquet footers (`mergeSchema`) so pre-evolution
    files surface NULL — history is never rewritten. A final
    ``compact()`` (OPTIMIZE) bin-packs the mixed-schema file set into
    range-clustered files as a NEW COMMIT and must leave the logical
    content — including the evolved NULLs — bit-identical, while old
    snapshots keep resolving their original manifests."""
    import os
    import shutil

    from xlsx_to_database_spark.operators.txn_table import TxnTable

    o = table(spark, sf_dir, "orders")
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/spark_stage/{tag}_txn_evolve"
    shutil.rmtree(root, ignore_errors=True)
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", F.col("o_totalprice").alias("price")
        )
    )
    tt.append(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status_tag"),
        )
    )
    tt.compact(target_files=4)
    return tt.read().select(
        "o_orderkey", F.round("price", 2).alias("price"), "status_tag"
    )


@query(
    "stat_qq",
    """
    WITH q AS (
      SELECT percentile_cont([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               WITHIN GROUP (ORDER BY CASE WHEN o_orderpriority = '1-URGENT'
                                           THEN o_totalprice END) AS qa,
             percentile_cont([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               WITHIN GROUP (ORDER BY CASE WHEN o_orderpriority = '5-LOW'
                                           THEN o_totalprice END) AS qb
      FROM orders
    )
    SELECT i AS decile, round(qa[i], 2) AS q_urgent, round(qb[i], 2) AS q_low,
           round(qa[i] / qb[i], 4) AS qq_ratio
    FROM q, (SELECT unnest(range(1, 10)) AS i)
    """,
)
def stat_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q (quantile-quantile) comparison of two order-price
    distributions — the distribution-shift diagnostic that answers
    'same shape, different scale, or different shape?' where a mean
    comparison answers nothing. Both deciles vectors come from ONE
    aggregate pass (conditional-NULL metric: aggregates skip NULLs, so
    each percentile sees only its segment — no second scan, no join);
    the 9-point curve then posexplodes from a single row. Exact
    percentile interpolation is identical IEEE arithmetic on both
    engines (the agg_percentile precedent); at 100 TB the substitute
    is percentile_approx on the same shape."""
    o = table(spark, sf_dir, "orders")
    ps = [i / 10 for i in range(1, 10)]
    ua = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))
    lb = F.when(F.col("o_orderpriority") == "5-LOW", F.col("o_totalprice"))
    q = o.agg(
        F.percentile(ua, F.lit(ps)).alias("qa"),
        F.percentile(lb, F.lit(ps)).alias("qb"),
    )
    z = q.select(F.posexplode(F.arrays_zip("qa", "qb")))
    return z.select(
        (F.col("pos") + 1).cast("int").alias("decile"),
        F.round(F.col("col.qa"), 2).alias("q_urgent"),
        F.round(F.col("col.qb"), 2).alias("q_low"),
        F.round(F.col("col.qa") / F.col("col.qb"), 4).alias("qq_ratio"),
    )


@query(
    "stat_pareto",
    """
    WITH rev AS (
      SELECT o_custkey AS k,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey
    ), rk AS (
      SELECT k, r, ntile(10) OVER (ORDER BY r DESC, k) AS decile FROM rev
    ), d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             sum(r) AS drev
      FROM rk GROUP BY decile
    )
    SELECT decile, n_customers,
           round(CAST(drev AS DOUBLE)
                 / CAST(sum(drev) OVER () AS DOUBLE), 6) AS rev_share,
           round(CAST(sum(drev) OVER (ORDER BY decile
                                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(sum(drev) OVER () AS DOUBLE), 6) AS cum_share
    FROM d
    """,
)
def stat_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration curve — 'the top 10% of customers
    carry what share of revenue?', the whale-detection readout behind
    every account-tiering decision. Customers rank into revenue deciles
    with the BUCKETED global-order machinery (`with_global_ntile` —
    boundaries from a data-sized sample, per-bucket windows, never one
    global partition over the fact-scale customer set; the driving key
    is the negated revenue to honor the ascending-bucket contract).
    Everything after the decile assignment operates on ≤ 10 rows.
    DECIMAL revenue end to end; doubles appear only in the final share
    divisions."""
    from xlsx_to_database_spark.operators.global_order import (
        with_global_ntile,
    )

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    ).withColumn("rneg", -F.col("r"))
    rk = with_global_ntile(
        rev, [F.col("rneg").asc(), F.col("k").asc()], "rneg", 10,
        out="decile",
    )
    d = rk.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("r").alias("drev")
    )
    from pyspark.sql import Window

    w_all = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_run = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = F.sum("drev").over(w_all).cast("double")
    return d.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.round(F.col("drev").cast("double") / tot, 6).alias("rev_share"),
        F.round(F.sum("drev").over(w_run).cast("double") / tot, 6).alias(
            "cum_share"
        ),
    )


@query(
    "text_stem",
    r"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), st AS (
      SELECT CASE WHEN length(s3) > 5 AND s3 LIKE '%ing'
                  THEN regexp_replace(s3, 'ing$', '')
                  WHEN length(s3) > 4 AND s3 LIKE '%ed'
                  THEN regexp_replace(s3, 'ed$', '')
                  ELSE s3 END AS stem
      FROM (
        SELECT regexp_replace(
                 regexp_replace(
                   regexp_replace(w, 'ies$', 'y'),
                   'sses$', 'ss'),
                 '([^su])s$', '\1') AS s3
        FROM toks WHERE w <> ''
      )
    )
    SELECT stem, CAST(count(*) AS BIGINT) AS cnt
    FROM st GROUP BY stem ORDER BY cnt DESC, stem LIMIT 20
    """,
)
def text_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based suffix stemming (Porter step-1 lite: ies→y, sses→ss,
    plural -s, gated -ing/-ed) with top-stem counts — the
    vocabulary-collapse step classical search/TF-IDF pipelines run
    before counting. All codegen regexp_replace chains (each engine
    uses its own backreference syntax, same semantics); one explode,
    one hash aggregate with map-side collapse. The LIKE-gates keep
    short tokens intact ('sing' and 'red' survive), matching the
    length guards real stemmers carry."""
    d = table(spark, sf_dir, "documents")
    w = F.col("w")  # already lowercased by the split below
    s3 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(w, r"ies$", "y"), r"sses$", "ss"
        ),
        r"([^su])s$", r"$1",
    )
    toks = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .select(s3.alias("s3"))
    )
    stem = toks.select(
        F.when(
            (F.length("s3") > 5) & F.col("s3").endswith("ing"),
            F.regexp_replace("s3", r"ing$", ""),
        )
        .when(
            (F.length("s3") > 4) & F.col("s3").endswith("ed"),
            F.regexp_replace("s3", r"ed$", ""),
        )
        .otherwise(F.col("s3"))
        .alias("stem")
    )
    return (
        stem.groupBy("stem")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "stem")
        .limit(20)
    )


@query(
    "graph_connected_components",
    """
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), cc(node, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
      UNION
      SELECT s.u, cc.lbl FROM sym s JOIN cc ON cc.node = s.v
      WHERE cc.lbl < s.u
    ), comp AS (
      SELECT node, min(lbl) AS component FROM cc GROUP BY node
    )
    SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
    FROM comp GROUP BY component
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the STRONG-TIE co-purchase graph (parts
    co-ordered ≥ 2 times — the single-order ties that glue everything
    into one blob are dropped, leaving real product-affinity clusters).
    The same converged hash-to-min label propagation that powers
    `dedup_cluster` (operators/dedup.py::connected_components:
    per-round join + min-aggregate, localCheckpoint'd lineage,
    label-sum fixpoint detection — exact, not bounded-iteration), on a
    general graph instead of dup pairs. The oracle replays it as a
    recursive CTE (transitive min-label closure) — exponentially more
    expensive but declaratively obviously-correct, the right
    division of labor between the engines."""
    from xlsx_to_database_spark.operators.dedup import connected_components

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("u", "v")
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    comp = connected_components(nodes, e, node_col="node",
                                src_col="u", dst_col="v")
    return comp.groupBy(F.col("cluster_id").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@query(
    "event_attribution",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END AS touch
      FROM events
    ), carried AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(touch IGNORE NULLS) OVER w AS last_touch,
             first_value(touch IGNORE NULLS) OVER w AS first_touch
      FROM ordered
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT model, touch_type, CAST(count(*) AS BIGINT) AS conversions,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS revenue
    FROM (
      SELECT 'last' AS model, last_touch AS touch_type, value
      FROM carried WHERE event_type = 'purchase'
      UNION ALL
      SELECT 'first', first_touch, value
      FROM carried WHERE event_type = 'purchase'
    ) t GROUP BY model, touch_type
    """,
)
def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch marketing attribution: every purchase
    credits the first (and, separately, the last) preceding click/view
    of the same user — the two bookend models every attribution debate
    starts from. One per-user window pass carries both candidate
    touches via first/last(ignoreNulls) over a running frame (no
    self-join, no per-conversion re-scan); purchases with no preceding
    touch fall into the NULL-touch bucket, stated rather than dropped.
    Total order (ts, event_id) makes tie-carrying engine-identical;
    revenue quantizes to DECIMAL before the cross-user sum. One shuffle
    on user_id, per-user partitions bounded."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    ).filter(F.col("event_type") == "purchase")
    both = carried.select(
        F.lit("last").alias("model"),
        F.col("last_touch").alias("touch_type"), "v"
    ).unionByName(
        carried.select(
            F.lit("first").alias("model"),
            F.col("first_touch").alias("touch_type"), "v"
        )
    )
    return both.groupBy("model", "touch_type").agg(
        F.count(F.lit(1)).alias("conversions"),
        F.round(F.sum("v").cast("double"), 2).alias("revenue"),
    )


@query(
    "etl_calendar_scaffold",
    """
    WITH span AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ), days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM span
    ), types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.day, t.event_type,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
    FROM days d CROSS JOIN types t
    LEFT JOIN actual a ON a.day = d.day AND a.event_type = t.event_type
    """,
)
def etl_calendar_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar scaffolding / gap backfill — the densification every
    time-series consumer needs before window math: a (day × event_type)
    grid spanning the data's full date range, left-joined onto actual
    daily counts with zero-fill, so silent days EXIST as rows (a moving
    average over a frame with missing days is silently wrong — the
    frame must see the zeros). The day spine explodes from a one-row
    (min, max) aggregate via `sequence` — never a driver-side range
    loop; the type dimension is data-derived and bounded. Scaffold size
    is calendar-span × types (metadata-scale); only the daily aggregate
    touches data."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = span.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = days.crossJoin(types)
    return grid.join(actual, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


@query(
    "win_drawdown",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), cm AS (
      SELECT day,
             sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily
    ), c AS (
      SELECT day,
             max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - cum
               AS dd,
             count(*) OVER () AS n_days
      FROM cm
    )
    SELECT day AS trough_day, round(CAST(dd AS DOUBLE), 2) AS max_drawdown,
           CAST(n_days AS BIGINT) AS n_days
    FROM c ORDER BY dd DESC, day LIMIT 1
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-revenue series — the
    canonical running-peak-to-trough statistic (risk in finance, 'how
    far below our best have we fallen' anywhere else). Running sum,
    running max of it, and their difference are ALL exact DECIMAL (the
    one double conversion is display-side), so the argmax is
    engine-exact with the day as tie-break. Windows run over one row
    per calendar day (histogram-class, bounded at any SF); the scan +
    per-day aggregate is the only data-sized stage."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = F.sum("x").over(w_run)
    c = daily.select(
        F.col("day").alias("trough_day"),
        (F.max(cum).over(w_run) - cum).alias("dd"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    )
    return c.orderBy(F.col("dd").desc(), "trough_day").limit(1).select(
        "trough_day",
        F.round(F.col("dd").cast("double"), 2).alias("max_drawdown"),
        "n_days",
    )


@query(
    "text_markov_bigrams",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM (
        SELECT t, CAST(unnest(range(1, len(t))) AS INT) AS i FROM toks
      ) WHERE len(t) >= 2
    ), cnt AS (
      SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    )
    SELECT w1, w2, CAST(c AS BIGINT) AS cnt,
           round(CAST(c AS DOUBLE)
                 / sum(c) OVER (PARTITION BY w1), 4) AS p_w2_given_w1
    FROM cnt ORDER BY c DESC, w1, w2 LIMIT 20
    """,
)
def text_markov_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram transition model — the order-1 Markov LM over the
    corpus (next-token prediction's simplest ancestor, and the
    colocation statistic behind phrase mining): adjacent token pairs
    within each document, with P(w2|w1) from a per-prefix window over
    the aggregated counts (runs on the bigram-vocabulary aggregate,
    never the raw pair stream). Pair generation is one codegen
    `transform` over token indices + `posexplode` — no shuffle until
    the count aggregate, which collapses map-side on the
    vocabulary-bounded key."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i + 1).alias("w1"),
                    F.element_at(F.col("t"), i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    tot = F.sum("c").over(Window.partitionBy("w1"))
    return (
        cnt.select(
            "w1", "w2",
            F.col("c").cast("long").alias("cnt"),
            F.round(F.col("c").cast("double") / tot, 4).alias(
                "p_w2_given_w1"
            ),
        )
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "etl_scd2_lookup",
    """
    WITH dim AS (
      SELECT c_custkey, DATE '1992-01-01' AS ef,
             CASE WHEN c_custkey % 7 = 0 THEN DATE '1996-01-01'
                  ELSE DATE '9999-12-31' END AS et,
             1 AS ver
      FROM customer
      UNION ALL
      SELECT c_custkey, DATE '1996-01-01', DATE '9999-12-31', 2
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT ver, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
      AND o.o_orderdate >= d.ef AND o.o_orderdate < d.et
    GROUP BY ver
    """,
)
def etl_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the consumer half of `etl_scd2`
    and THE join of dimensional modeling: each fact row joins the
    dimension VERSION whose [effective_from, effective_to) validity
    interval contains the fact date (every 7th customer re-versions on
    1996-01-01). Plan shape: an EQUI-join on the business key with the
    validity range as a post-join filter — versions per key are bounded
    small (append-only history, single digits in practice), so the
    bounded fan-out equi-join is strictly better than any interval-join
    rewrite at 100 TB; AQE picks broadcast vs shuffle from the dim's
    measured size."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.lit("1992-01-01").cast("date").alias("ef"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.lit("1996-01-01")
        ).otherwise(F.lit("9999-12-31")).cast("date").alias("et"),
        F.lit(1).alias("ver"),
    )
    v2 = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("1996-01-01").cast("date").alias("ef"),
        F.lit("9999-12-31").cast("date").alias("et"),
        F.lit(2).alias("ver"),
    )
    dim = v1.unionByName(v2)
    j = o.join(dim, o.o_custkey == dim.c_custkey).filter(
        (F.col("o_orderdate") >= F.col("ef"))
        & (F.col("o_orderdate") < F.col("et"))
    )
    return j.groupBy("ver").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("revenue"),
    )


@query(
    "stat_anova",
    """
    WITH g AS (
      SELECT o_orderpriority,
             count(*) AS n_g,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g,
             sum(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS ss_g
      FROM orders GROUP BY o_orderpriority
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS DOUBLE) AS s,
             CAST(sum(CAST(ss_g AS DECIMAL(38,6))) AS DOUBLE) AS ss,
             CAST(sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g
                           AS DECIMAL(38,6))) AS DOUBLE) AS sq
      FROM g
    )
    SELECT k, n,
           round((sq - s * s / n) / (k - 1)
                 / ((ss - sq) / (n - k)), 6) AS f_stat,
           round((sq - s * s / n) / (ss - s * s / n), 6) AS eta_sq
    FROM m
    """,
)
def stat_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order priorities — does ANY group
    mean differ? (the k-group generalization of `stat_ttest`; the
    F-statistic and effect size η² every experiment readout with >2
    arms needs). Sufficient statistics only: per-group (n, Σx, Σx²) as
    exact DECIMAL sums in ONE aggregate pass, then a 5-row metadata
    re-aggregate — between/within sums of squares never touch
    individual rows again. The per-group double terms (s_g²/n_g)
    quantize to DECIMAL(38,6) before the cross-group sum so
    accumulation order can't matter (the agg_entropy discipline).
    Shape: one shuffle, everything after is ≤ k rows at any SF."""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(x).alias("s_g"),
        F.sum(x * x).alias("ss_g"),
    )
    m = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.sum(F.col("ss_g").cast("decimal(38,6)")).cast("double").alias("ss"),
        F.sum(
            (F.col("s_g").cast("double") * F.col("s_g").cast("double")
             / F.col("n_g")).cast("decimal(38,6)")
        ).cast("double").alias("sq"),
    )
    ssb = F.col("sq") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sq")
    sst = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    return m.select(
        "k",
        "n",
        F.round(ssb / (F.col("k") - 1) / (ssw / (F.col("n") - F.col("k"))),
                6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


@query(
    "funnel_time_window",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.t1
        AND e.ts <= s1.t1 + INTERVAL '7 days'
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e
      JOIN s2 ON e.user_id = s2.user_id
      JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        AND e.ts <= s1.t1 + INTERVAL '7 days'
      GROUP BY e.user_id
    )
    SELECT 1 AS step, CAST(count(*) AS BIGINT) AS users FROM s1
    UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
    UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3
    """,
)
def funnel_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a bounded window — windowFunnel
    semantics: signup → click → purchase must ALL land within 7 days of
    the user's first signup (the unconstrained `funnel_steps` answers
    'ever converted'; product analytics always asks 'converted within
    N days'). Same scale skeleton: staged per-user min aggregates, all
    shuffles keyed on user_id, each stage's scan pre-filtered to one
    event type — the window constraint is a per-row predicate against
    the anchoring t1, adding zero extra shuffles."""
    ev = table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t1"))
                & (F.col("ts") <= F.col("t1") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t2"))
                & (F.col("ts") <= F.col("t1") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.lit(1).alias("step"), F.count(F.lit(1)).alias("users"))
        .unionAll(
            s2.agg(F.lit(2).alias("step"), F.count(F.lit(1)).alias("users"))
        )
        .unionAll(
            s3.agg(F.lit(3).alias("step"), F.count(F.lit(1)).alias("users"))
        )
    )


@query(
    "etl_train_test_split",
    """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN h < 90 THEN 'train'
                  WHEN h < 95 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               (doc_id * 2654435761 + 12345) % 100 AS h
        FROM documents
      )
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM tagged GROUP BY split
    """,
)
def etl_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by a
    multiplicative hash of the document id — the split every training
    pipeline needs, with the two properties random splits silently
    lose at scale: (1) STABILITY — re-running on a grown corpus never
    moves an old document between splits (its id hashes the same), so
    eval sets stay uncontaminated across refreshes; (2) JOIN-FREE —
    the label is a map-only expression, never a membership table to
    look up. Disjointness and assignment are pinned by the exact
    oracle replaying identical integer arithmetic."""
    d = table(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(12345),
               F.lit(100))
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


@query(
    "vec_truncate_renorm",
    """
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM t
    )
    SELECT vec_id, round(nrm, 6) AS trunc_norm,
           array_to_string(list_transform(e,
                 x -> CAST(CAST(floor(x / nrm * 1000000 + 0.5) AS BIGINT)
                           AS VARCHAR)), ',') AS unit_vec_q6
    FROM n
    """,
)
def vec_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first 8
    dimensions and re-normalize — how MRL-trained embeddings trade
    accuracy for a k/d storage+compute cut (the coarse tier of a
    two-tier ANN: search truncated, re-rank full). Map-only codegen
    array lambdas, zero shuffle; components emitted as 1e-6-quantized
    integers (floor(x·1e6 + 0.5), the vec_normalize discipline —
    round-half-up on both engines, no double→string divergence)."""
    from xlsx_to_database_spark.operators.similarity import _norm_sql

    e = table(spark, sf_dir, "embeddings")
    t = e.select("vec_id", F.slice("embedding", 1, 8).alias("emb8"))
    comp = (
        lambda x: F.floor(x.cast("double") / F.col("nrm") * 1000000 + 0.5)
        .cast("long").cast("string")
    )  # noqa: E731
    return t.withColumn("nrm", F.expr(_norm_sql("emb8"))).select(
        "vec_id",
        F.round("nrm", 6).alias("trunc_norm"),
        F.concat_ws(",", F.transform("emb8", comp)).alias("unit_vec_q6"),
    )


@query(
    "stat_powerlaw",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) t(u) GROUP BY u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tail,
           CAST(min(d) AS BIGINT) AS d_min,
           round(1.0 + count(*) / CAST(sum(CAST(ln(CAST(d AS DOUBLE) / 4)
                                               AS DECIMAL(28,18)))
                                        AS DOUBLE), 6) AS alpha
    FROM deg WHERE d > 4
    """,
)
def stat_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (Pareto) exponent of the co-purchase degree tail via
    the Hill/Clauset MLE — α = 1 + n / Σ ln(d/d_min) over degrees above
    the cutoff — the quantitative follow-up to
    `graph_degree_distribution`'s 'is it heavy-tailed?' (α ≈ 2–3 is the
    scale-free regime; the estimate drives hub-skew planning). Each ln
    term quantizes to DECIMAL(28,18) before summation (order-immune,
    engine-exact); the tail is strictly above the cutoff so no ln(1)=0
    degeneracy inflates n. Two aggregates over the edge list; the MLE
    itself is a one-row re-aggregate."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = a.join(b, "o").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d_min = 4
    tail = deg.filter(F.col("d") > d_min)
    return tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.min("d").cast("long").alias("d_min"),
        F.round(
            1.0
            + F.count(F.lit(1))
            / F.sum(
                F.log(F.col("d").cast("double") / d_min).cast("decimal(28,18)")
            ).cast("double"),
            6,
        ).alias("alpha"),
    )


@query(
    "etl_dead_letter",
    """
    SELECT 'good' AS route, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) + sum(o_custkey) AS BIGINT) AS key_checksum,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders
    UNION ALL
    SELECT 'dead_letter', 3, NULL, NULL
    """,
)
def etl_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing — `csv_malformed_scan`'s DROP policy loses
    the broken rows; production ingestion ROUTES them: PERMISSIVE parse
    with a corrupt-record column, good rows land in the warehouse, raw
    broken lines land in a dead-letter store for replay/forensics. BOTH
    route counts come from READING BACK the written files (not the
    in-flight frame), so the op proves both sides of the quarantine
    actually persisted. The parsed frame is cached for the one good/bad
    split — the documented exception to the no-cache habit: Spark
    disallows queries referencing ONLY the corrupt column precisely
    because each access would re-parse; a DLQ split wants exactly one
    parse. Returning read-backs (never the raw-CSV frame) is ALSO a
    correctness requirement, not a style choice: a downstream
    ``count()`` over a returned raw-CSV plan would column-prune the
    good branch to `_corrupt` alone and trip
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN once the
    cache is gone (observed: mirror `collect()` passed, entry
    `count()` failed); parquet/text read-backs are pruning-proof."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    src_size = os.path.getsize(os.path.join(sf_dir, "orders.parquet"))
    dst = f"/tmp/spark_stage/{tag}_orders_csv_{src_size}"
    garbage = os.path.join(dst, "zz_garbage.csv")
    if not os.path.exists(garbage):
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.mode("overwrite")
            .csv(dst)
        )
        with open(garbage, "w") as fh:
            fh.write("x,1,1-URGENT,1.5\n2,y,5-LOW,2.5\n3,3,3-MEDIUM,notadouble\n")
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string, "
        "o_totalprice double, _corrupt string"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dst)
        .cache()
    )
    dlq = f"{dst}_dlq"
    (
        df.filter(F.col("_corrupt").isNotNull())
        .select("_corrupt")
        .write.mode("overwrite")
        .text(dlq)
    )
    # Selecting EVERY real column here does double duty: (1) CSV
    # type-checking is pruned to the referenced columns (even through
    # the cache), so a projection without o_totalprice would pass rows
    # whose breakage lives in an unreferenced field (the
    # csv_malformed_scan lesson, and the cause of an observed 2-row
    # leak into the good route); (2) the good route persists the full
    # parsed record, which is what the warehouse side of a DLQ split
    # stores anyway.
    good_dst = f"{dst}_good"
    (
        df.filter(F.col("_corrupt").isNull())
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .parquet(good_dst)
    )
    good = spark.read.parquet(good_dst).agg(
        F.lit("good").alias("route"),
        F.count(F.lit(1)).alias("n"),
        (F.sum("o_orderkey") + F.sum("o_custkey")).cast("long").alias(
            "key_checksum"
        ),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("revenue"),
    )
    dead = spark.read.text(dlq).agg(
        F.lit("dead_letter").alias("route"),
        F.count(F.lit(1)).alias("n"),
        F.lit(None).cast("long").alias("key_checksum"),
        F.lit(None).cast("double").alias("revenue"),
    )
    out = good.unionAll(dead)
    df.unpersist()
    return out


@query(
    "stat_control_chart",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), m AS (
      SELECT day, CAST(x AS DOUBLE) AS xd,
             CAST(sum(x) OVER () AS DOUBLE) / count(*) OVER () AS mu,
             count(*) OVER () AS n,
             CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                           AS DECIMAL(38,6))) OVER () AS DOUBLE) AS sxx
      FROM daily
    )
    SELECT day, round(xd, 2) AS revenue,
           round((xd - mu) / sqrt((sxx - mu * mu * n) / (n - 1)), 4)
             AS z_score,
           CASE WHEN abs(xd - mu)
                     > 3 * sqrt((sxx - mu * mu * n) / (n - 1))
                THEN 1 ELSE 0 END AS out_of_control
    FROM m
    WHERE abs(xd - mu) > 3 * sqrt((sxx - mu * mu * n) / (n - 1))
    """,
)
def stat_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart over daily revenue — the online process-
    monitoring counterpart to `stat_changepoint`'s offline argmax:
    flag every day outside mean ± 3σ control limits (the page-one SPC
    rule, and the simplest useful production alert). Sufficient
    statistics via windows over the per-day aggregate (Σx exact
    DECIMAL; each x² term DECIMAL-quantized before the window sum, the
    cross-engine summation discipline); z-scores and limits are then
    identical double arithmetic. Calendar-bounded windows — one
    data-sized stage (the scan + per-day aggregate), everything after
    runs on ≤ span rows."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    xd = F.col("x").cast("double")
    m = daily.select(
        "day",
        xd.alias("xd"),
        (F.sum("x").over(w_all).cast("double")
         / F.count(F.lit(1)).over(w_all)).alias("mu"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum((xd * xd).cast("decimal(38,6)")).over(w_all).cast("double")
        .alias("sxx"),
    )
    sd = F.sqrt(
        (F.col("sxx") - F.col("mu") * F.col("mu") * F.col("n"))
        / (F.col("n") - 1)
    )
    return m.filter(F.abs(F.col("xd") - F.col("mu")) > 3 * sd).select(
        "day",
        F.round("xd", 2).alias("revenue"),
        F.round((F.col("xd") - F.col("mu")) / sd, 4).alias("z_score"),
        F.when(F.abs(F.col("xd") - F.col("mu")) > 3 * sd, 1)
        .otherwise(0).alias("out_of_control"),
    )


@query(
    "graph_common_neighbors",
    """
    WITH e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM sym GROUP BY u
    ), wedge AS (
      SELECT x.u AS a, y.v AS b, count(*) AS common
      FROM sym x JOIN sym y ON x.v = y.u AND x.u < y.v
      GROUP BY x.u, y.v
    ), cand AS (
      SELECT w.a, w.b, w.common FROM wedge w
      LEFT JOIN e ON e.u = w.a AND e.v = w.b
      WHERE e.u IS NULL
    )
    SELECT a, b, CAST(common AS BIGINT) AS common_neighbors,
           round(CAST(common AS DOUBLE)
                 / (da.d + db.d - common), 6) AS jaccard
    FROM cand JOIN deg da ON da.node = a JOIN deg db ON db.node = b
    ORDER BY common DESC, a, b LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the strong-tie co-purchase graph: rank
    UNCONNECTED part pairs by common-neighbor count and neighborhood
    Jaccard — the classic 'products bought with the same things sell
    together next' recommender signal (Liben-Nowell & Kleinberg's
    strongest simple baselines). Shape: one wedge equi-join through the
    shared neighbor (the `graph_triangles` primitive pointed outward —
    candidates with ≥1 common neighbor, never all pairs), an anti-join
    drops already-connected pairs, degrees attach by equi-join. All
    shuffles on node keys; wedge volume is Σ deg² — the degree-ordered
    orientation from graph_triangles is the documented upgrade if hubs
    dominate."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    x = sym.select(F.col("u").alias("a"), F.col("v").alias("n"))
    y = sym.select(F.col("u").alias("n"), F.col("v").alias("b"))
    wedge = (
        x.join(y, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedge.join(
        e, (e.u == wedge.a) & (e.v == wedge.b), "left_anti"
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("long").alias("common_neighbors"),
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("common_neighbors").desc(), "a", "b")
        .limit(20)
    )


@query(
    "assoc_rules",
    """
    WITH item AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
    ), n AS (
      SELECT count(DISTINCT o) AS n_orders FROM item
    ), cnt AS (
      SELECT i, count(*) AS c FROM item GROUP BY i
    ), pair AS (
      SELECT a.i AS u, b.i AS v, count(*) AS c_uv
      FROM item a JOIN item b ON a.o = b.o AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), rules AS (
      SELECT u AS antecedent, v AS consequent, c_uv FROM pair
      UNION ALL
      SELECT v, u, c_uv FROM pair
    )
    SELECT antecedent, consequent, CAST(c_uv AS BIGINT) AS pair_orders,
           round(CAST(c_uv AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(c_uv AS DOUBLE) / ca.c, 6) AS confidence,
           round(CAST(c_uv * n.n_orders AS DOUBLE) / (ca.c * cb.c), 6)
             AS lift
    FROM rules
    JOIN cnt ca ON ca.i = antecedent
    JOIN cnt cb ON cb.i = consequent
    CROSS JOIN n
    ORDER BY lift DESC, antecedent, consequent LIMIT 25
    """,
)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift) over
    the order→part incidence — the 'customers who bought X also bought
    Y' primitive, and the frequent-itemset k=2 pass of Apriori/FP-growth.
    Candidate pairs come from a self-equi-join on the ORDER key (bounded
    fan-out: C(items_per_order, 2) per order, ~7 items in TPC-H — never
    parts²); item supports and the order total attach by equi-join /
    one-row broadcast. Lift is computed as (c_uv·N) / (c_a·c_b) with the
    integer products taken exactly in int64 and ONE double division, so
    both engines emit the identical double; ties at the LIMIT boundary
    break on (antecedent, consequent).

    Scale shape: shuffles on order key then pair key — both hash
    partitioned, both combiner-friendly; the ≥2-order support floor
    prunes the long pair tail before the rule join. The N scalar rides a
    broadcast one-row aggregate, never a driver collect."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    n = li.agg(F.countDistinct("o").alias("n_orders"))
    cnt = li.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    a = li.select(F.col("o"), F.col("i").alias("u"))
    b = li.select(F.col("o"), F.col("i").alias("v"))
    pair = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c_uv"))
        .filter(F.col("c_uv") >= 2)
    )
    rules = pair.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "c_uv"
    ).unionAll(
        pair.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"),
            "c_uv",
        )
    )
    ca = cnt.select(F.col("i").alias("antecedent"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("i").alias("consequent"), F.col("c").alias("cb"))
    return (
        rules.join(ca, "antecedent")
        .join(cb, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("c_uv").cast("long").alias("pair_orders"),
            F.round(F.col("c_uv").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("c_uv").cast("double") / F.col("ca"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("c_uv") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(25)
    )


@query(
    "stat_proportion_ztest",
    """
    WITH s AS (
      SELECT
        count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
          AS n1,
        count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')
                         AND o_orderstatus = 'F') AS x1,
        count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
          AS n2,
        count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         AND o_orderstatus = 'F') AS x2
      FROM orders
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
           round(CAST(x1 AS DOUBLE) / n1, 6) AS p1,
           round(CAST(x2 AS DOUBLE) / n2, 6) AS p2,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z
    FROM s
    """,
)
def stat_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test — the conversion-rate A/B gate
    (`stat_ttest` is its means sibling, `stat_chi2` its k-way cousin):
    does the high-priority arm finalize orders at a different rate? All
    four sufficient statistics (n, successes per arm) come from ONE
    conditional-count aggregate pass; p1, p2, the pooled p and the z
    statistic are pure scalar arithmetic on them. Double determinism:
    every input is an exact int64 count, each derived term is written
    with the identical operation tree in both engines (single divisions,
    left-associated products, one correctly-rounded sqrt), so the
    rounded z matches bit-for-bit.

    Scale shape: one map-side-combined aggregate to a single row —
    min-possible cost at any SF; no shuffle beyond the 1-row final."""
    o = table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    succ = F.col("o_orderstatus") == "F"
    s = o.agg(
        F.count_if(hi).alias("n1"),
        F.count_if(hi & succ).alias("x1"),
        F.count_if(~hi).alias("n2"),
        F.count_if(~hi & succ).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    se = F.sqrt(
        pp * (F.lit(1) - pp)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("x1").cast("long").alias("x1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("x2").cast("long").alias("x2"),
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round((p1 - p2) / se, 6).alias("z"),
    )


def bfs_hops(sym: DataFrame, max_hops: int) -> DataFrame:
    """Level-synchronous BFS from the minimum node id of a symmetric
    edge list ``sym(u, v)``: returns (node, hops) for every node within
    ``max_hops``, where hops is the exact shortest-path distance (each
    node enters the visited set at its first frontier level). Each
    level is localCheckpointed so lineage stays O(1) per level and the
    visited set re-enters the anti-join as materialized partitions; the
    per-level isEmpty is a bounded driver-side check (≤ max_hops)."""
    sym = sym.localCheckpoint()
    dist = (
        sym.agg(F.min("u").alias("node"))
        .select("node", F.lit(0).cast("int").alias("hops"))
        .localCheckpoint()
    )
    frontier = dist.select("node")
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(d).cast("int").alias("hops"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        dist = dist.unionAll(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return dist


@query(
    "graph_shortest_hops",
    """
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), bfs AS (
      SELECT min(u) AS node, 0 AS d FROM sym
      UNION
      SELECT sym.v, bfs.d + 1
      FROM bfs JOIN sym ON sym.u = bfs.node WHERE bfs.d < 6
    )
    SELECT CAST(d AS INT) AS hops, CAST(count(*) AS BIGINT) AS n_nodes
    FROM (SELECT node, min(d) AS d FROM bfs GROUP BY node)
    GROUP BY d ORDER BY d
    """,
)
def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (≤ 6 hops) over the strong-tie
    co-purchase graph from its lowest-id node — reach-in-k-hops is the
    'how far does influence/recall spread' question, and the frontier
    pattern here is the template for any per-source graph traversal
    (`graph_connected_components` labels everything; this measures
    DISTANCE from one seed). Per level: frontier ⋈ edges (hash shuffle
    on node key), distinct, anti-join against the visited set — each
    node enters `dist` at its FIRST (minimal) level, which IS the BFS
    distance. Each level is localCheckpointed: the visited set
    re-enters the next anti-join as materialized partitions, not a
    re-derivation, so lineage stays O(1) per level (the
    connected-components lesson). Termination: hop cap 6 (matching the
    oracle's recursion guard) or an empty frontier — checked with a
    bounded driver-side isEmpty per level, ≤ 6 checks total.

    Scale shape: level-synchronous BFS — exactly how Pregel/GraphX run
    it; every join keys on the node id, the frontier is the only
    growing set and it's bounded by the reachable vertex set."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        bfs_hops(sym, max_hops=6)
        .groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hops")
    )


@query(
    "table_zorder_optimize",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_custkey % 3 = 2
      AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-07-01'
    """,
)
def table_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER as a transactional commit — `parquet_zorder_sink`
    proves the Morton layout; this op runs the same re-clustering AS A
    VERSIONED COMMIT on the txn-log table format (what Delta ships as
    `OPTIMIZE ... ZORDER BY`): the table is created hash-distributed
    (the worst layout — every file spans the full key space, the state
    real ingestion leaves behind), then `compact(order_by=morton_key)`
    rewrites it range-partitioned + sorted on the interleaved
    (custkey, orderdate) code as version 1, old snapshot untouched and
    still readable. Content integrity is the oracle (a two-predicate
    aggregate over the POST-OPTIMIZE read must match the source);
    the 2-D span narrowing and snapshot immutability are pinned in
    tests/test_txn_table.py. The quantization (min, max) scalars are 4
    driver-side values from one metadata aggregate, and the Morton key
    is the same pure codegen expression chain as the sink op — layout
    only, never part of row values."""
    import os
    import shutil

    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.round4_ops import _orders_morton_key

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/spark_stage/{tag}_txn_zorder"
    shutil.rmtree(root, ignore_errors=True)
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartition(8))
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    lo_c, hi_c, lo_d, hi_d = o.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min(day), F.max(day)
    ).collect()[0]

    tt.compact(
        target_files=8, order_by=_orders_morton_key(lo_c, hi_c, lo_d, hi_d)
    )
    return (
        tt.read()
        .filter(
            (F.col("o_custkey") % 3 == 2)
            & (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-07-01"))
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
    )


@query(
    "sim_two_tier",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e8
      FROM embeddings
    ), n AS (
      SELECT vec_id, e, e8,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
             sqrt(list_sum(list_transform(e8, x -> x * x))) AS nrm8
      FROM v
    ), q AS (
      SELECT e AS qe, e8 AS qe8, nrm AS qn, nrm8 AS qn8
      FROM n WHERE vec_id = 0
    ), coarse AS (
      SELECT vec_id, e, nrm, qe, qn,
             round(list_sum(list_transform(generate_series(1, len(e8)),
                                           i -> e8[i] * qe8[i]))
                   / (nrm8 * qn8), 6) AS coarse_sim
      FROM n, q
      ORDER BY coarse_sim DESC, vec_id LIMIT 50
    )
    SELECT vec_id, coarse_sim,
           round(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * qe[i]))
                 / (nrm * qn), 6) AS cos_sim
    FROM coarse ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def sim_two_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier (Matryoshka) ANN retrieval — the production pattern
    `vec_truncate_renorm` is the storage half of: tier 1 scores EVERY
    vector against the query in the truncated 8-dim space (a d/k
    compute cut; here 8/d of the FLOPs) and keeps the top-50
    candidates, tier 2 re-ranks ONLY those 50 with the exact full-dim
    cosine and returns the top-10. Both cuts are rounded-6 scores with
    vec_id tie-breaks — total order, so the candidate set (and thus
    the final ranking) is engine-deterministic, making the whole
    two-tier pipeline exactly SQL-oracle-able (unlike hash-dependent
    LSH/IVF, which are bounded-in-tests instead).

    Scale shape: tier 1 is a map-only broadcast-scalar scan +
    TakeOrdered(50) (no shuffle of the corpus); tier 2 touches 50 rows
    — free. At 100 TB the coarse tier is the only full pass and it
    reads 8 floats/row instead of d; recall depends on MRL training
    quality, which is the model's contract, not the engine's."""
    from xlsx_to_database_spark.operators.similarity import _cos_sim_sql

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e8 = "slice(embedding, 1, 8)"
    q = e.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS qe", "slice(embedding, 1, 8) AS qe8"
    )
    coarse = (
        e.crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id",
            "embedding",
            "qe",
            f"{_cos_sim_sql(e8, 'qe8')} AS coarse_sim",
        )
        .orderBy(F.col("coarse_sim").desc(), "vec_id")
        .limit(50)
    )
    return (
        coarse.selectExpr(
            "vec_id",
            "coarse_sim",
            f"{_cos_sim_sql('embedding', 'qe')} AS cos_sim",
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "stat_mutual_info",
    """
    WITH joint AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS c
      FROM orders GROUP BY 1, 2
    ), mx AS (
      SELECT x, sum(c) AS cx FROM joint GROUP BY x
    ), my AS (
      SELECT y, sum(c) AS cy FROM joint GROUP BY y
    ), n AS (
      SELECT sum(c) AS n FROM joint
    )
    SELECT CAST(max(n.n) AS BIGINT) AS n,
           round(CAST(sum(CAST((CAST(c AS DOUBLE) / n.n)
                     * ln(CAST(c * n.n AS DOUBLE) / (cx * cy))
                     AS DECIMAL(28,18))) AS DOUBLE), 6) AS mi_nats,
           round(CAST(sum(CAST(-(CAST(c AS DOUBLE) / n.n)
                     * ln(CAST(c AS DOUBLE) / n.n)
                     AS DECIMAL(28,18))) AS DOUBLE), 6) AS h_joint
    FROM joint
    JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
    """,
)
def stat_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between order priority and order
    status, plus the joint entropy — the feature-selection /
    dependence-detection primitive (`stat_chi2` tests the same
    independence; MI QUANTIFIES it in bits-like units, and is what
    ranks features for a classifier). One hash aggregate to the joint
    contingency table (≤ |X|·|Y| rows — metadata scale), marginals and
    the total re-aggregated FROM the joint (no second pass over the
    fact table), then Σ p·ln(p_xy/(p_x·p_y)) with each ln term
    DECIMAL(28,18)-quantized before summation (the stat_powerlaw/
    agg_entropy discipline: the ln argument is one double division of
    exact int64 products, identical in both engines; quantization
    removes any summation-order sensitivity).

    Scale shape: one map-side-combined shuffle to ≤ 15 cells; every
    join after it is cell-count-sized."""
    o = table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    mx = joint.groupBy("x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("c").alias("cy"))
    n = joint.agg(F.sum("c").alias("n"))
    t = (
        joint.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(n))
    )
    p = F.col("c").cast("double") / F.col("n")
    mi_term = (
        p
        * F.log(
            (F.col("c") * F.col("n")).cast("double")
            / (F.col("cx") * F.col("cy"))
        )
    ).cast("decimal(28,18)")
    h_term = (-p * F.log(p)).cast("decimal(28,18)")
    return t.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.sum(mi_term).cast("double"), 6).alias("mi_nats"),
        F.round(F.sum(h_term).cast("double"), 6).alias("h_joint"),
    )


@query(
    "dq_schema_drift",
    """
    WITH old AS (SELECT * FROM orders WHERE o_orderdate < DATE '1998-01-01'),
         new AS (SELECT * FROM orders WHERE o_orderdate >= DATE '1998-01-01')
    SELECT col_name, n_old, n_new, null_rate_old, null_rate_new,
           distinct_old, distinct_new,
           (abs(CAST(distinct_new AS DOUBLE) / n_new
                - CAST(distinct_old AS DOUBLE) / n_old) > 0.05
            OR abs(null_rate_new - null_rate_old) > 0.05) AS drift
    FROM (
      SELECT 'o_orderstatus' AS col_name,
             CAST((SELECT count(*) FROM old) AS BIGINT) AS n_old,
             CAST((SELECT count(*) FROM new) AS BIGINT) AS n_new,
             round(1 - CAST((SELECT count(o_orderstatus) FROM old) AS DOUBLE)
                       / (SELECT count(*) FROM old), 6) AS null_rate_old,
             round(1 - CAST((SELECT count(o_orderstatus) FROM new) AS DOUBLE)
                       / (SELECT count(*) FROM new), 6) AS null_rate_new,
             CAST((SELECT count(DISTINCT o_orderstatus) FROM old) AS BIGINT)
               AS distinct_old,
             CAST((SELECT count(DISTINCT o_orderstatus) FROM new) AS BIGINT)
               AS distinct_new
      UNION ALL
      SELECT 'o_orderpriority',
             CAST((SELECT count(*) FROM old) AS BIGINT),
             CAST((SELECT count(*) FROM new) AS BIGINT),
             round(1 - CAST((SELECT count(o_orderpriority) FROM old) AS DOUBLE)
                       / (SELECT count(*) FROM old), 6),
             round(1 - CAST((SELECT count(o_orderpriority) FROM new) AS DOUBLE)
                       / (SELECT count(*) FROM new), 6),
             CAST((SELECT count(DISTINCT o_orderpriority) FROM old) AS BIGINT),
             CAST((SELECT count(DISTINCT o_orderpriority) FROM new) AS BIGINT)
      UNION ALL
      SELECT 'o_custkey',
             CAST((SELECT count(*) FROM old) AS BIGINT),
             CAST((SELECT count(*) FROM new) AS BIGINT),
             round(1 - CAST((SELECT count(o_custkey) FROM old) AS DOUBLE)
                       / (SELECT count(*) FROM old), 6),
             round(1 - CAST((SELECT count(o_custkey) FROM new) AS DOUBLE)
                       / (SELECT count(*) FROM new), 6),
             CAST((SELECT count(DISTINCT o_custkey) FROM old) AS BIGINT),
             CAST((SELECT count(DISTINCT o_custkey) FROM new) AS BIGINT)
    )
    ORDER BY col_name
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot data drift report (the Deequ/Great-
    Expectations 'profile diff' job): for each monitored column,
    compare null rate and distinct cardinality between the old
    (< 1998) and new (≥ 1998) order snapshots and flag columns whose
    null-rate or distinct-ratio moved more than 5 points —
    `stat_psi_drift` watches one numeric distribution; this watches
    the SCHEMA-level health of many columns at once (the check that
    catches an upstream producer silently nulling a field or a
    cardinality explosion). ONE pass over the fact table: every
    (snapshot × column) statistic is a conditional aggregate in a
    single groupBy-less agg — count distincts per snapshot via
    count(DISTINCT when(cond, col)); Spark plans multi-distinct
    aggregates with one Expand, still a single scan.

    Scale shape: one scan + Expand(6 distinct groups) + 1-row final;
    the per-column report is built metadata-side from that row via a
    bounded 3-element explode — no per-column rescans at any SF."""
    o = table(spark, sf_dir, "orders")
    old = F.col("o_orderdate") < "1998-01-01"
    new = ~old
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = [
        F.count_if(old).alias("n_old"),
        F.count_if(new).alias("n_new"),
    ]
    for c in cols:
        aggs += [
            F.count(F.when(old, F.col(c))).alias(f"nn_old_{c}"),
            F.count(F.when(new, F.col(c))).alias(f"nn_new_{c}"),
            F.countDistinct(F.when(old, F.col(c))).alias(f"nd_old_{c}"),
            F.countDistinct(F.when(new, F.col(c))).alias(f"nd_new_{c}"),
        ]
    one = o.agg(*aggs)
    per = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(f"nn_old_{c}").alias("nn_old"),
                    F.col(f"nn_new_{c}").alias("nn_new"),
                    F.col(f"nd_old_{c}").alias("nd_old"),
                    F.col(f"nd_new_{c}").alias("nd_new"),
                )
                for c in cols
            ]
        )
    ).alias("s")
    t = one.select("n_old", "n_new", per).select(
        "s.col_name", "n_old", "n_new",
        "s.nn_old", "s.nn_new", "s.nd_old", "s.nd_new",
    )
    nr_old = F.round(
        F.lit(1) - F.col("nn_old").cast("double") / F.col("n_old"), 6
    )
    nr_new = F.round(
        F.lit(1) - F.col("nn_new").cast("double") / F.col("n_new"), 6
    )
    return t.select(
        "col_name",
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        nr_old.alias("null_rate_old"),
        nr_new.alias("null_rate_new"),
        F.col("nd_old").cast("long").alias("distinct_old"),
        F.col("nd_new").cast("long").alias("distinct_new"),
        (
            (
                F.abs(
                    F.col("nd_new").cast("double") / F.col("n_new")
                    - F.col("nd_old").cast("double") / F.col("n_old")
                )
                > 0.05
            )
            | (F.abs(nr_new - nr_old) > 0.05)
        ).alias("drift"),
    ).orderBy("col_name")


@query(
    "etl_k_anonymize",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(c_nationkey AS VARCHAR) AS nation, c_mktsegment AS segment,
           CAST(n AS BIGINT) AS n_rows, FALSE AS suppressed
    FROM g WHERE n >= 5
    UNION ALL
    SELECT '*', '*', CAST(sum(n) AS BIGINT), TRUE
    FROM g WHERE n < 5 HAVING count(*) > 0
    """,
)
def etl_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (k=5) over the quasi-identifier pair
    (nation, market segment): publishable groups keep their counts;
    every group smaller than k is generalized into ONE suppressed
    bucket ('*', '*') so no released row describes fewer than k
    people — the minimum viable privacy gate for sharing aggregates
    out of a 100 TB user corpus (`pii_redact` scrubs values INSIDE
    rows; this bounds re-identification across rows). One hash
    aggregate to the quasi-identifier groups, then a metadata-scale
    split on the k threshold; the suppressed bucket is a one-row
    re-aggregate guarded to vanish when nothing needs suppression.

    Scale shape: one combiner-friendly shuffle on the QI key; the
    k-filter and bucket union run on group counts (≤ |QI| rows)."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    keep = g.filter(F.col("n") >= 5).select(
        F.col("c_nationkey").cast("string").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n").cast("long").alias("n_rows"),
        F.lit(False).alias("suppressed"),
    )
    supp = (
        g.filter(F.col("n") < 5)
        .agg(F.sum("n").alias("s"), F.count(F.lit(1)).alias("ng"))
        .filter(F.col("ng") > 0)
        .select(
            F.lit("*").alias("nation"),
            F.lit("*").alias("segment"),
            F.col("s").cast("long").alias("n_rows"),
            F.lit(True).alias("suppressed"),
        )
    )
    return keep.unionAll(supp)
