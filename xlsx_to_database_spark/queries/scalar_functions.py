"""Scalar function operators (SURVEY.md §2.8): string / regexp /
edit-distance / date / math / array / map / JSON.

All built-in JVM expressions inside whole-stage codegen — no Python in
the row path. Cross-engine gotchas handled here (and only here):
Spark `ceil` → BIGINT vs DuckDB DOUBLE, `dayofweek` (Sun=1) vs `dow`
(Sun=0), `datediff(end, start)` vs `date_diff('day', start, end)`,
`date_trunc` TIMESTAMP vs DATE, DuckDB `map[k]` yielding a LIST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.similarity import _dot_sql, _norm_sql
from xlsx_to_database_spark.registry import query


@query(
    "str_funcs",
    """
    SELECT c_custkey,
           concat_ws('|', c_name, c_mktsegment) AS tagged,
           upper(c_name) AS name_uc,
           lower(c_mktsegment) AS seg_lc,
           trim('  padded  ') AS trimmed,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           replace(c_name, 'Customer', 'Cust') AS name_short
    FROM customer
    """,
)
def str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core string kit; substr is 1-based in both engines."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws("|", "c_name", "c_mktsegment").alias("tagged"),
        F.upper("c_name").alias("name_uc"),
        F.lower("c_mktsegment").alias("seg_lc"),
        F.trim(F.lit("  padded  ")).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
    )


@query(
    "str_regexp",
    """
    SELECT DISTINCT o_orderpriority,
           regexp_extract(o_orderpriority, '(\\d)-(\\w+)', 1) AS prio_num,
           regexp_extract(o_orderpriority, '(\\d)-(\\w+)', 2) AS prio_word,
           regexp_replace(o_orderpriority, '\\d', '#') AS masked
    FROM orders
    """,
)
def str_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extract/replace — patterns kept RE2-safe (no backrefs or
    lookaround) so Java regex and DuckDB RE2 agree."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderpriority",
        F.regexp_extract("o_orderpriority", r"(\d)-(\w+)", 1).alias("prio_num"),
        F.regexp_extract("o_orderpriority", r"(\d)-(\w+)", 2).alias("prio_word"),
        F.regexp_replace("o_orderpriority", r"\d", "#").alias("masked"),
    ).distinct()


@query(
    "str_levenshtein",
    """
    SELECT n.n_name, r.r_name,
           levenshtein(n.n_name, r.r_name) AS name_dist
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def str_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between each nation and its region name — the
    fuzzy-match primitive used by near-dup pipelines."""
    n, r = table(spark, sf_dir, "nation"), table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name", F.levenshtein("n_name", "r_name").alias("name_dist"))
    )


@query(
    "date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           quarter(o_orderdate) AS order_quarter,
           date_part('dow', o_orderdate) AS order_dow,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           CAST(o_orderdate AS DATE) + 30 AS due_day
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time kit. dow normalized to DuckDB's Sunday=0 convention."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.quarter(d).alias("order_quarter"),
        (F.dayofweek(d) - 1).alias("order_dow"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("days_to_y2k"),
        F.date_add(d.cast("date"), 30).alias("due_day"),
    )


@query(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           round(pow(l_quantity, 2), 4) AS qty_sq,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(log10(l_extendedprice), 6) AS price_log10,
           round(sqrt(l_quantity), 6) AS qty_sqrt,
           mod(l_linenumber, 3) AS line_mod,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math kit + the canonical revenue expression. ceil/floor cast to
    BIGINT on the oracle side (DuckDB keeps DOUBLE, Spark returns LONG).
    Per-row revenue rounds at 4dp — its exact decimal precision (2dp
    price × 2dp discount) — because rounding AT a value's precision is
    tie-free, while round(...,2) lands on .xx5 ties where Spark's
    HALF_UP and DuckDB's raw-double rounding disagree. Aggregated sums
    round at 2dp safely (ties have measure ~0 after accumulation)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    q, p, disc = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(p * (1 - disc), 4).alias("revenue"),
        F.abs(disc - 0.05).alias("disc_dev"),
        F.ceil(q).alias("qty_ceil"),
        F.floor(q).alias("qty_floor"),
        F.round(F.pow(q, 2), 4).alias("qty_sq"),
        F.round(F.log(p), 6).alias("price_ln"),
        F.round(F.log10(p), 6).alias("price_log10"),
        F.round(F.sqrt(q), 6).alias("qty_sqrt"),
        (F.col("l_linenumber") % 3).alias("line_mod"),
        F.signum(disc - 0.05).alias("disc_sign"),
    )


@query(
    "arr_funcs",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',') AS first_tokens,
           list_contains(string_split(text, ' '), 'spark') AS mentions_spark
    FROM documents
    """,
)
def arr_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array kit over tokenized document text."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        # serialized: the comparison harness can't hash raw array cells
        F.concat_ws(",", F.slice(F.sort_array(F.array_distinct(toks)), 1, 5)).alias(
            "first_tokens"
        ),
        F.array_contains(toks, "spark").alias("mentions_spark"),
    )


@query(
    "arr_explode",
    """
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def arr_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode tokens to rows + word count — the map/reduce hello-world,
    expressed declaratively (generator + hash agg, no Python)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "arr_higher_order",
    """
    SELECT vec_id,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 6) AS norm_sq,
           round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 6) AS norm,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS comp_sum
    FROM embeddings
    """,
)
def arr_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-element lambda transforms on the embedding vector: squared
    norm, norm, component sum. Both engines accumulate in float64 (the
    lambda casts each float32 element up before multiplying)."""
    e = table(spark, sf_dir, "embeddings")
    comp_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.expr(f"round({_dot_sql('embedding', 'embedding')}, 6)").alias("norm_sq"),
        F.expr(f"round({_norm_sql('embedding')}, 6)").alias("norm"),
        F.round(comp_sum, 6).alias("comp_sum"),
    )


@query(
    "map_funcs",
    """
    SELECT event_id,
           array_to_string(map_keys(map {'type': event_type, 'band': CASE WHEN value > 50 THEN 'high' ELSE 'low' END}), ',') AS mkeys,
           map {'type': event_type, 'band': CASE WHEN value > 50 THEN 'high' ELSE 'low' END}['type'][1] AS type_val
    FROM events
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map, extract keys and a value. DuckDB map extraction
    returns a single-element LIST — the oracle unwraps with [1]."""
    ev = table(spark, sf_dir, "events")
    band = F.when(F.col("value") > 50, "high").otherwise("low")
    m = F.create_map(F.lit("type"), F.col("event_type"), F.lit("band"), band)
    return ev.select(
        "event_id",
        # serialized: the comparison harness can't hash raw array cells
        F.concat_ws(",", F.map_keys(m)).alias("mkeys"),
        F.element_at(m, "type").alias("type_val"),
    )


@query(
    "json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           json_extract_string(props, '$.missing') AS missing_val
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pull the `k` field out of the JSON props column (typed), plus a
    missing-path probe (NULL in both engines)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
    )


@query(
    "variant_json",
    """
    SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price,
           CAST(NULL AS BIGINT) AS missing
    FROM orders
    """,
)
def variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: semi-structured values kept in a binary-encoded
    open type — `parse_json` once, then typed `variant_get` path access
    without re-parsing text per field (the scale win over repeated
    `json_extract` string parsing). Round-trips orders rows through
    VARIANT and back; `try_variant_get` on a missing path yields NULL,
    never an error."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_json(F.struct("o_orderstatus", "o_totalprice")).alias("j"),
    )
    v = o.select("o_orderkey", F.parse_json(F.col("j")).alias("v"))
    return v.select(
        "o_orderkey",
        F.variant_get("v", "$.o_orderstatus", "string").alias("status"),
        F.variant_get("v", "$.o_totalprice", "double").alias("price"),
        F.try_variant_get("v", "$.not_there", "long").alias("missing"),
    )


@query(
    "xml_parse",
    """
    SELECT s_suppkey, s_name AS name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (Spark 4 `from_xml`): supplier rows serialized to
    XML documents, then parsed back through a typed schema — the
    round-trip proves the parse, and the oracle compares the extracted
    fields against the source table. `from_xml` is a JVM expression
    (codegen-adjacent, no Python), so XML feeds cost the same plan
    shape as JSON ones: map-only extraction, no shuffle. DuckDB has no
    XML type, so the oracle checks the VALUES, which is the actual
    contract."""
    s = table(spark, sf_dir, "supplier")
    xml = F.concat(
        F.lit("<supplier><id>"),
        F.col("s_suppkey").cast("string"),
        F.lit("</id><name>"),
        F.col("s_name"),
        F.lit("</name><bal>"),
        F.round("s_acctbal", 2).cast("string"),
        F.lit("</bal></supplier>"),
    )
    parsed = s.select(
        F.from_xml(xml, "id BIGINT, name STRING, bal DOUBLE").alias("p")
    )
    return parsed.select(
        F.col("p.id").alias("s_suppkey"),
        F.col("p.name").alias("name"),
        F.col("p.bal").alias("acctbal"),
    )


@query(
    "str_extract_all",
    """
    SELECT p_partkey,
           array_to_string(regexp_extract_all(p_name, '[a-z]+', 0), ',') AS words,
           array_to_string(regexp_extract_all(p_type, '[A-Z]+', 0), ',') AS type_tokens
    FROM part
    """,
)
def str_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`regexp_extract_all` — every match, not just the first (the gap
    `str_regexp`'s single extract leaves). The RE2-safe character-class
    patterns tokenize byte-identically in both engines; arrays are
    serialized with a delimiter because raw array columns crash the
    driver's canonicalizer. Map-only codegen — no shuffle at any
    scale."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws(",", F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).alias(
            "words"
        ),
        F.concat_ws(
            ",", F.regexp_extract_all("p_type", F.lit("[A-Z]+"), 0)
        ).alias("type_tokens"),
    )


@query(
    "str_format_funcs",
    """
    SELECT n_nationkey,
           lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded_key,
           printf('%s (region %d)', n_name, n_regionkey) AS label,
           format('{:,}', n_nationkey * 1000000) AS grouped,
           rpad(substr(n_name, 1, 8), 8, '.') AS fixed8
    FROM nation
    """,
)
def str_format_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presentation-layer string formatting — zero-padded keys
    (`lpad`), printf-style labels, thousands-grouped numbers, and
    fixed-width padded fields: the report/export surface beside the
    parsing-oriented `str_funcs`. All JVM codegen expressions, map-only.

    Engine note: Spark's `format_number` and DuckDB's `format('{:,}')`
    both produce comma-grouped integers; printf's %s/%d subset is the
    dialect intersection that renders identically — pinned here so a
    formatting regression (or locale drift) fails the hash, not a
    customer export."""
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0")
        .alias("padded_key"),
        F.printf(F.lit("%s (region %d)"), F.col("n_name"),
                 F.col("n_regionkey")).alias("label"),
        F.format_number(F.col("n_nationkey") * 1000000, 0).alias("grouped"),
        F.rpad(F.substring("n_name", 1, 8), 8, ".").alias("fixed8"),
    )
