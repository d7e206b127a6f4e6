"""Plan-quality assertions (SURVEY.md §4): the properties that matter at
100 TB, checked on the actual physical plans Catalyst produces.

Correctness tests prove the operators compute the right answer; these prove
the *plan* is the one we'd want on a 1000-executor cluster — filters reach
the parquet scan, projections prune ReadSchema, bounded dims broadcast,
top-k avoids a global sort, hot paths stay in whole-stage codegen.
"""

from __future__ import annotations

import pytest

from xlsx_to_database_spark.plans import (
    explain_str,
    has_broadcast_hash_join,
    has_pushed_filters,
    pruned_read_schema,
    wholestage_codegen_spans,
)
from xlsx_to_database_spark.registry import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_filter_pushdown_reaches_parquet(spark, sf_dir, qs):
    df = qs["filter_pred"](spark, sf_dir)
    assert has_pushed_filters(df), explain_str(df)


def test_between_pushdown(spark, sf_dir, qs):
    df = qs["filter_between"](spark, sf_dir)
    assert has_pushed_filters(df, "GreaterThanOrEqual", "LessThanOrEqual"), explain_str(df)


def test_projection_prunes_read_schema(spark, sf_dir, qs):
    df = qs["project_select"](spark, sf_dir)
    schemas = pruned_read_schema(df)
    assert schemas, "no parquet scan found in plan"
    # orders has 6 columns; the query touches 4.
    assert sorted(schemas[0]) == [
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    ], schemas


def test_flagship_prunes_lineitem(spark, sf_dir, qs):
    df = qs["agg_basic"](spark, sf_dir)
    schemas = pruned_read_schema(df)
    assert schemas and len(schemas[0]) <= 6, schemas  # lineitem has 11 cols


def test_broadcast_join_is_broadcast(spark, sf_dir, qs):
    df = qs["join_broadcast"](spark, sf_dir)
    assert has_broadcast_hash_join(df), explain_str(df)


def test_star_join_broadcasts_bounded_dims(spark, sf_dir, qs):
    # nation/region are geography-bounded even at 100 TB: the plan must not
    # shuffle lineitem to join them.
    df = qs["join_inner_equi"](spark, sf_dir)
    assert has_broadcast_hash_join(df), explain_str(df)


def test_limit_uses_topk_not_global_sort(spark, sf_dir, qs):
    df = qs["limit_n"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df), explain_str(df)


def test_flagship_stays_in_codegen(spark, sf_dir, qs):
    df = qs["agg_basic"](spark, sf_dir)
    assert wholestage_codegen_spans(df) >= 1, explain_str(df)


def test_no_python_udf_in_benched_paths(spark, sf_dir, qs):
    # BASELINE.md posture: benched hot paths are pure JVM expressions.
    from bench import HEADLINE

    for name in HEADLINE:
        plan = explain_str(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} has a row-at-a-time Python UDF"


def test_partial_aggregation_before_shuffle(spark, sf_dir, qs):
    # The flagship's groupBy must do map-side partial aggregation
    # (HashAggregate appears both before and after the exchange).
    plan = explain_str(qs["agg_basic"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


def test_dynamic_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    # SCALE.md §2.1: parquet_sink partitions by a column so downstream
    # joins prune partitions at runtime (DPP). Write events partitioned
    # by event_type, join against a filtered dim — the scan must carry a
    # dynamic pruning predicate, not read all partitions.
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.sources.sinks import to_parquet

    out = str(tmp_path / "events_by_type")
    to_parquet(table(spark, sf_dir, "events"), out, partition_by=["event_type"])

    part = spark.read.parquet(out)
    dim = (
        spark.createDataFrame(
            [("click", 1.0), ("view", 0.5), ("purchase", 9.9)], "etype string, weight double"
        )
        .filter("weight > 5")  # selective build side → prune to 'purchase'
    )
    joined = part.join(dim, part.event_type == dim.etype).groupBy("event_type").count()
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try:
        plan = explain_str(joined)
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", prev
        )
    assert "dynamicpruning" in plan.lower(), plan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    # SCALE.md §2.3: co-partitioned storage (bucketing) removes the
    # fact-fact join shuffle entirely without code changes. Prove it:
    # bucket both sides on the join key → SortMergeJoin with NO Exchange.
    from xlsx_to_database_spark.catalog import table

    for name, key in (("li_b", "l_orderkey"), ("ord_b", "o_orderkey")):
        src = "lineitem" if name == "li_b" else "orders"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            table(spark, sf_dir, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            spark.table("li_b").l_orderkey == spark.table("ord_b").o_orderkey,
        )
        plan = explain_str(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # co-located: zero shuffle


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir, qs):
    # Correlated EXISTS must not plan as a per-row subquery execution;
    # Catalyst rewrites it into a (broadcast/shuffled) left-semi join.
    df = qs["subq_exists"](spark, sf_dir)
    plan = explain_str(df)
    assert "LeftSemi" in plan or "SemiJoin" in plan, plan


def test_scalar_subquery_decorrelates_to_aggregate_join(spark, sf_dir, qs):
    # Correlated scalar subquery → per-key aggregate joined back, not a
    # re-executed subquery per outer row.
    df = qs["subq_scalar"](spark, sf_dir)
    plan = explain_str(df)
    assert "max(" in plan and "Join" in plan, plan


def test_tpch_q3_topk_and_pushdown(spark, sf_dir, qs):
    df = qs["tpch_q3"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert has_pushed_filters(df), plan


def test_tpch_q5_broadcasts_bounded_dims(spark, sf_dir, qs):
    df = qs["tpch_q5"](spark, sf_dir)
    assert has_broadcast_hash_join(df), explain_str(df)


def test_lateral_join_rewrites_to_window_group_limit(spark, sf_dir, qs):
    # LATERAL (... ORDER BY ... LIMIT k) must become a ranked-window join
    # with map-side group limits — never per-outer-row subquery execution.
    df = qs["join_lateral"](spark, sf_dir)
    plan = explain_str(df)
    assert "WindowGroupLimit" in plan and "Join" in plan, plan


def test_tpch_q21_decorrelates_to_semi_and_anti(spark, sf_dir, qs):
    # Q21's EXISTS → left-semi, NOT EXISTS (correlated on TWO outer
    # tables) → left-anti; neither may survive as per-row subqueries.
    df = qs["tpch_q21"](spark, sf_dir)
    plan = explain_str(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_tpch_q18_topk_and_semi_filter(spark, sf_dir, qs):
    # r13: the HAVING survivor aggregate CARRIES its sum as total_qty,
    # so lineitem is scanned exactly once (the r12 shape scanned it
    # twice: once for the semi filter, once to re-aggregate the same
    # number), the survivors broadcast (never inflating a shuffle),
    # and the top-100 must be TakeOrdered.
    df = qs["tpch_q18"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_q17_part_filter_broadcasts(spark, sf_dir, qs):
    # The brand/size part filter must broadcast into lineitem so the
    # per-part average only aggregates qualifying parts' rows.
    df = qs["tpch_q17"](spark, sf_dir)
    assert has_broadcast_hash_join(df), explain_str(df)
    assert has_pushed_filters(df), explain_str(df)


def test_join_bucketed_op_has_no_exchange(spark, sf_dir, qs):
    # The registered bucketed-join op must read co-located buckets:
    # SortMergeJoin with neither an Exchange nor a Sort at query time.
    df = qs["join_bucketed"](spark, sf_dir)
    plan = explain_str(df)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_q6_all_predicates_pushed(spark, sf_dir, qs):
    # Q6 is the pure-pushdown query: shipdate/discount/quantity filters
    # must all reach the parquet scan, and the scan must read only the
    # 4 referenced columns of lineitem's 11.
    df = qs["tpch_q6"](spark, sf_dir)
    assert has_pushed_filters(df, "GreaterThanOrEqual", "LessThan"), explain_str(df)
    schemas = pruned_read_schema(df)
    assert schemas and sorted(schemas[0]) == [
        "l_discount",
        "l_extendedprice",
        "l_quantity",
        "l_shipdate",
    ], schemas


def test_q10_topk_not_global_sort(spark, sf_dir, qs):
    df = qs["tpch_q10"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df), explain_str(df)


def test_range_bucketed_join_is_hash_not_nested_loop(spark, sf_dir, qs):
    # The whole point of the bucket rewrite: a pure range join must NOT
    # plan as BroadcastNestedLoopJoin at scale — the bucket id gives it
    # an equi key.
    # The outer join keeps zero-match purchases itself, so events is
    # scanned twice (probe and build side), never a third time.
    import re

    plan = explain_str(qs["join_range_bucketed"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan


def test_funnel_steps_is_one_user_id_shuffle(spark, sf_dir, qs):
    # All three stages come from one pass partitioned by user_id: no
    # join, one hash exchange on user_id, and the single-partition
    # exchange of the final counts.
    import re

    plan = explain_str(qs["funnel_steps"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    exchanges = re.findall(r"Exchange (\w+)\(?([^,\n]*)", plan)
    assert sorted(kind for kind, _ in exchanges) == [
        "SinglePartition", "hashpartitioning"], plan
    assert [key for kind, key in exchanges if kind == "hashpartitioning"][0].startswith(
        "user_id#"), plan


def test_pii_redact_is_map_only(spark, sf_dir, qs):
    # A redaction pass must never shuffle: no Exchange in the plan.
    plan = explain_str(qs["pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_seq_pack_single_shuffle_and_narrow(spark, sf_dir, qs):
    # One window over (source, doc_id) = exactly one shuffle node (the
    # formatted plan names each node twice: tree line + detail header),
    # and the text column must NOT ride through it — token counts are
    # projected before the exchange.
    import re

    plan = explain_str(qs["seq_pack"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    exchange_input = plan.split("Exchange")[-1]
    assert "text#" not in exchange_input.split("(4)")[0], plan


def test_q2_correlated_min_decorrelates(spark, sf_dir, qs):
    # The correlated MIN subquery must become an aggregate+join, not a
    # per-row nested-loop re-execution.
    plan = explain_str(qs["tpch_q2"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # p_type LIKE 'SMALL%' pushes to the part scan as a StartsWith.
    assert "StringStartsWith" in plan, plan


def test_q9_like_filter_pushes_and_dims_broadcast(spark, sf_dir, qs):
    plan = explain_str(qs["tpch_q9"](spark, sf_dir))
    assert "StringContains" in plan, plan  # '%bolt%' reaches the part scan
    assert has_broadcast_hash_join(qs["tpch_q9"](spark, sf_dir)), plan


def test_q16_not_in_is_broadcast_anti_join(spark, sf_dir, qs):
    # NOT IN over non-null keys must plan as a plain (broadcast) left-anti
    # hash join — no null-aware nested-loop expansion.
    plan = explain_str(qs["tpch_q16"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q20_nested_ins_are_semi_joins(spark, sf_dir, qs):
    plan = explain_str(qs["tpch_q20"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_profile_table_is_single_aggregate_pass(spark, sf_dir, qs):
    # All per-column stats must come from ONE scan + one global aggregate
    # (a single final-merge exchange) — never a per-column pass.
    import re

    plan = explain_str(qs["profile_table"](spark, sf_dir))
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, plan
    # Multi-column exact count(DISTINCT) plans via Expand (one branch per
    # distinct column) — one extra exchange, still a single pass.
    assert "Expand" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_dq_outlier_fact_never_shuffles(spark, sf_dir, qs):
    # The only exchange is the 5-group stats aggregate; the scored fact
    # table joins the stats back by broadcast.
    import re

    df = qs["dq_outlier"](spark, sf_dir)
    plan = explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert has_broadcast_hash_join(df), plan


def test_single_shuffle_window_and_moment_ops(spark, sf_dir, qs):
    # Latest-wins CDC compaction, gap interpolation, and co-moment OLS
    # are all one-shuffle shapes.
    import re

    for name in ("etl_cdc_apply", "win_interpolate", "stat_linreg"):
        plan = explain_str(qs[name](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, (name, plan)


def test_partitioned_read_prunes_directories(spark, sf_dir, qs):
    # The o_year filter must be a PartitionFilter (directory pruning at
    # planning time), never a row-level data filter.
    plan = explain_str(qs["parquet_pruned_read"](spark, sf_dir))
    assert "PartitionFilters" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1), plan


def test_index_serve_prunes_cells_and_reads_no_vectors(spark, sf_dir, qs):
    # The persisted-IVFPQ serving claim, plan-asserted: the probe-cell
    # filter must land as a PartitionFilter (unprobed cells pruned at
    # the DIRECTORY level — at a billion vectors that is the difference
    # between scanning nprobe/n_centroids of the codes and all of
    # them), and the scan schema must be codes only — the index table
    # holds no vector column, so serving reads 4-byte codes, period.
    import re

    plan = explain_str(qs["sim_index_serve_topk"](spark, sf_dir))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "embedding" not in rs.group(1), plan
    assert "c0" in rs.group(1), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_residual_index_serve_prunes_cells_and_reads_no_vectors(
    spark, sf_dir, qs
):
    # Same serving claims for the RESIDUAL-mode persisted index
    # (round-12 verdict #3): directory-level cell pruning, codes-only
    # scan schema, one TakeOrdered shuffle.
    import re

    plan = explain_str(qs["sim_residual_serve_topk"](spark, sf_dir))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "embedding" not in rs.group(1), plan
    assert "rvec" not in rs.group(1), plan
    assert "c0" in rs.group(1), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_sq_index_serve_prunes_cells_and_reads_no_vectors(
    spark, sf_dir, qs
):
    # Same serving claims for the persisted IVF+SQ index: directory-
    # level cell pruning, codes-only scan schema (the SQ index stores
    # d-byte code arrays, no vectors), one TakeOrdered shuffle.
    import re

    plan = explain_str(qs["sim_sq_serve_topk"](spark, sf_dir))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "embedding" not in rs.group(1), plan
    assert "codes" in rs.group(1), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ivfflat_serve_prunes_cells_and_reads_vectors(spark, sf_dir, qs):
    # The flat rung's serving contract differs from the code indexes:
    # directory-level cell pruning still holds, but the scan MUST read
    # the vector column — exact within-cell ranking is the point of
    # flat — and nothing else beyond id + vector.
    import re

    plan = explain_str(qs["sim_ivfflat_serve_topk"](spark, sf_dir))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "embedding" in rs.group(1), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_running_distinct_reuses_partitioning(spark, sf_dir, qs):
    # Two window sorts, both partitioned on user_id: the running-sum
    # window must reuse the first-occurrence window's Exchange.
    import re

    plan = explain_str(qs["win_running_distinct"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_fuzzy_join_blocks_not_cartesian(spark, sf_dir, qs):
    # join_fuzzy must candidate-generate via an equi join on segment keys;
    # the all-pairs cross product exists only in the oracle's semantics.
    plan = explain_str(qs["join_fuzzy"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_nearest_join_is_windowed_not_joined(spark, sf_dir, qs):
    # join_nearest resolves both directions from ONE union+window pass —
    # no join operator (and so no O(n*m) range explosion) in the plan.
    plan = explain_str(qs["join_nearest"](spark, sf_dir))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan, plan
    assert "Window" in plan, plan


def test_decontaminate_joins_on_gram_key(spark, sf_dir, qs):
    # Gram-overlap check is an equi join (hash/broadcast), never nested-loop.
    plan = explain_str(qs["text_decontaminate"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_skew_twophase_has_two_agg_stages(spark, sf_dir, qs):
    # Salted aggregation = two shuffle boundaries (key+salt, then key).
    plan = explain_str(qs["agg_skew_twophase"](spark, sf_dir))
    assert plan.count("Exchange") >= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_vec_normalize_is_map_only(spark, sf_dir, qs):
    # Pure array-lambda math: no shuffle, no Python, single codegen pass.
    plan = explain_str(qs["vec_normalize"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ttest_is_single_aggregate(spark, sf_dir, qs):
    # One conditional aggregate over one scan: exactly one shuffle
    # (partial -> final), no join, no window sort.
    plan = explain_str(qs["stat_ttest"](spark, sf_dir))
    # formatted mode names each node twice (tree line + detail section).
    assert plan.count("Exchange") <= 2, plan
    for op in ("SortMergeJoin", "Window"):
        assert op not in plan, plan


def test_asof_tolerance_no_range_join(spark, sf_dir, qs):
    # Tolerance rides the union-window carry — no join op, no explosion.
    plan = explain_str(qs["join_asof_tolerance"](spark, sf_dir))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, plan


def test_global_rank_window_is_bucket_partitioned(spark, sf_dir, qs):
    """On fact-scale input the global-order operator must NOT plan the
    naive single-partition window: every window over the big input is
    partitioned by the range-bucket key, so the sort parallelizes.
    Fact scale is simulated by pinning ``n_buckets`` — identical plan
    shape to what auto-sizing produces past _MIN_ROWS_PER_BUCKET."""
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.global_order import (
        with_global_row_number,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    df = with_global_row_number(
        o,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        "o_totalprice",
        out="rn",
        n_buckets=8,
    )
    plan = explain_str(df)
    assert "__gbkt" in plan, plan
    # every Window node carries a partition spec (no 'Window [..], [..ASC..]'
    # with an empty partition list over the big input)
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), plan


def test_global_rank_auto_collapses_small_input(spark, sf_dir, qs):
    """Below _MIN_ROWS_PER_BUCKET the auto-sized operator must SKIP
    the two-phase machinery (quantile pass, offsets join, bucket column):
    one task comfortably sorts the whole input, so the plain global
    window is the faster plan — the round-3 verdict's small-scale
    latency reclaim."""
    plan = explain_str(qs["win_global_rank"](spark, sf_dir))
    assert "__gbkt" not in plan, plan


def test_global_order_auto_bucket_sizing():
    """Pure sizing arithmetic: parallelism-driven between the per-bucket
    floor and the slot count, memory-driven past it, clamped to the
    codegen cap; tiny inputs collapse to 1."""
    from xlsx_to_database_spark.operators import global_order as go

    lo, hi, cap = go._MIN_ROWS_PER_BUCKET, go._MAX_ROWS_PER_BUCKET, go._MAX_BUCKETS
    b = go._bucket_count
    assert b(0, 32) == 1 and b(1, 32) == 1 and b(lo, 32) == 1
    assert b(lo + 1, 32) == 2  # crosses the floor -> split
    assert b(20 * lo, 32) == 20  # parallelism-driven: ceil(rows/floor)
    assert b(100 * lo, 32) == max(32, -(-100 * lo // hi))  # slot-capped
    assert b(1000 * hi, 32) == cap  # memory term keeps growing to the cap
    assert b(10 * lo, 4) == max(4, -(-10 * lo // hi))  # fewer slots -> fewer buckets

    class _Fake:  # count() must not be called when n_buckets explicit
        def count(self):  # pragma: no cover
            raise AssertionError("count() called despite explicit n_buckets")

    assert go._resolve_buckets(_Fake(), 7, None) == 7  # explicit wins


def test_global_rank_matches_naive_window(spark, sf_dir, qs):
    """Two-phase distributed rank == the single-partition answer.
    ``n_buckets`` is pinned so the BUCKETED path is what's verified
    (auto-sizing would collapse to the naive plan at test scale)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.global_order import (
        with_global_ntile,
        with_global_row_number,
        with_global_running_sums,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").asc(), F.col("c_custkey").asc()]
    naive_w = Window.orderBy(*order)

    got = {
        r["c_custkey"]: r["rn"]
        for r in with_global_row_number(
            c, order, "c_acctbal", out="rn", n_buckets=8
        ).collect()
    }
    want = {
        r["c_custkey"]: r["rn"]
        for r in c.select(
            "c_custkey", F.row_number().over(naive_w).alias("rn")
        ).collect()
    }
    assert got == want

    got_nt = {
        r["c_custkey"]: r["b"]
        for r in with_global_ntile(
            c, order, "c_acctbal", 7, out="b", n_buckets=8
        ).collect()
    }
    want_nt = {
        r["c_custkey"]: r["b"]
        for r in c.select(
            "c_custkey", F.ntile(7).over(naive_w).alias("b")
        ).collect()
    }
    assert got_nt == want_nt

    flagged = c.withColumn("one", F.lit(1))
    got_rs = {
        r["c_custkey"]: r["cum"]
        for r in with_global_running_sums(
            flagged, order, "c_acctbal", {"cum": "one"}, n_buckets=8
        ).collect()
    }
    assert got_rs == want  # running count over the same total order == rank


def test_global_running_sums_null_semantics(spark):
    """Bucketed running sums must match the global window on NULLs: a
    row whose bucket-local prefix is all-NULL still inherits the prior
    buckets' sum (SQL windowed SUM is NULL only while the whole frame is
    null) — the round-4 advice fix."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.operators.global_order import (
        with_global_running_sums,
    )

    # 40 ordered rows; v is NULL except every 7th row, so several buckets
    # start with an all-NULL local prefix; the first rows are NULL under
    # both plans (empty non-null frame).
    df = (
        spark.range(40)
        .withColumn("k", F.col("id").cast("double"))
        .withColumn(
            "v", F.when(F.col("id") % 7 == 3, F.col("id")).otherwise(F.lit(None))
        )
    )
    order = [F.col("k").asc()]
    naive = {
        r["id"]: r["cum"]
        for r in df.select(
            "id",
            F.sum("v")
            .over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("cum"),
        ).collect()
    }
    got = {
        r["id"]: r["cum"]
        for r in with_global_running_sums(
            df, order, "k", {"cum": "v"}, n_buckets=5
        ).collect()
    }
    assert got == naive


def test_chunk_split_is_shuffle_free(spark, sf_dir, qs):
    """Chunking must stay map-only: one codegen transform + posexplode,
    no Exchange anywhere — the property that makes it free at 100 TB."""
    plan = explain_str(qs["text_chunk_split"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan  # the posexplode


def test_grid_radius_is_equi_join(spark, sf_dir, qs):
    """The radius join must plan as an equi-join on the cell id (hash or
    broadcast), never a cartesian/BNLJ — the 9x neighbor expansion
    exists precisely to buy equi-join keys for a distance predicate."""
    plan = explain_str(qs["join_grid_radius"](spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_containment_has_no_cartesian(spark, sf_dir, qs):
    plan = explain_str(qs["text_containment"](spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_plan_hazard_sweep_no_unexpected(spark, sf_dir, qs):
    """The dragnet behind the hand-picked assertions above: every
    non-streaming op's physical plan is scanned for quadratic joins and
    row-at-a-time Python, and anything not on tools/plan_audit.py's
    documented allowlist fails here. Streaming ops are excluded (each
    plan build drains a micro-batch run — seconds apiece; their shapes
    are pinned by the streaming tests and driver attestation)."""
    from tests.conftest import battery_subset
    from tools.plan_audit import ALLOWED, HAZARDS

    # Default tier: fixed quarter-subset of the registry (~50 s instead
    # of ~200 s); full sweep with SPARK_GRAFT_SLOW_TESTS=1 (r14). The
    # hand-picked plan assertions above stay in the default tier for
    # every benched/headline op.
    unexpected = {}
    for name in battery_subset(qs, residue=2):
        if name.startswith("stream_"):
            continue
        plan = explain_str(qs[name](spark, sf_dir))
        bad = [
            h for h in HAZARDS if h in plan and h not in ALLOWED.get(name, {})
        ]
        if bad:
            unexpected[name] = bad
    assert not unexpected, unexpected


def test_partition_pruned_join_uses_dpp(spark, sf_dir, qs):
    """The dimension-side filter must prune fact PARTITIONS at runtime:
    the staged year-partitioned scan carries a dynamicpruningexpression
    in its PartitionFilters (fed by the reused broadcast), so five of
    seven year directories are never opened."""
    df = qs["join_partition_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "PartitionFilters" in plan, plan[:2000]


def test_kendall_cell_join_is_metadata_scale(spark, sf_dir, qs):
    """tau-b must run its pair mass on the contingency cells (|X|·|Y|
    rows), broadcast — never a fact-table self-join."""
    from xlsx_to_database_spark.plans import explain_str

    df = qs["stat_kendall_tau"](spark, sf_dir)
    s = explain_str(df)
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s, s[:1500]
    assert "CartesianProduct" not in s, s[:1500]


def test_jdbc_filters_push_into_the_database(spark, sf_dir, qs):
    """The 2-predicate conjunction must compile into the JDBC scan
    (PushedFilters), not evaluate Spark-side after a full-table copy."""
    df = qs["jdbc_pushdown_scan"](spark, sf_dir)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in s, s[:1500]
    assert "GreaterThan(O_TOTALPRICE" in s.replace("o_totalprice", "O_TOTALPRICE"), s[:1500]
