"""Plan-shape regression tests — the engine's scale guarantees, asserted
against the actual physical plans (SURVEY.md §4: pushdown, pruning,
broadcast, single-shuffle operators). These protect the 100 TB posture the
way golden outputs protect semantics."""

import re

from clickhouse_clickhouse_spark.registry import all_queries


def _plan(spark, name, sf_dir):
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name, sf_dir):
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    plan = _formatted(spark, "q1_pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 needed columns only — no l_orderkey/l_partkey/l_suppkey in the scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _formatted(spark, "tpch_q6_revenue_forecast", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_3way_join_broadcasts_dimension(spark, sf_dir):
    plan = _plan(spark, "join_inner_3way", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_q5_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "tpch_q5_local_supplier", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union-tag ASOF algorithm must cost exactly one key shuffle —
    a second Exchange would mean the window repartitioned again."""
    plan = _plan(spark, "join_asof", sf_dir)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"


def test_topk_broadcasts_query_side(spark, sf_dir):
    plan = _plan(spark, "topk_cosine", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dict_get_has_no_join(spark, sf_dir):
    plan = _plan(spark, "dict_get_map_literal", sf_dir)
    assert "Join" not in plan


def test_wholestage_codegen_everywhere_simple(spark, sf_dir):
    # codegen'd operators carry the "*(n)" stage prefix in plan
    # toString. The TEST session disables whole-stage codegen (Janino
    # compile wall on KB fixtures, conftest r11); this pin is about
    # the PRODUCTION config, so flip the runtime conf for one plan.
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        plan = _plan(spark, "projection_pushdown", sf_dir)
        assert "*(1)" in plan
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")


# -- distributed global-rank invariants (operators/grank.py) --------------
#
# A Window/Sort fed by Exchange SinglePartition is the scale anti-pattern
# the grank module exists to remove: every row would stream through one
# task. Global *aggregates* legitimately end in a single-partition exchange
# (one row per upstream task), so the assert is positional — no Sort or
# Window node may sit directly above an Exchange SinglePartition.

_GRANK_QUERIES = (
    "agg_auc", "agg_ks_test", "agg_mannwhitney_u", "cb_value_deciles",
    "window_range_frame", "cb_top_users_by_errors", "limit_with_ties_q",
    "ch_sql_limit_with_ties", "join_paste",
)


def _assert_no_single_partition_sort_or_window(plan: str, name: str):
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        ctx = " ".join(lines[max(0, i - 2):i])
        assert "Sort " not in ctx and "Window " not in ctx, (
            f"{name}: Sort/Window over Exchange SinglePartition\n"
            + "\n".join(lines[max(0, i - 2):i + 1]))


def test_rank_statistics_have_no_single_partition_window(spark, sf_dir):
    for name in _GRANK_QUERIES:
        _assert_no_single_partition_sort_or_window(
            _plan(spark, name, sf_dir), name)


def test_top_users_uses_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(
        spark, "cb_top_users_by_errors", sf_dir)


# Repo-wide sweep: EVERY registered query must avoid Sort/Window over
# Exchange SinglePartition, except the documented bounded case:
#   - with_fill_interpolate: the carry-forward window runs over the
#     GENERATED date spine, whose size is the fill range (days), not the
#     data size.
# (The minhash vocab twins were exceptions until the vocabulary ids moved
# onto the string-keyed bucketed rank in round 2.)
_SINGLE_PARTITION_ALLOWED = {
    "with_fill_interpolate",
    # driver-side GATE queries: they EXECUTE their retrieval pipelines
    # eagerly at build time (recall joins + counts, ~25 s combined) and
    # return a one-row LocalTableScan of booleans — no plan to audit.
    # The operators they exercise are swept through their ann_* twins.
    "ann_recall_gate",
    "ann_tuned_recall_gate",
    "ann_scaled_recall_gate",
    # UNGROUPED order-statistic aggregates (rankCorr / deltaSum /
    # weighted quantiles over the whole relation, round 13): the
    # injected rank/lag/cum windows partition by the GROUP BY keys,
    # and with no keys the total order inherently serializes — same
    # data motion as the old collect-fold's single final reducer, but
    # SPILLABLE (no per-group array). Grouped forms partition fine
    # (pinned by the other plan tests); the distributed global-rank
    # path for whole-table scale is operators/grank.py.
    "ch_sql_stats_aggregates_r9",
}


def test_no_query_sorts_or_windows_on_single_partition(spark, sf_dir):
    from conftest import run_parallel

    from clickhouse_clickhouse_spark.registry import all_queries

    offenders = {}

    def check(item):
        name, fn = item
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            ctx = " ".join(lines[max(0, i - 2):i])
            if "Sort " in ctx or "Window " in ctx:
                offenders[name] = lines[max(0, i - 2)].strip()[:80]

    # build+plan is driver-side and thread-safe for PURE queries; the
    # DDL-side-effect families (matviews, refreshables, dictionaries,
    # projection registration) create/drop session views and must not
    # interleave — they run serially first, the rest in parallel
    # (cuts ~40 s of wall)
    ddl = re.compile(r"matview|refresh|dictionary|projection_routed"
                     r"|insert|truncate|engine")
    items = [(n, f) for n, f in sorted(all_queries().items())
             if n not in _SINGLE_PARTITION_ALLOWED]
    for item in items:
        if ddl.search(item[0]):
            check(item)
    # workers=32: the build phase is py4j roundtrip latency (profiled
    # r11: 47 of 56 serial seconds in socket recv for ~141k commands),
    # so threads overlap it well past the CPU count (28->23 s vs 16)
    run_parallel([i for i in items if not ddl.search(i[0])], check,
                 workers=32)
    assert not offenders, offenders


# -- ClickBench-family plan pins (round-12 verdict item 3) ----------------
#
# Sub-second timings on a noisy box cannot adjudicate regressions in the
# cb_* family; the plan SHAPE can. Per-query Exchange budgets pinned at
# the round-12 HEAD (static plans, AQE-off test session — counts are the
# upper bound AQE can only improve on). A new cb_ query without a pin
# gets the generic budget; CartesianProduct is banned outright, and the
# Sort/Window-over-SinglePartition ban is inherited from the repo-wide
# sweep above.
_CB_EXCHANGE_BUDGET = {
    "cb_activity_histogram": 3, "cb_busiest_10min": 1,
    "cb_case_source_split": 1, "cb_counts_by_type": 2,
    "cb_daily_unique_active": 2, "cb_date_histogram_uniq": 3,
    "cb_day_type_uniq_matrix": 3, "cb_dialect_daily": 2,
    "cb_dialect_top_types": 2, "cb_expr_group_keys": 1,
    "cb_having_avg_len": 1, "cb_heavy_users": 1,
    "cb_hourly_activity": 1, "cb_json_key_quartiles": 2,
    "cb_json_prop_buckets": 1, "cb_like_filter_topk": 1,
    "cb_like_min_agg": 2, "cb_minmax_ts": 1,
    "cb_minute_histogram": 2, "cb_month_type_matrix": 2,
    "cb_multi_distinct": 2, "cb_order_by_string": 0,
    "cb_point_lookup": 0, "cb_referrer_domain_uniq": 3,
    "cb_regex_extract_group": 2, "cb_regex_heavy_scan": 2,
    "cb_regex_replace_group": 1, "cb_star_filter_page": 0,
    "cb_substr_topk": 2, "cb_top_users_by_errors": 1,
    "cb_top_users_per_type": 2, "cb_topn_with_ties": 2,
    "cb_type_share_per_user": 1, "cb_url_host_seg_topk": 2,
    "cb_url_path_depth": 3, "cb_url_query_param_buckets": 2,
    "cb_user_minute_type": 1, "cb_user_retention_week": 5,
    "cb_user_value_page2": 1,
    # exact global deciles through the distributed bucketed rank
    # (operators/grank.py) — the rank exchange fan is the documented
    # scale trade (round-11 verdict plan audit)
    "cb_value_deciles": 14,
    # approx twin (round 13): percentile-sketch edges broadcast to the
    # bucketing scan — no rank exchange fan (14 -> 4)
    "cb_value_deciles_approx": 4,
    "cb_value_pow2_histogram": 1, "cb_weekday_purchase_rate": 1,
    "cb_wide_sums": 1,
    # str_to_map twin of cb_url_query_param_buckets (round 13)
    "cb_url_query_param_buckets_fast": 2,
}
_CB_DEFAULT_BUDGET = 4


def test_clickbench_family_plan_budgets(spark, sf_dir):
    from conftest import run_parallel

    offenders = {}

    def check(item):
        name, fn = item
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
            return
        budget = _CB_EXCHANGE_BUDGET.get(name, _CB_DEFAULT_BUDGET)
        n_ex = plan.count("Exchange ")
        if n_ex > budget:
            offenders[name] = f"{n_ex} exchanges > budget {budget}"

    items = [(n, f) for n, f in sorted(all_queries().items())
             if n.startswith("cb_")]
    run_parallel(items, check, workers=32)
    assert not offenders, offenders


def test_paste_join_column_expression_is_distributed(spark, sf_dir):
    """A Column-EXPRESSION order key routes through the bucketed grank
    too (round-5: the single-window fallback is deleted) — no Sort or
    Window over Exchange SinglePartition, and results still zip
    positionally."""
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.operators.joins import paste_join
    from clickhouse_clickhouse_spark.tables import load_table

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k2"))
    out = paste_join(n, r, [F.col("n_nationkey") * 2 + 1], [F.col("k2")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    _assert_no_single_partition_sort_or_window(plan, "paste_expr")
    rows = out.collect()
    assert len(rows) == 25
    assert all(row.n_nationkey == row.k2 for row in rows)


def test_block_order_partitioned_parallel(spark, sf_dir):
    """The block-order fallbacks (neighbor / runningAccumulate /
    runningDifference / nonNegativeDerivative, ch_functions) compile to
    a single-partition window only when called WITHOUT partition_by —
    the documented principled form of upstream's block-order hack
    (docstring warning, round 14). With partition_by the window must be
    exchange-parallel: hash-partitioned shuffle, no Exchange
    SinglePartition anywhere in the plan."""
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark import ch_functions as ch
    from clickhouse_clickhouse_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = ev.select(
        "user_id",
        ch.neighbor(F.col("value"), 1, ["ts", "event_id"],
                    partition_by=["user_id"]).alias("nb"),
        ch.runningAccumulate(F.col("value"), ["ts", "event_id"],
                             partition_by=["user_id"]).alias("ra"),
        ch.runningDifference(F.col("value"), ["ts", "event_id"],
                             partition_by=["user_id"]).alias("rd"),
        ch.nonNegativeDerivative(F.col("value"), F.col("ts"),
                                 order_by=["ts", "event_id"],
                                 partition_by=["user_id"]).alias("nnd"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert out.count() > 0


def test_kernel_batteries_evaluate_in_one_python_node(spark, sf_dir):
    """Every curves-battery kernel (hilbert, morton, gcd/lcm, readable
    sizes, geo distance, geohash) and the siphash128 family must share
    ONE ArrowEvalPython node per query: a split would pay the Arrow
    round trip and the Python worker per kernel."""
    for name in ("ch_sql_round10_curves", "ch_sql_siphash128"):
        plan = _plan(spark, name, sf_dir)
        assert plan.count("ArrowEvalPython") == 1, (name, plan)


def test_url_param_regex_has_one_evaluation_site(spark, sf_dir):
    """The ``cb_url`` twins group on a ``regexp_extract`` bucket and drop
    the NULL bucket after the aggregate, behind the count-output
    barrier: a filter on the bucket itself is pushed below the
    aggregate and evaluates the regex a second time per row. At most
    one node of the optimized plan may carry ``regexp_extract``."""
    for name in ("cb_url_query_param_buckets",
                 "cb_url_query_param_buckets_fast"):
        df = all_queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        sites = [ln for ln in plan.splitlines() if "regexp_extract" in ln]
        assert len(sites) <= 1, (name, plan)


def test_curves_projection_is_whole_stage_codegen(spark, sf_dir):
    """The projection over the curves battery's kernel outputs must fuse
    into a whole-stage codegen stage (the "*(n)" prefix); a
    CodegenFallback expression in it drops it to the interpreted path.
    Whole-stage codegen is switched on for this plan only, as in
    test_wholestage_codegen_everywhere_simple."""
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        plan = _plan(spark, "ch_sql_round10_curves", sf_dir)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
    assert re.search(r"^[\s+\-:|]*\*\(\d+\) Project \[.*pythonUDF", plan,
                     re.MULTILINE), plan


def test_json_prop_bucket_filter_stays_above_the_aggregate(spark, sf_dir):
    """``cb_json_prop_buckets`` filters on ``WHEN n >= 0 THEN k_bucket END
    IS NOT NULL``: referencing the aggregate's count keeps Catalyst from
    pushing the filter below the aggregate, where it would parse every
    document a second time. No ``from_json`` may sit in a Filter."""
    df = all_queries()["cb_json_prop_buckets"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    filters = [ln for ln in plan.splitlines()
               if re.match(r"[\s:+\-|]*Filter\b", ln)]
    assert filters, plan
    assert not [f for f in filters if "from_json" in f], plan
