"""Physical-plan assertions: the scale posture, pinned.

Correctness says the query returns the right rows; these tests say the
PLAN is the one that survives a 100x scale-up (SURVEY.md §4): filters
reach the parquet scan, dimension joins broadcast instead of shuffling
the fact table, aggregates run partially before the exchange, window
queries shuffle exactly once, and top-1 plans use TakeOrderedAndProject
rather than a global sort.
"""

from __future__ import annotations

import re

import pytest

from orca_ztbus_python_processor_spark.workloads.base import merged_catalog

from tests.conftest import SMOKE_SF_DIR


@pytest.fixture(scope="module")
def catalog():
    return merged_catalog()


def _plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q1_filter_pushed_to_scan(spark, catalog):
    plan = _plan(spark, catalog.queries["q1_pricing_summary"](spark, SMOKE_SF_DIR))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*l_shipdate", plan), plan


def test_q1_partial_aggregation_before_exchange(spark, catalog):
    plan = _plan(spark, catalog.queries["q1_pricing_summary"](spark, SMOKE_SF_DIR))
    assert "partial_sum" in plan or "partial_avg" in plan, plan


def test_q5_dimension_joins_broadcast(spark, catalog):
    plan = _plan(spark, catalog.queries["q5_region_revenue"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_point_lookup_pushes_key_predicate(spark, catalog):
    plan = _plan(spark, catalog.queries["point_lookup_customer"](spark, SMOKE_SF_DIR))
    assert re.search(r"PushedFilters:.*c_custkey", plan), plan


def test_top1_uses_take_ordered_not_global_sort(spark, catalog):
    plan = _plan(spark, catalog.queries["top1_latest_order"](spark, SMOKE_SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_scan_prunes_columns(spark, catalog):
    """q1 reads 7 of 11 lineitem columns; ReadSchema must not contain
    the unused ones."""
    plan = _plan(spark, catalog.queries["q1_pricing_summary"](spark, SMOKE_SF_DIR))
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    assert "l_partkey" not in m.group(1)
    assert "l_suppkey" not in m.group(1)


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_asof_join_single_shuffle(spark, catalog):
    """The as-of pass itself must shuffle once (the union feeds ONE
    key-partitioned window); the second exchange belongs to the orders
    pre-aggregation, not the join. No range-join explosion."""
    plan = _plan(spark, catalog.queries["events_asof_orders"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 2, f"expected 2 shuffles total:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the asof itself: Union directly under one Exchange+Sort+Window
    assert re.search(r"Window .*\n.*Sort .*\n.*Exchange .*\n.*Union", plan), plan


def test_running_window_single_shuffle(spark, catalog):
    plan = _plan(spark, catalog.queries["running_order_total"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_sessionization_no_python_udf(spark, catalog):
    """Gap-and-islands runs entirely in JVM window functions — no
    Python in the hot path (SURVEY.md §2.5 W3)."""
    plan = _plan(spark, catalog.queries["event_type_runs"](spark, SMOKE_SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dim_join_distinct_is_partial(spark, catalog):
    """distinct_active_triples: the DISTINCT must partial-aggregate
    before its exchange (map-side combine)."""
    plan = _plan(spark, catalog.queries["distinct_active_triples"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # HashAggregate appears both sides of the exchange for distinct
    assert plan.count("HashAggregate") >= 2, plan


def test_registry_fused_plan_single_shuffle(spark, catalog):
    """The registry compiler's prepare-window shares its shuffle with
    the final aggregation (same _time_from+keys partitioning) — one
    Exchange for N algorithms including a lag-based prepare."""
    plan = _plan(spark, catalog.queries["registry_fused_minute"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_exists_plans_as_semi_join(spark, catalog):
    """EXISTS (Q4 shape) must plan as a semi join — rows never widen —
    with the date filter pushed to the orders scan."""
    plan = _plan(spark, catalog.queries["exists_urgent_returns"](spark, SMOKE_SF_DIR))
    assert "LeftSemi" in plan, plan
    assert re.search(r"PushedFilters:.*o_orderdate", plan), plan


def test_q17_decorrelated_all_broadcast(spark, catalog):
    """The correlated Q17 rewrite: brand parts and per-part limits are
    both broadcast — no sort-merge join, no window shuffle of the fact."""
    plan = _plan(spark, catalog.queries["q17_small_quantity_revenue"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q10_topk_avoids_global_sort(spark, catalog):
    """Top-20 by revenue plans TakeOrderedAndProject (per-partition
    top-k + single merge), not a full sort; dims broadcast."""
    plan = _plan(spark, catalog.queries["q10_returned_items"](spark, SMOKE_SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rolling_frames_one_window_exec(spark, catalog):
    """All four frame specs share (user_id, ts) partitioning+ordering,
    so they fuse into Window operators over ONE shuffle+sort."""
    plan = _plan(spark, catalog.queries["rolling_frames_events"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_regression_stats_partial_agg(spark, catalog):
    """Moment-based bivariate stats partial-aggregate map-side."""
    plan = _plan(spark, catalog.queries["regression_stats_by_flag"](spark, SMOKE_SF_DIR))
    assert "partial_corr" in plan or "partial" in plan, plan
    assert _n_exchanges(plan) == 1, plan


def test_scalar_subquery_stays_distributed(spark, catalog):
    """above_avg_orders: the global mean enters as a broadcast
    (BroadcastNestedLoopJoin over a 1-row side), never a collect."""
    plan = _plan(spark, catalog.queries["above_avg_orders"](spark, SMOKE_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_q2_correlated_min_shuffles_rollups_only(spark, catalog):
    """The decorrelated min: map-side combine BEFORE the first exchange,
    then the window exchange moves the (part,supplier) rollup, never raw
    lineitem. Exactly the agg + window exchanges; dims broadcast."""
    plan = _plan(spark, catalog.queries["q2_min_cost_supplier"](spark, SMOKE_SF_DIR))
    assert "partial_min" in plan, plan
    assert _n_exchanges(plan) == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_q8_single_fact_shuffle(spark, catalog):
    """Seven-table market share: every dimension broadcasts; the only
    exchange is the final per-year aggregation."""
    plan = _plan(spark, catalog.queries["q8_market_share"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_q13_left_join_then_double_agg(spark, catalog):
    """Customer distribution: exactly two exchanges (per-customer count,
    then the tiny histogram regroup); the priority filter must NOT reach
    the scan as a row filter — it lives in the join condition so
    zero-order customers survive."""
    plan = _plan(spark, catalog.queries["q13_custdist"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 2, plan


def test_q16_not_in_plans_as_anti_join(spark, catalog):
    """NOT IN over a null-free key becomes a broadcast left-anti, and the
    distinct-count partial-aggregates before its exchange."""
    plan = _plan(spark, catalog.queries["q16_supplier_cnt"](spark, SMOKE_SF_DIR))
    assert "LeftAnti" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_q21_double_exists_is_one_aggregate(spark, catalog):
    """EXISTS + NOT EXISTS collapse into ONE per-order aggregate: the
    lineitem fact is scanned for the rollup and the returned-lines probe,
    but there is no per-predicate semi/anti cascade — at most the agg,
    the orderkey join, and the final name regroup shuffle."""
    plan = _plan(spark, catalog.queries["q21_sole_returner"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_q22_anti_join_scalar_threshold(spark, catalog):
    """Idle balances: the global-avg threshold broadcasts (no collect),
    the NOT EXISTS plans as a left-anti join."""
    plan = _plan(spark, catalog.queries["q22_idle_balances"](spark, SMOKE_SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_sliding_window_single_shuffle(spark, catalog):
    """Sliding windows explode map-side (size/slide replication inside
    the projection) and shuffle ONCE on (window, type) with partial
    aggregation — not one shuffle per hop."""
    plan = _plan(spark, catalog.queries["sliding_window_rates"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert "partial_count" in plan or "partial_avg" in plan, plan


def test_contamination_benchmark_side_broadcasts(spark, catalog):
    """The held-out shingle set is the small relation and must broadcast;
    the train-side explode must never sort-merge."""
    plan = _plan(spark, catalog.queries["contamination_share"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_roster_dimension_broadcasts(spark, catalog):
    plan = _plan(spark, catalog.queries["nation_supplier_roster"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_minhash_verify_has_no_driver_stage(spark, catalog):
    """The near-dup pipeline's exact-verify joins are SHUFFLE_HASH on the
    hashed shingle sets: no broadcast of the fat set table (driver-built)
    and no sort of it (SMJ)."""
    plan = _plan(spark, catalog.queries["minhash_near_dup_pairs"](spark, SMOKE_SF_DIR))
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zipf_partial_counts_before_exchange(spark, catalog):
    """The vocabulary histogram must map-side combine the exploded
    tokens (partial_count before the term shuffle), not ship raw
    occurrences."""
    plan = _plan(spark, catalog.queries["zipf_token_profile"](spark, SMOKE_SF_DIR))
    assert "partial_count" in plan, plan


def test_retention_funnel_reads_pruned_schema(spark, catalog):
    """The funnel touches doc_id/source/text/n_chars only — lang must be
    pruned from the parquet scan."""
    plan = _plan(spark, catalog.queries["pipeline_retention_funnel"](spark, SMOKE_SF_DIR))
    assert "lang" not in plan.split("ReadSchema")[1].split("\n")[0], plan


def test_multimodal_real_decode_map_only(spark, catalog):
    """The real-decode pipeline (synthesize -> decode) must be map-only:
    two Arrow-batched Python stages, zero Exchange - payload bytes never
    leave the executor that built them."""
    plan = _plan(spark, catalog.queries["multimodal_real_decode"](spark, SMOKE_SF_DIR))
    assert not re.search(r"\(\d+\) Exchange", plan), plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan


def test_doc_chunk_windows_single_shuffle(spark, catalog):
    """Chunk explode happens map-side inside the scan stage; the only
    Exchange is the final per-source rollup (plus its AQE read)."""
    plan = _plan(spark, catalog.queries["doc_chunk_windows"](spark, SMOKE_SF_DIR))
    assert "Explode" in plan or "Generate" in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan  # partial->final agg exchange + distinct-count expand


def test_cosine_topk_exact_no_cartesian_no_corpus_collect(spark, catalog):
    """Both exact top-k forms must plan WITHOUT a cartesian/broadcast-
    nested-loop join (the round-4 form was crossJoin + interpreted HOF)
    and without materializing the corpus on the driver: bruteforce =
    MapInPandas over the corpus + one tiny candidate re-rank window;
    sharded = cogroup (FlatMapCoGroupsInPandas) of hash-sharded corpus
    with the replicated query set."""
    plan = _plan(spark, catalog.queries["cosine_topk_bruteforce"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan

    plan = _plan(spark, catalog.queries["cosine_topk_sharded"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan


def test_cosine_pairs_shard_pair_layout(spark, catalog):
    """The exact all-pairs form plans as explode (shard-pair keys) +
    grouped Arrow stage — one shuffle on the group key, no broadcast of
    the corpus, no cartesian join."""
    plan = _plan(spark, catalog.queries["embedding_near_dup_exact"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Generate" in plan or "Explode" in plan, plan


def test_distributed_quantiles_no_group_buffer(spark, catalog):
    """The corpus-grain exact-quantile path must NOT use the
    single-reducer Percentile/Median aggregate anywhere, and (round 13)
    must not shuffle the corpus at all: selection runs as iterative
    histogram aggregation passes during construction (pure
    map-combinable aggs — see tests/test_round13_machinery.py for the
    value-level differential), so the RESULT frame is a driver-local
    k-row table with no Window, no range Exchange and no sort.
    (value_describe keeps the buffered form deliberately — its grain is
    the reference's describe() contract.)"""
    plan = _plan(
        spark, catalog.queries["value_quantiles_distributed"](spark, SMOKE_SF_DIR)
    )
    assert "percentile" not in plan.lower(), plan
    assert "median" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Sort" not in plan, plan


def test_ann_rerank_is_cogrouped_not_row_joined(spark, catalog):
    """The IVF re-rank must pair each inverted list with its probing
    queries via cogroup — ONE matmul per cell — never a row-level
    corpus x query join (which shuffles ~nprobe/nlist of all pairs as
    wide rows before the per-query gather)."""
    plan = _plan(spark, catalog.queries["ann_cosine_topk"](spark, SMOKE_SF_DIR))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bigram_lm_partial_aggs_no_python(spark, catalog):
    """LM training + scoring is pure JVM: the bigram dictionary aggs
    partial-combine map-side and nothing drops to Python."""
    plan = _plan(spark, catalog.queries["bigram_lm_quality_score"](spark, SMOKE_SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_latest_snapshot_is_struct_max_not_window(spark, catalog):
    """CDC latest-per-key compacts via ONE partial-agg struct max —
    never a per-key row_number window (which would sort the whole log
    inside each key's partition) — and shuffles exactly once."""
    plan = _plan(spark, catalog.queries["latest_event_snapshot"](spark, SMOKE_SF_DIR))
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan
    assert _n_exchanges(plan) == 1, plan


def test_ewma_single_window_pass_no_python(spark, catalog):
    """EWMA folds its bounded frame with JVM higher-order functions:
    one key shuffle feeding one WindowExec, zero Python stages."""
    plan = _plan(spark, catalog.queries["ewma_value_smoothing"](spark, SMOKE_SF_DIR))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert _n_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_iqr_fences_broadcast_not_fact_shuffle(spark, catalog):
    """The per-type fence frame (k rows) must broadcast back onto the
    events scan; the fact table is never shuffled for the fence join."""
    plan = _plan(spark, catalog.queries["iqr_outlier_profile"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # no SortMergeJoin anywhere: every join in the operator is either
    # the broadcast fence join or the bounded rank-pick broadcast join
    assert "SortMergeJoin" not in plan, plan


def test_decayed_score_single_fact_shuffle(spark, catalog):
    """The anchor is a broadcast scalar; the fact shuffles once into
    the per-user aggregate with map-side partial sums."""
    plan = _plan(spark, catalog.queries["time_decayed_user_score"](spark, SMOKE_SF_DIR))
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_token_entropy_partial_aggs(spark, catalog):
    """Both aggregation levels (per-(doc,token) counts, per-doc rollup)
    combine map-side; no Python, no window sort."""
    plan = _plan(spark, catalog.queries["token_entropy_profile"](spark, SMOKE_SF_DIR))
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Window" not in plan, plan


def test_hll_rollup_merges_sketches_not_rows(spark, catalog):
    """The weekly grain aggregates daily SKETCH cells (hll_union_agg),
    never re-scanning events: exactly one scan of the fact table in the
    whole plan, and both agg levels partial-combine."""
    plan = _plan(spark, catalog.queries["hll_weekly_rollup"](spark, SMOKE_SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "partial_hll_sketch_agg" in plan, plan
    assert "partial_hll_union_agg" in plan, plan


def test_novelty_ownership_agg_partial_no_python(spark, catalog):
    """First-occurrence ownership is a map-combinable min agg on the
    shingle key; nothing drops to Python and no window sort appears."""
    plan = _plan(spark, catalog.queries["ngram_novelty_score"](spark, SMOKE_SF_DIR))
    assert "partial_min" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Window" not in plan, plan


def test_bm25_filters_terms_before_shuffle_and_broadcasts_stats(spark, catalog):
    """The token explode is filtered to the query terms before the
    per-doc aggregate (the shuffle carries only query-term hits); the
    df/scalar frames broadcast; the top-k is TakeOrdered, not a global
    sort; nothing drops to Python."""
    plan = _plan(spark, catalog.queries["bm25_keyword_topk"](spark, SMOKE_SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_cohort_retention_broadcasts_cohort_sizes(spark, catalog):
    """Cohort sizes (weeks-bounded) broadcast; the user-keyed
    first-seen aggregate partial-combines map-side."""
    plan = _plan(spark, catalog.queries["weekly_cohort_retention"](spark, SMOKE_SF_DIR))
    assert "partial_min" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_concurrent_intervals_bounded_explode_single_shuffle(spark, catalog):
    """The sweep is ONE generator (bounded <=6-minute fan-out) into ONE
    hash shuffle on the minute key — no global sort, no range join, no
    Python."""
    plan = _plan(spark, catalog.queries["concurrent_active_intervals"](spark, SMOKE_SF_DIR))
    assert "Generate" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan  # distinct rewrite
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_histogram_scalar_broadcast_partial_counts(spark, catalog):
    """Corpus (min, max, count) is a 1-row broadcast back onto the fact
    (no collect); the bin aggregate partial-combines."""
    plan = _plan(spark, catalog.queries["value_histogram_equiwidth"](spark, SMOKE_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_grouping_sets_single_expand_single_exchange(spark, catalog):
    """Two non-hierarchical marginals in ONE pass: a single Expand
    (each row duplicated per grouping set) feeding a single partial
    hash aggregate + exchange — never two scans or two shuffles."""
    plan = _plan(spark, catalog.queries["grouping_sets_revenue"](spark, SMOKE_SF_DIR))
    assert plan.count("Expand") >= 1, plan
    assert _n_exchanges(plan) == 1, plan
    assert re.search(r"partial_", plan), plan


def test_unicode_class_profile_map_only(spark, catalog):
    """Charset profiling is pure per-row string work: zero exchanges,
    zero joins, column-pruned scan (no lang/source/n_chars read)."""
    plan = _plan(spark, catalog.queries["unicode_class_profile"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 0, plan
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1), plan


def test_embedding_dim_variance_partial_agg_one_exchange(spark, catalog):
    """posexplode widens 64x map-side, but the shuffle carries only 64
    (dim, partial sum/sumsq/min/max) tuples per task: one exchange,
    partial aggregation before it."""
    plan = _plan(spark, catalog.queries["embedding_dim_variance"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert re.search(r"partial_", plan), plan


def test_mad_outlier_small_frames_broadcast(spark, catalog):
    """The per-type med/mad frames are tiny aggregates: they must ship
    back onto the fact scan as broadcast joins, never a sort-merge
    shuffle of the events table."""
    plan = _plan(spark, catalog.queries["mad_outlier_profile"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_term_postings_top_terms_broadcast(spark, catalog):
    """The 20-term top-k broadcasts onto the (token, doc_id) partial
    agg; the posting-list concat happens after the cut, so no global
    sort and no shuffle of full posting strings."""
    plan = _plan(spark, catalog.queries["term_postings_index"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_forward_asof_single_join_shuffle(spark, catalog):
    """Forward direction keeps the union-window shape: one shuffle for
    the as-of pass + one for the error-side pre-agg; no range-join
    blowup."""
    plan = _plan(spark, catalog.queries["events_asof_next_error"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_keeps_fact_unshuffled(spark, catalog):
    """Round-9 rework: the EXISTS runs as inner-join + distinct with
    the quarter-filtered ORDERS side broadcast (a LeftSemi could only
    build the fact side, forcing a SortMergeJoin that sorted every
    lineitem — the warm probe pinned that at 5.3x). The fan-out an
    order's multiple late lineitems produce is collapsed by the
    partial-combined distinct, the fact table never shuffles pre-join,
    and the order-date window is pushed to the scan."""
    plan = _plan(spark, catalog.queries["q4_late_shipment_priority"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert re.search(r"PushedFilters:.*o_orderdate", plan), plan


def test_zorder_profile_two_exchanges_no_python(spark, catalog):
    """Morton-key interleave is pure codegen'd bit arithmetic: the only
    exchanges are the 1-row min/max scalar and the z-bucket rollup."""
    plan = _plan(spark, catalog.queries["zorder_layout_profile"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_referential_audit_single_pass_per_constraint(spark, catalog):
    """Every constraint is ONE left join of the child against its
    parent's DISTINCT key (total + orphan counts from the same scan —
    the round-12 rework of the total-agg + anti-join shape, which
    scanned every child table twice), and no constraint degrades to a
    SortMergeJoin. Five constraints -> exactly five outer joins and no
    second per-child aggregate scan."""
    plan = _plan(spark, catalog.queries["referential_integrity_audit"](spark, SMOKE_SF_DIR))
    assert plan.count("LeftOuter") >= 5, plan
    assert "LeftAnti" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # one scan per child per constraint: 5 children + 5 parents = 10
    # (formatted explain lists each scan twice — tree + details)
    assert plan.count("Scan parquet") <= 20, plan


def test_scan_splittability_conf_splits_multi_rowgroup_files(spark, tmp_path):
    """The engine session caps maxPartitionBytes at 1 MB so multi-
    row-group files actually split locally (session.py rationale). Pin
    the conf AND the behavior: a >1 MB file written with small row
    groups must produce multiple scan partitions."""
    from orca_ztbus_python_processor_spark.session import _auto_max_partition_bytes

    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(
        _auto_max_partition_bytes(8)
    )
    p = str(tmp_path / "wide.parquet")
    (
        spark.range(400_000)
        .selectExpr("id", "id * 2 AS a", "uuid() AS pad")
        .coalesce(1)
        .write.option("parquet.block.size", 262144)
        .parquet(p)
    )
    n = spark.read.parquet(p).rdd.getNumPartitions()
    assert n >= 2, f"expected a split scan, got {n} partition(s)"


def test_ohlc_single_aggregate_no_window(spark, catalog):
    """OHLC bars are ONE map-combinable aggregate (min_by/max_by over
    the chronological key) — never a window sort or self-join."""
    plan = _plan(spark, catalog.queries["minute_value_ohlc"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert re.search(r"partial_", plan), plan
    assert "Window" not in plan, plan


def test_scd2_windows_reuse_one_exchange(spark, catalog):
    """Both SCD2 window passes (change-flag running sum; lead() closing
    edge) and the per-state rollup share the user_id partitioning —
    exactly ONE exchange in the whole plan."""
    plan = _plan(spark, catalog.queries["scd2_user_state"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_column_census_one_unpivot_no_expand_blowup(spark, catalog):
    """The census is one stack/unpivot pass + a single rollup — never
    four scans and never a 4x count-distinct Expand over the fact."""
    plan = _plan(spark, catalog.queries["lineitem_column_census"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 2, plan
    # exactly one scan (formatted mode lists each scan's Location once)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def _unpartitioned_windows(df) -> int:
    """Count logical Window/WindowGroupLimit nodes with an EMPTY
    partition spec — each one becomes a single-task sort of the whole
    frame at execution (Spark's `WindowExec: No Partition Defined`)."""
    hits = 0

    def walk(node):
        nonlocal hits
        if node.getClass().getSimpleName() in ("Window", "WindowGroupLimit"):
            if node.partitionSpec().isEmpty():
                hits += 1
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return hits


def test_deciles_no_unpartitioned_window(spark, catalog):
    """customer_value_deciles formerly sorted every customer on one
    task via global ntile (VERDICT r5 "What's wrong" #1); the rewrite
    on functions.ranks must leave ZERO unpartitioned windows."""
    df = catalog.queries["customer_value_deciles"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0


def test_rfm_no_unpartitioned_window(spark, catalog):
    """user_rfm_segments formerly ran THREE unpartitioned ntile sorts
    (VERDICT r5 #2); the one with_global_ntiles_cuts pass must leave
    ZERO unpartitioned windows."""
    df = catalog.queries["user_rfm_segments"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0


# Global-window policy (docs/SCALE.md): an unpartitioned window is
# permitted ONLY over a frame whose cardinality is bounded by a
# non-entity grain (months, hours, sources, regions — not customers,
# users, documents). Entity-grain ranking must use functions.ranks.
# Every catalog query carrying a global window must be enumerated here
# with its bounding grain; anything new fails the lint.
#
# Measured frame cardinalities at sf1 (/tmp/sf1, 10x data — VERDICT
# r8 #8): months = 80, hours = 720, sources = 20, nations = 25,
# order-dates = 2,405, bins/limits constant by construction. Grain
# cardinality grows with the TIME SPAN or the source/dim CATALOG, not
# with row count — scaling the fixture 10x horizontally left every
# frame unchanged except dates (calendar-bounded), which is why these
# windows are safe where an entity-grain window is not.
BOUNDED_GLOBAL_WINDOW_OK = {
    "orders_monthly_mom_growth": "|months| rows after month-grain agg (80 at sf1)",
    "hourly_burst_flags": "|hours| rows after hour-grain agg (720 at sf1)",
    "source_lorenz_profile": "|sources| rows after source-grain agg (20 at sf1)",
    "temperature_mix_weights": "|sources| rows after source-grain agg (20 at sf1)",
    "region_nation_revenue_share": "25 nation rows after dim-grain agg",
    "data_mix_rebalance_profile": "|sources| rows after source-grain agg (20 at sf1)",
    "orders_skyline_paretofront": "|dates| rows after date-grain agg (2,405 at sf1)",
    "ks_binned_drift": "KS_BINS (20) rows after bin-grain agg",
    "orders_backlog_over_time": "|dates| rows after day-grain agg (2,405 boundaries at sf1)",
    "vocab_pareto_coverage": "1000-row frame after TakeOrdered limit",
    "fdr_bh_type_hour_enrichment": "|types|*24 test cells after (type, hour)-grain agg (120 at sf1) — BH step-up is test-count grain by definition",
    "sprt_error_rate_monitor": "|days| rows after day-grain agg (calendar-bounded; 30 on the fixture) — the cumulative LLR is day-sequential by definition",
    "token_pmi_collocations": "|vocab|^2 bigram cells after the support filter (<=961 on the closed 31-word fixture vocabulary; vocab-bounded, not doc-bounded, on any corpus)",
    # bipartite_hits_parts ranks a 15-row frame but eager-checkpoints
    # the result (edge-cache release), so no Window survives in the
    # returned plan — no whitelist entry needed (the LPA precedent).
    "cm_sketch_heavy_hitters": "CM_TOPK (20) rows after TakeOrdered limit (rank stamping)",
    "gains_lift_deciles": "10 decile rows after decile-grain agg (cumulative gain/lift)",
    "km_repurchase_survival": "|durations| rows after duration-grain agg (calendar-bounded; 582 event times at sf0.01 — the orders_backlog_over_time posture)",
    "lang_separability_auc": "<=1001-row quantized-TTR score frame (floor(1000*ttr) value domain, never doc grain)",
    # kruskal_wallis_qty_by_priority's global rank window runs on the
    # ~50-row distinct-quantity frame but is localCheckpoint'ed, so no
    # Window survives in the returned plan — no whitelist entry needed.
    # copurchase_label_propagation ranks a 20-row frame but eager-
    # checkpoints the result (cache release), so no Window survives in
    # the returned plan — no whitelist entry needed.
}


@pytest.fixture(scope="module")
def batch_frames(spark, catalog):
    """Every batch query built once (its eager build jobs included) and
    shared by both catalog-wide lints. Streaming queries are excluded:
    building them executes micro-batches, and their stateful ops are
    key-partitioned by construction and pinned in test_streaming."""
    return {
        name: fn(spark, SMOKE_SF_DIR)
        for name, fn in catalog.queries.items()
        if not name.startswith("stream_")
    }


def test_catalog_wide_unpartitioned_window_lint(batch_frames):
    """Catalog-wide lint: no batch query outside the documented
    bounded-frame whitelist may plan an unpartitioned window."""
    offenders = {}
    for name, df in batch_frames.items():
        n = _unpartitioned_windows(df)
        if n:
            offenders[name] = n
    unexpected = set(offenders) - set(BOUNDED_GLOBAL_WINDOW_OK)
    stale = set(BOUNDED_GLOBAL_WINDOW_OK) - set(offenders)
    assert not unexpected, (
        f"entity-grain global windows (use functions.ranks): "
        f"{ {k: offenders[k] for k in unexpected} }"
    )
    assert not stale, f"whitelist entries no longer needed: {stale}"


# Low-cardinality-key window policy (VERDICT r11 #2): the
# unpartitioned-window lint above misses the shape that bit
# pinball_loss_p90_eval — a window PARTITIONED by a key with only a
# handful of values (order priority: 5) over a corpus-grain frame, so
# each of ~5 reducers sorts ~20% of the corpus. This lint measures, at
# the smoke fixture, every logical Window node's partition-key
# cardinality k and child-frame row count n, and flags k below
# defaultParallelism while n/k is corpus-grain (>= LOW_CARD_ROWS_PER_KEY
# rows per key AT SF0.001 — horizontal scaling grows n/k, never k, for
# these keys, so a smoke-fixture hit is a 100x-scale single-task sort).
# Windows keyed on the quantile/rank machinery's `pid`/`_pid`
# (spark_partition_id of a range repartition) are exempt: their cells
# are bounded by PARTITION size by construction, which is the exact
# device this lint exists to force queries onto. WindowGroupLimit
# nodes (and the Window directly above one on the same keys — the
# rank-filter top-k shape) are exempt too: the physical plan inserts a
# map-side Partial group limit BEFORE the exchange, so the final
# per-key sort sees at most limit x n_map_tasks rows, never the
# corpus (topk_orders_per_segment, value_tail_hill_index).
#
# Whitelist: bounded-frame justifications, same contract as
# BOUNDED_GLOBAL_WINDOW_OK — every entry documents why n/k cannot grow
# corpus-like at scale.
LOW_CARD_ROWS_PER_KEY = 64
LOW_CARD_WINDOW_OK = {
    "bootstrap_ci_price_by_priority": (
        "the CI window ranks the |priorities| x B bootstrap-means frame "
        "(320 rows, B = 64 a constant knob): the x B explode partial-"
        "aggregates to these cells BEFORE its exchange, so n/k = B at "
        "ANY corpus size — resample-grain, not corpus-grain"
    ),
}


def _low_card_windows(spark, df) -> list:
    """Measure every partitioned logical Window node: returns
    [(keys, n_child, k)] for nodes whose measured key cardinality is
    below defaultParallelism while the child frame holds >=
    LOW_CARD_ROWS_PER_KEY rows per key at the smoke fixture."""
    from pyspark.sql import DataFrame as PyDF

    hits, seen = [], set()
    low_k = spark.sparkContext.defaultParallelism

    def _keys(node) -> tuple:
        ps = node.partitionSpec()
        names = []
        for i in range(ps.size()):
            refs = ps.apply(i).references().toSeq()
            for j in range(refs.size()):
                names.append(refs.apply(j).name())
        return tuple(dict.fromkeys(names))

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "Window":
            keys = _keys(node)
            child = node.children().apply(0)
            # rank-filter top-k: the optimizer places a WindowGroupLimit
            # directly beneath the Window — bounded by limit x tasks.
            grouplimited = (
                child.getClass().getSimpleName() == "WindowGroupLimit"
                and _keys(child) == keys
            )
            sig = (child.semanticHash(), keys)
            if (
                keys
                and not grouplimited
                and not set(keys) & {"pid", "_pid"}
                and sig not in seen
            ):
                seen.add(sig)
                # positional rename dodges duplicate output names
                cdf = PyDF(
                    spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                        spark._jsparkSession, child
                    ),
                    spark,
                )
                out = child.output()
                key_idx = []
                for kn in keys:
                    for i in range(out.size()):
                        if out.apply(i).name() == kn:
                            key_idx.append(i)
                            break
                renamed = cdf.toDF(*[f"c{i}" for i in range(len(cdf.columns))])
                n = renamed.count()
                k = renamed.select(*[f"c{i}" for i in key_idx]).distinct().count()
                if 0 < k < low_k and n >= k * LOW_CARD_ROWS_PER_KEY:
                    hits.append((keys, n, k))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return hits


def test_catalog_wide_low_cardinality_window_lint(spark, batch_frames):
    """Catalog-wide lint (VERDICT r11 #2): no batch query outside the
    documented whitelist may window a corpus-grain frame over a
    partition key with fewer values than defaultParallelism."""
    offenders = {}
    for name, df in batch_frames.items():
        hits = _low_card_windows(spark, df)
        if hits:
            offenders[name] = hits
    unexpected = set(offenders) - set(LOW_CARD_WINDOW_OK)
    stale = set(LOW_CARD_WINDOW_OK) - set(offenders)
    assert not unexpected, (
        f"low-cardinality-key windows over corpus-grain frames (use "
        f"functions.quantiles/ranks): "
        f"{ {k: offenders[k] for k in unexpected} }"
    )
    assert not stale, f"whitelist entries no longer needed: {stale}"


def test_pinball_p90_no_low_cardinality_window(spark, catalog):
    """pinball_loss_p90_eval (VERDICT r11 #1): the train-half P90 must
    run on the histogram-selected order statistic — zero unpartitioned
    windows, zero priority-keyed corpus-grain windows."""
    df = catalog.queries["pinball_loss_p90_eval"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    assert _low_card_windows(spark, df) == []
    plan = _plan(spark, df)
    assert "BroadcastHashJoin" in plan, plan


def test_q12_partial_case_sums_on_join(spark, catalog):
    """Q12 shape: the two CASE sums partial-aggregate before the 2-row
    exchange; no cartesian/range-join explosion for the lag band."""
    plan = _plan(spark, catalog.queries["q12_ship_mode_priority"](spark, SMOKE_SF_DIR))
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_division_distinct_partial_total_broadcast(spark, catalog):
    """Relational division: the (supplier, brand) distinct partial-aggs
    before its exchange; the brand total and supplier dim broadcast —
    no sort-merge join anywhere."""
    plan = _plan(
        spark, catalog.queries["relational_division_suppliers"](spark, SMOKE_SF_DIR)
    )
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_percentile_rank_distributed_no_global_window(spark, catalog):
    """customer_revenue_percentile ranks an entity-grain frame with the
    distributed-rank machinery: zero unpartitioned windows (the policy
    demonstrator), offsets enter via broadcast."""
    df = catalog.queries["customer_revenue_percentile"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert "BroadcastHashJoin" in plan, plan


def test_interpolation_windows_share_one_exchange(spark, catalog):
    """resample_linear_interpolate: the forward-carry and backward-carry
    window passes run on the SAME (user_id) partitioning — the union
    feeds exactly two exchanges total (grid-bounds agg + the window
    key), never one per direction."""
    plan = _plan(
        spark, catalog.queries["resample_linear_interpolate"](spark, SMOKE_SF_DIR)
    )
    assert _n_exchanges(plan) <= 3, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_nearest_asof_no_range_explosion(spark, catalog):
    """Bidirectional as-of = two union-window passes; no cartesian, no
    BroadcastNestedLoop range join at any scale."""
    plan = _plan(
        spark, catalog.queries["nearest_event_order_asof"](spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cosine_histogram_shuffles_buckets_not_pairs(spark, catalog):
    """embedding_cosine_histogram (r7 rewrite, VERDICT r6 #2): the
    shard cogroup emits partial bucket counts — the exchange carries
    ~21 cells per shard, never a pair row, and NEITHER side is
    driver-collected (the r6 form collect()ed |corpus|/500 query
    vectors)."""
    import inspect

    from pyspark.sql import functions as F

    from orca_ztbus_python_processor_spark.sources.parquet import read_table
    from orca_ztbus_python_processor_spark.workloads import vectors

    emb = read_table(spark, SMOKE_SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # the pair stage (pre-checkpoint): shard cogroup, never a cross join
    plan = _plan(spark, vectors._cosine_bucket_cells(emb))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # code pin: no corpus-proportional driver materialization anywhere
    # in the query path (localCheckpoint of the ~21-row bucket agg is
    # the only eager step).
    src = inspect.getsource(vectors.embedding_cosine_histogram) + inspect.getsource(
        vectors._cosine_bucket_cells
    )
    assert ".collect(" not in src and "toPandas(" not in src, src


def test_vocab_overlap_joins_on_token_not_cross(spark, catalog):
    """source_vocab_overlap_matrix: the pair stage is an equi-join ON
    TOKEN (co-located by the shuffle key), never a cross join of the
    vocabularies; vocab sizes broadcast."""
    plan = _plan(
        spark, catalog.queries["source_vocab_overlap_matrix"](spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_histogram_censuses_partial_agg(spark, catalog):
    """The two new histogram censuses partial-aggregate map-side and
    join their grand totals as broadcast 1-row frames."""
    for name in ("doc_length_log2_histogram", "token_length_histogram",
                 "benford_leading_digit"):
        plan = _plan(spark, catalog.queries[name](spark, SMOKE_SF_DIR))
        assert "partial_" in plan, f"{name}:\n{plan}"
        assert "SortMergeJoin" not in plan, f"{name}:\n{plan}"


def test_merge_upsert_single_fullouter_join(spark, catalog):
    """The MERGE rewrite is ONE full-outer join on the key plus CASE —
    never per-action scans or unions of three filtered joins."""
    plan = _plan(spark, catalog.queries["merge_upsert_actions"](spark, SMOKE_SF_DIR))
    assert plan.count("Join type: FullOuter") == 1, plan
    assert len(re.findall(r"Join type:", plan)) == 1, plan
    assert plan.count("Location: InMemoryFileIndex") == 2, plan


def test_session_path_single_user_shuffle_then_topk(spark, catalog):
    """Both session windows and the per-session row_number share the
    user partitioning; the top-20 uses TakeOrdered, not a global sort."""
    plan = _plan(spark, catalog.queries["session_path_topk"](spark, SMOKE_SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_heavy_hitters_candidates_broadcast_recount(spark, catalog):
    """heavy_hitters_topk_tokens: the recount semi-join must broadcast
    the candidate set (never shuffle the token stream against it), and
    the partition-candidate stage is one Arrow map pass."""
    df = catalog.queries["heavy_hitters_topk_tokens"](spark, SMOKE_SF_DIR)
    # result is a k-row local frame (bounded driver contract, like the
    # kmeans centers); the plan-quality content is in the operator —
    # assert on its internals instead.
    from orca_ztbus_python_processor_spark.sources.parquet import read_table
    from pyspark.sql import functions as F
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    tok = docs.select(F.explode(F.expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("item"))
    from orca_ztbus_python_processor_spark.operators import freqsketch
    import pandas as pd
    def partition_top(batches):
        from collections import Counter
        c = Counter()
        for pdf in batches:
            c.update(pdf["item"])
        if c:
            yield pd.DataFrame({"item": [t for t, _ in c.most_common(4096)]})
    cands = tok.mapInPandas(partition_top, schema="item string").distinct()
    counted = tok.join(F.broadcast(cands), "item", "left_semi").groupBy("item").count()
    plan = _plan(spark, counted)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "MapInPandas" in plan, plan
    assert len(df.columns) == 2 and df.count() > 0


def test_point_in_time_join_no_interval_explosion(spark, catalog):
    """The temporal (point-in-time) lookup rides the as-of union-window
    device — never a range join that explodes per matching interval."""
    plan = _plan(
        spark, catalog.queries["shipments_point_in_time_tier"](spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_neyman_allocation_partial_aggs(spark, catalog):
    plan = _plan(
        spark, catalog.queries["neyman_sample_allocation"](spark, SMOKE_SF_DIR)
    )
    assert "partial_" in plan, plan


def test_knn_accuracy_rides_sharded_kernel_no_cartesian(spark, catalog):
    """The 1-NN label probe must ride the shard-pair matmul layout —
    never a row-level cross join of the corpus against itself."""
    plan = _plan(spark, catalog.queries["knn_label_accuracy"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan, plan


def test_knn_accuracy_default_is_fixed_size_sampled_probe(spark, catalog):
    """r7 (VERDICT r6 #1): the DEFAULT probe's query side is a FIXED
    KNN_PROBE_N-row deterministic sample — the plan must carry a
    TakeOrderedAndProject at that limit (no full sort, no all-pairs
    corpus x corpus FLOP in the default path)."""
    from orca_ztbus_python_processor_spark.workloads.vectors import KNN_PROBE_N

    plan = _plan(spark, catalog.queries["knn_label_accuracy"](spark, SMOKE_SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    # formatted-mode detail block: "Arguments: 256, [pmod((vec_id * ...)"
    assert re.search(
        rf"TakeOrderedAndProject\nInput.*\nArguments: {KNN_PROBE_N}, \[pmod",
        plan,
    ), plan


def test_knn_allpairs_twin_matches_sampled_on_probe_subset(spark, catalog):
    """The exhaustive twin and the sampled default implement the SAME
    leave-one-out definition: every (label, n_matching) the sampled
    probe reports must be consistent with the exhaustive rollup's
    per-query decisions — checked by accuracy bounds per label."""
    samp = {
        r["label"]: (r["n_vectors"], r["n_matching"])
        for r in catalog.queries["knn_label_accuracy"](spark, SMOKE_SF_DIR).collect()
    }
    full = {
        r["label"]: (r["n_vectors"], r["n_matching"])
        for r in catalog.queries["knn_label_accuracy_allpairs"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    assert set(samp) <= set(full)
    for lab, (n_s, m_s) in samp.items():
        n_f, m_f = full[lab]
        assert n_s <= n_f and m_s <= m_f, (lab, samp[lab], full[lab])


def test_knn_allpairs_twin_refuses_large_corpus(spark):
    """The exhaustive corpus x corpus twin is runtime-fenced (VERDICT r7
    'What's wrong' #1): above ``allpairs_corpus_limit`` it must raise
    with a pointer at the sampled default rather than launch a
    quadratic job — the refusal fires BEFORE any shard kernel work."""
    import pytest

    from orca_ztbus_python_processor_spark.workloads.vectors import (
        knn_label_accuracy_allpairs,
    )

    with pytest.raises(ValueError, match="knn_label_accuracy"):
        knn_label_accuracy_allpairs(spark, SMOKE_SF_DIR, allpairs_corpus_limit=10)


# ---- round-6 wave-6b pins -------------------------------------------------


def test_triangle_count_no_cartesian_no_smj(spark, catalog):
    """Triangle counting: degree enrichment broadcasts; the wedge join
    and closing probe are equi-joins (never CartesianProduct), and
    nothing falls back to a sort-merge join at smoke scale."""
    plan = _plan(spark, catalog.queries["copurchase_triangle_count"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_join_probe_stays_jvm(spark, catalog):
    """The Bloom membership probe is pure JVM bit arithmetic against the
    broadcast 1-row bitmap: no Python evaluation anywhere, at most the
    two 1-row broadcast nested loops (bitmap + the final 1-row census),
    and the real key join never degrades to CartesianProduct."""
    plan = _plan(spark, catalog.queries["bloom_prefiltered_join"](spark, SMOKE_SF_DIR))
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_rolling_median_one_window_exchange(spark, catalog):
    """The exact rolling median is ONE user-partitioned window pass —
    a single exchange, no Python, no unpartitioned window."""
    df = catalog.queries["rolling_median_value"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert _n_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_cusum_windows_share_one_exchange(spark, catalog):
    """CUSUM needs three windows (partition mean, ordered prefix sum,
    argmax rank) — all on the SAME user_id partitioning, so the whole
    plan carries exactly ONE exchange."""
    df = catalog.queries["value_cusum_changepoint"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert _n_exchanges(plan) == 1, plan


def test_equidepth_histogram_distributed_rank(spark, catalog):
    """Equi-depth bucketing rides the round-13 boundary-broadcast NTILE
    (functions.ranks.with_global_ntiles_cuts): zero unpartitioned
    windows, zero windows at all — cut keys are resolved by histogram
    selection during construction and the bucket is a pure comparison
    projection, so the event frame's only Exchange is the final
    10-bucket rollup."""
    df = catalog.queries["value_histogram_equidepth"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert "Window" not in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, plan


def test_funnel_no_cartesian(spark, catalog):
    """The per-step deadline filters ride the stage equi-joins on
    user_id; only the two 1-row entry-count broadcasts may plan as
    nested loops, and nothing is a CartesianProduct."""
    plan = _plan(spark, catalog.queries["funnel_time_constrained"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_psi_drift_one_scan_grid_filled(spark, catalog):
    """PSI reads the events fact ONCE (scalar bounds + the conditional
    per-bin sums share the scan via the broadcast 1-row cross join) and
    always emits the full 10-row grid."""
    df = catalog.queries["value_psi_drift"](spark, SMOKE_SF_DIR)
    plan = _plan(spark, df)
    assert plan.count("Location: InMemoryFileIndex") <= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_skyline_no_dominance_self_join(spark, catalog):
    """The skyline never plans the quadratic dominance self-join: the
    only window runs on the date-grain aggregated frame (whitelisted
    bounded global window) and membership rejoins via broadcast."""
    plan = _plan(spark, catalog.queries["orders_skyline_paretofront"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_sample_takeordered(spark, catalog):
    """A-ES weighted sampling is map-side scoring + TakeOrdered top-k —
    never a global sort materialization or an unpartitioned window."""
    df = catalog.queries["weighted_order_sample"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert "TakeOrderedAndProject" in plan, plan


def test_interval_coverage_one_user_exchange(spark, catalog):
    """Merge-interval coverage: the marking window, island running sum,
    island rollup, and per-user rollup all ride ONE user_id exchange;
    zero unpartitioned windows."""
    df = catalog.queries["user_interval_coverage"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert _n_exchanges(plan) == 1, plan


def test_penny_allocation_one_key_exchange(spark, catalog):
    """Largest-remainder allocation: all three windows + the order-total
    join share the l_orderkey partitioning — at most the join's two
    input exchanges, never a window re-shuffle; zero unpartitioned
    windows, no Python."""
    df = catalog.queries["order_penny_allocation"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert _n_exchanges(plan) <= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_weighted_quantiles_no_global_window(spark, catalog):
    """Weighted quantiles ride histogram selection: zero unpartitioned
    windows (no window at all), no row-at-a-time Python."""
    df = catalog.queries["weighted_price_quantiles"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert "BatchEvalPython" not in plan, plan


# ---- round-7 pins ---------------------------------------------------------


def test_parts_intersect_single_scan_conditional_agg(spark, catalog):
    """parts_intersect_rf (VERDICT r6 #6): INTERSECT of two filters of
    the SAME table must plan as ONE scan + conditional aggregation
    (partial max flags before a single exchange) — never Spark's
    two-scan distinct + left-semi intersect plan (5.2x wall at 10x
    data)."""
    plan = _plan(spark, catalog.queries["parts_intersect_rf"](spark, SMOKE_SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert "partial_max" in plan, plan
    assert "LeftSemi" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_resample_ffill_no_grid_join(spark, catalog):
    """resample_forward_fill (VERDICT r6 #6): forward-fill runs on the
    SPARSE observed-minute agg and the dense grid is exploded map-side
    AFTER the window — no join, so no grid-sized exchange anywhere."""
    plan = _plan(spark, catalog.queries["resample_forward_fill"](spark, SMOKE_SF_DIR))
    assert "Join" not in plan, plan
    assert _n_exchanges(plan) == 2, plan  # sparse agg + user window only
    assert "Generate" in plan, plan  # the explode, after the window


def test_uniform_group_sample_window_group_limit(spark, catalog):
    """uniform_group_sample: rank <= N must trigger WindowGroupLimit so
    each input partition pre-filters to its local top-N per group
    before the exchange — the shuffle never carries a group's full
    membership."""
    plan = _plan(spark, catalog.queries["uniform_group_sample"](spark, SMOKE_SF_DIR))
    assert "WindowGroupLimit" in plan, plan


def test_table_checksum_partial_agg_single_exchange(spark, catalog):
    """table_checksum_audit: the polynomial row hash sums map-side;
    one exchange carrying 3 partial rows."""
    plan = _plan(spark, catalog.queries["table_checksum_audit"](spark, SMOKE_SF_DIR))
    assert "partial_sum" in plan, plan
    assert _n_exchanges(plan) == 1, plan


def test_mannwhitney_distributed_rank_no_global_sort(spark, catalog):
    """mannwhitney_value_shift rides functions.ranks: zero
    unpartitioned windows (the global rank is partition-offset
    addressed), and the only sorts are within range partitions."""
    df = catalog.queries["mannwhitney_value_shift"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0


def test_basket_lift_takeordered_no_cartesian(spark, catalog):
    """basket_affinity_lift: pair counts come from the per-order array
    explode (no row-level self-join of lineitem) and the final top-k is
    a TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, catalog.queries["basket_affinity_lift"](spark, SMOKE_SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_seasonal_decompose_single_groupingsets_shuffle(spark, catalog):
    """seasonal_decompose_profile: hour/dow/global effects share ONE
    Expand + shuffle (grouping sets — checkpointed, so the final plan
    scans the 32-row effect table as an ExistingRDD instead of
    re-aggregating), the effect tables broadcast, and the residual
    pass is the only other row-volume aggregation."""
    from pyspark.sql import functions as F

    from orca_ztbus_python_processor_spark.sources.parquet import read_table

    ev = read_table(spark, SMOKE_SF_DIR, "events").select(
        F.hour("ts").cast("long").alias("hour"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        "value",
    )
    sets_plan = _plan(
        spark,
        ev.groupingSets([["hour"], ["dow"], []], "hour", "dow").agg(
            F.avg("value").alias("a")
        ),
    )
    assert "Expand" in sets_plan, sets_plan
    assert _n_exchanges(sets_plan) == 1, sets_plan
    plan = _plan(
        spark, catalog.queries["seasonal_decompose_profile"](spark, SMOKE_SF_DIR)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


# ---- round-7 wave-3 pins ----------------------------------------------------


def test_chi_square_dimension_grain_joins(spark, catalog):
    """chi_square_nation_segment: the full marginal grid is built by
    broadcast joins over dimension-grain tables — the one BroadcastHashJoin
    backfills zero-observed cells; nothing degrades to a sort-merge join
    or an unbroadcast CartesianProduct."""
    plan = _plan(
        spark, catalog.queries["chi_square_nation_segment"](spark, SMOKE_SF_DIR)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bfs_levels_are_equi_joins(spark, catalog):
    """copurchase_bfs_distance: each BFS level is a frontier⋈edges
    equi-join plus a visited anti-join, with lineage cut per level —
    the FINAL plan is one node-grain aggregation over the checkpointed
    visited set (one exchange, no joins left in the plan), proving the
    per-level checkpointing actually bounded the plan depth."""
    plan = _plan(
        spark, catalog.queries["copurchase_bfs_distance"](spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_exchanges(plan) == 1, plan


def test_activity_bitmap_jvm_only_three_exchanges(spark, catalog):
    """activity_bitmap_profile: bit_or/bit_count are pure JVM (no
    Python evaluation), and the pipeline is exactly the three
    decreasing-grain hash exchanges (user×word → user → active_days)."""
    plan = _plan(
        spark, catalog.queries["activity_bitmap_profile"](spark, SMOKE_SF_DIR)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 3, plan


def test_rolling_corr_one_window_pass(spark, catalog):
    """rolling_corr_minute: all five co-moment sums ride ONE
    day-partitioned window (a single Window node, zero unpartitioned
    windows) on top of the minute pre-aggregation — two exchanges
    total."""
    df = catalog.queries["rolling_corr_minute"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert _n_exchanges(plan) == 2, plan


def test_robust_means_single_exchange(spark, catalog):
    """robust_means_profile: every statistic is an algebraic aggregate —
    one map-side-combinable scan, one exchange."""
    plan = _plan(spark, catalog.queries["robust_means_profile"](spark, SMOKE_SF_DIR))
    assert "partial" in plan, plan
    assert _n_exchanges(plan) == 1, plan


# ---- round-7 wave-4 pins ----------------------------------------------------


def test_boilerplate_two_shingle_shuffles_no_python(spark, catalog):
    """boilerplate_shingle_share: everything is JVM string/aggregate
    work (no Python evaluation, no CartesianProduct), and the exploded
    shingle table is NOT cached — no ExistingRDD scan; the census and
    scoring sides each recompute the cheap map-side explode rather than
    pinning a corpus-sized substring RDD."""
    plan = _plan(
        spark, catalog.queries["boilerplate_shingle_share"](spark, SMOKE_SF_DIR)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" not in plan, plan  # recompute, don't cache


def test_label_separation_bounded_after_first_exchange(spark, catalog):
    """label_separation_matrix: one row-volume posexplode+agg; the pair
    matrix join runs on the bounded label*dim table (hash join, never
    CartesianProduct or a Python pass)."""
    plan = _plan(
        spark, catalog.queries["label_separation_matrix"](spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_daily_kl_broadcast_marginals(spark, catalog):
    """daily_mix_kl_anomaly: the day-total and global-mix marginals
    broadcast onto the (day,type) table — no sort-merge join anywhere."""
    plan = _plan(spark, catalog.queries["daily_mix_kl_anomaly"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_orderkey_audit_anti_join_no_sort(spark, catalog):
    """orderkey_sequence_audit: island starts come from one shifted
    self anti-join (LeftAnti hash join) — zero Sort nodes, zero windows
    in the whole plan."""
    df = catalog.queries["orderkey_sequence_audit"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert "LeftAnti" in plan, plan
    assert not re.search(r"\(\d+\) Sort\b", plan), plan


# ---- round-7 wave-5 pins ----------------------------------------------------


def test_zlib_ratio_arrow_not_row_python(spark, catalog):
    """text_zlib_compress_ratio is the UD5 escape hatch done right:
    exactly one Arrow-batched Python stage (MapInPandas), never
    row-at-a-time BatchEvalPython; the aggregation after it is JVM."""
    plan = _plan(
        spark, catalog.queries["text_zlib_compress_ratio"](spark, SMOKE_SF_DIR)
    )
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("MapInPandas") >= 1, plan
    assert "partial" in plan, plan  # JVM map-side combine after the UDF


def test_quantile_sketch_compacts_before_shuffle(spark, catalog):
    """quantile_sketch_profile: the only Python stage is the map-only
    per-partition compaction; the weighted-quantile pass downstream
    runs on the compacted RDD (scan of ExistingRDD), so no full-row
    range shuffle appears in the final plan."""
    plan = _plan(
        spark, catalog.queries["quantile_sketch_profile"](spark, SMOKE_SF_DIR)
    )
    assert "BatchEvalPython" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_source_qq_drift_rides_rank_machinery(spark, catalog):
    """source_qq_drift: per-source deciles come from the distributed
    exact-quantile machinery — zero unpartitioned windows, no
    F.percentile per-group buffer (no 'percentile(' aggregate in the
    plan)."""
    df = catalog.queries["source_qq_drift"](spark, SMOKE_SF_DIR)
    assert _unpartitioned_windows(df) == 0
    plan = _plan(spark, df)
    assert "percentile(" not in plan, plan


def test_neardup_keep_no_cartesian_no_python(spark, catalog):
    """text_neardup_canonical_keep: the pair stage is a shingle
    equi-join (never CartesianProduct), the keeper is a struct-max
    aggregation (no window over raw docs), and nothing drops to
    row-at-a-time Python."""
    plan = _plan(
        spark, catalog.queries["text_neardup_canonical_keep"](spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


# ---- round-8 wave pins ----------------------------------------------------


def test_jaccard_parts_takeordered_no_cartesian(spark, catalog):
    """Neighbor-Jaccard: the top-20 is a TakeOrderedAndProject (no full
    sort), degree enrichment broadcasts, and the wedge self-join is an
    equi-join — never CartesianProduct or a smoke-scale SortMergeJoin."""
    plan = _plan(
        spark,
        catalog.queries["copurchase_jaccard_similar_parts"](spark, SMOKE_SF_DIR),
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_decontam_broadcasts_benchmark_grams(spark, catalog):
    """The decontam probe must broadcast the benchmark gram set (eval
    suites are MBs against a TB corpus) — a shuffle join here would
    re-exchange every training gram."""
    plan = _plan(
        spark, catalog.queries["benchmark_decontam_13gram"](spark, SMOKE_SF_DIR)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hill_index_window_group_limit(spark, catalog):
    """The top-101 order-statistic rank must prune map-side via
    WindowGroupLimit before the exchange — the full per-type sort never
    materializes."""
    plan = _plan(
        spark, catalog.queries["value_tail_hill_index"](spark, SMOKE_SF_DIR)
    )
    assert "WindowGroupLimit" in plan, plan


def test_diurnal_harmonic_single_exchange_no_window(spark, catalog):
    """The harmonic fit is pure map-combinable co-moments: exactly one
    exchange (the user_id hash for the final agg) and zero window
    functions."""
    plan = _plan(
        spark, catalog.queries["user_diurnal_harmonic"](spark, SMOKE_SF_DIR)
    )
    assert plan.count("Exchange") <= 2, plan  # hash agg exchange (+AQE read)
    assert "Window" not in plan, plan
    assert "partial_" in plan.lower() or "partial" in plan, plan


def test_priority_sample_prunes_topk_and_never_reads_text(spark):
    """priority_sample_weight_estimate: the top-(K+1) rank must prune
    map-side via WindowGroupLimit BEFORE the source exchange (the
    full per-source priority sort never materializes), and the scan
    must read only (source, doc_id, n_chars) — the text column never
    leaves the parquet footer (pinned on the pre-checkpoint fragment;
    the shipped query truncates it behind a localCheckpoint)."""
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        _priority_frames,
    )

    _pri, top = _priority_frames(spark, SMOKE_SF_DIR)
    plan = _plan(spark, top)
    assert "WindowGroupLimit" in plan, plan
    assert not re.search(r"ReadSchema:.*\btext\b", plan), plan


def test_entropy_rate_broadcasts_bounded_frames(spark, catalog):
    """event_chain_entropy_rate: the 7-row from_agg side broadcasts
    onto pair_agg — a shuffle join over the bounded dow frames would
    add two pointless exchanges."""
    plan = _plan(
        spark, catalog.queries["event_chain_entropy_rate"](spark, SMOKE_SF_DIR)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_heaps_growth_no_cross_join(spark, catalog):
    """heaps_vocab_growth: the curve join is an equi-join on the
    10-value checkpoint key and the fit rides a broadcast — no
    cartesian/nested-loop anywhere despite the scalar crossJoin (the
    1-row fit frame must plan as BroadcastNestedLoopJoin at worst on
    a 10-row probe side; a CartesianProduct over corpus-grain inputs
    would be the bug)."""
    plan = _plan(spark, catalog.queries["heaps_vocab_growth"](spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# Round-10 second-wave additions
# ---------------------------------------------------------------------------


def test_hits_edge_build_is_persisted_and_reused(spark, catalog):
    """bipartite_hits_parts builds the (cust, part, w) edge table ONCE:
    all three matvecs must read the InMemoryRelation, so the final plan
    scans lineitem zero times past the cache and contains no cartesian
    product."""
    from orca_ztbus_python_processor_spark.workloads.relational import (
        _hits_frames,
    )

    df, edges = _hits_frames(spark, SMOKE_SF_DIR)
    plan = _plan(spark, df)
    edges.unpersist()
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_cm_sketch_estimate_joins_broadcast(spark, catalog):
    """cm_sketch_heavy_hitters joins the top-20 keys and the 2048-cell
    counter table — both broadcast; the part-grain census must never
    SortMergeJoin."""
    plan = _plan(spark, catalog.queries["cm_sketch_heavy_hitters"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_calibration_bins_single_scan_partial_agg(spark, catalog):
    """return_model_calibration_bins is one scan + one ≤10-row rollup:
    the logistic score stays row-local (whole-stage codegen, no Python)
    and the averages partial-aggregate before the exchange."""
    plan = _plan(
        spark, catalog.queries["return_model_calibration_bins"](spark, SMOKE_SF_DIR)
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "partial_avg" in plan or "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_kl_quality_marginal_broadcasts(spark, catalog):
    """doc_unigram_kl_quality joins the vocab marginal and scalar total
    back onto the cells via broadcast — the corpus-sized side must not
    shuffle for either join."""
    plan = _plan(spark, catalog.queries["doc_unigram_kl_quality"](spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the scalar total
    assert "SortMergeJoin" not in plan, plan


def test_stat_battery_single_bounded_rollup(spark, catalog):
    """levene / kruskal / effect-size plans: the fact table feeds ONE
    map-combinable cell rollup (partial aggregation present) and the
    bounded rank/median machinery never SortMergeJoins."""
    for name in (
        "levene_qty_by_returnflag",
        "kruskal_wallis_qty_by_priority",
        "effect_size_price_r_vs_n",
    ):
        plan = _plan(spark, catalog.queries[name](spark, SMOKE_SF_DIR))
        assert "partial_sum" in plan or "partial_count" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_naive_bayes_model_joins_broadcast(spark, catalog):
    """The three per-feature model joins and the priors cross join must
    all be broadcast — the fact table never shuffles after the model
    rollup (the round-12 NB scale contract)."""
    plan = _plan(
        spark, catalog.queries["naive_bayes_returnflag"](spark, SMOKE_SF_DIR)
    )
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_gains_lift_model_join_broadcast(spark, catalog):
    """The smoothed-cell score model joins into the test scan via
    broadcast INSIDE the pinned scored frame (round 13: the scored test
    half is lazily checkpointed so the cut-selection passes and the
    decile rollup share one evaluation — the final plan reads the pin,
    so the join is asserted on the scored frame itself); deciles ride
    the boundary-broadcast cuts — no window, no SMJ, one rollup
    Exchange after the pin."""
    import orca_ztbus_python_processor_spark.workloads.relational as rel

    # patch the CONCRETE class: pyspark.sql.DataFrame is the dispatch
    # base in Spark 4; classic sessions instantiate the subclass, whose
    # override would shadow a base-class patch
    from pyspark.sql.classic.dataframe import DataFrame

    seen: list = []
    real = DataFrame.localCheckpoint

    def tap(self, eager=True):
        seen.append(self)
        return real(self, eager=eager)

    DataFrame.localCheckpoint = tap
    try:
        plan = _plan(
            spark, catalog.queries["gains_lift_deciles"](spark, SMOKE_SF_DIR)
        )
    finally:
        DataFrame.localCheckpoint = real
    assert "SortMergeJoin" not in plan, plan
    # (the final plan's only Window is the 10-row cumulative-gains pass
    # over deciles — bounded by construction)
    # the pinned scored frame carries the broadcast model join
    pinned_plans = [_plan(spark, df) for df in seen]
    assert any("BroadcastHashJoin" in p for p in pinned_plans), pinned_plans
    assert not any("SortMergeJoin" in p for p in pinned_plans), pinned_plans


def test_jl_projection_plan_is_scan_only(spark, catalog):
    """The JL projection is entirely row-local: no exchange other than
    the parquet scan's output should appear — no join, no aggregate
    shuffle, no window."""
    plan = _plan(
        spark, catalog.queries["jl_projection_distortion"](spark, SMOKE_SF_DIR)
    )
    for op in ("Join", "Window", "Exchange"):
        assert op not in plan, (op, plan)
