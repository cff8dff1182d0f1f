"""Physical-plan assertions (SURVEY.md §4, the 100 TB design gates).

Correctness tests prove the operators compute the right rows; these
prove Catalyst plans them the way a 1000-executor cluster needs:
filters reach the parquet reader, projections prune the scan, small
dims broadcast, aggregations have map-side partials, top-k avoids the
global sort, and partitioned windows never degenerate into a
single-task sort. A regression here is invisible at sf0.001 and fatal
at 100 TB — which is why they're plan assertions, not timings.

NOTE: these run against COLD loads (no warm_cache) so the parquet
scan is visible in the plan.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))

from plan_audit import py_nodes  # noqa: E402

from ocdb_server_spark.registry import load_all  # noqa: E402

OPS = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """op07 equality filter must appear in PushedFilters on the scan."""
    plan = _plan(OPS["op07_filter_eq"].fn(spark, sf_dir))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "c_mktsegment" in pushed


def test_projection_pruning_reaches_scan(spark, sf_dir):
    """op02: ReadSchema must carry only the selected+filtered columns,
    not the full 16-column lineitem schema."""
    plan = _plan(OPS["op02_scan_projection_pushdown"].fn(spark, sf_dir))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 3 referenced columns — the untouched 13 stay unread
    assert read.count(":") == 3, read
    assert "l_comment" not in read and "l_shipdate" not in read


def test_small_dim_broadcasts(spark, sf_dir):
    """op28: part must ship as a broadcast, never shuffle the fact."""
    plan = _plan(OPS["op28_join_broadcast"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """op39 (flagship): every dimension of the 6-table star should
    broadcast — the only shuffle is the final aggregation's."""
    plan = _plan(OPS["op39_join_multiway_star"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_aggregation_has_map_side_partial(spark, sf_dir):
    """op17: HashAggregate(partial) below the exchange — the shuffle
    carries one row per (partition × group), not the data."""
    plan = _plan(OPS["op17_agg_groupby"].fn(spark, sf_dir))
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    # partial agg must appear BELOW (after, in toString order) the exchange
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:]


def test_topk_avoids_global_sort(spark, sf_dir):
    """op51: orderBy().limit() must plan TakeOrderedAndProject, not a
    full Sort of the whole table."""
    plan = _plan(OPS["op51_topk_global"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_windows_are_partitioned(spark, sf_dir):
    """Every window op must hash-partition before sorting — a global
    (unpartitioned) window sort is the classic 100 TB killer."""
    for name in (
        "op42_win_row_number_topk_group",
        "op45_win_running_sum",
        "op46_win_moving_avg",
    ):
        plan = _plan(OPS[name].fn(spark, sf_dir))
        assert "hashpartitioning" in plan, f"{name}: window not hash-partitioned"
        assert "SinglePartition" not in plan.split("Window")[0], (
            f"{name}: window runs on a single partition"
        )


def test_knn_is_single_pass_topk(spark, sf_dir):
    """op80: brute-force knn = literal query vector (plan-time 1-row
    lookup) + linear scan over precomputed norms + TakeOrderedAndProject.
    The plan must be a single pass: no join, no exchange, no shuffle of
    the embeddings — per-partition partial top-10, driver merge."""
    plan = _plan(OPS["op80_sim_cosine_knn"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan, "knn serving scan must not join"
    assert "Exchange" not in plan, "knn serving scan must not shuffle"


def test_tfidf_join_never_broadcasts_vocab(spark, sf_dir):
    """op120: the tf⋈df join key table is VOCAB-sized (10⁷-10⁸ grams on
    a web corpus) — it must plan as a shuffle join on `word`, never a
    broadcast. The only broadcast allowed is
    the 1-row corpus-count frame."""
    plan = _plan(OPS["op120_tfidf_terms"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan, (
        "vocab-sized df table must not broadcast"
    )


def test_semi_anti_joins_plan_as_such(spark, sf_dir):
    for name, kind in (
        ("op32_join_left_semi", "LeftSemi"),
        ("op33_join_left_anti", "LeftAnti"),
    ):
        plan = _plan(OPS[name].fn(spark, sf_dir))
        assert kind in plan, f"{name}: expected {kind} join in plan"


def test_minhash_shuffle_carries_signatures_not_text(spark, sf_dir):
    """op79: after the signature aggregation, no plan node should carry
    the raw text column — the shuffle payload is 16 longs per doc."""
    plan = _plan(OPS["op79_minhash_neardup"].fn(spark, sf_dir))
    partial_lines = [ln for ln in plan.splitlines() if "partial_min" in ln]
    assert partial_lines, "expected a map-side partial_min aggregate"
    for ln in partial_lines:
        out = ln.split("output=[")[1] if "output=[" in ln else ln
        assert "text#" not in out and "shingle#" not in out, (
            "shuffle payload must be the 16 signature longs, got: " + out[:200]
        )


@pytest.mark.parametrize(
    "name",
    ["op91_lang_id", "op92_quality_score", "op93_token_count"],
)
def test_per_row_text_ops_have_no_shuffle(spark, sf_dir, name):
    """The per-row text-analysis ops must be shuffle-free scans."""
    plan = _plan(OPS[name].fn(spark, sf_dir))
    assert "Exchange" not in plan, f"{name}: unexpected shuffle"


def test_pivot_is_single_aggregate(spark, sf_dir):
    """op100: the conditional-aggregation lowering = one partial+final
    hash aggregate (one shuffle) — unlike `DataFrame.pivot`, which
    plans a second pivotfirst aggregate + exchange even with explicit
    values; no distinct-value pass, no per-priority re-scan."""
    plan = _plan(OPS["op100_pivot"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan


def test_unpivot_is_shuffle_free_expand(spark, sf_dir):
    """op101: unpivot plans as an Expand over the scan — zero
    exchanges, unlike the UNION-ALL oracle shape which re-scans the
    table per metric."""
    plan = _plan(OPS["op101_unpivot"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert "Exchange" not in plan, plan


def test_correlated_subquery_decorrelates_to_join(spark, sf_dir):
    """op102: Catalyst must rewrite the per-row correlated SUM into an
    aggregate joined on the correlation key — the optimized plan has a
    Join + Aggregate and NO remaining scalar-subquery node."""
    opt = _optimized(OPS["op102_subquery_correlated"].fn(spark, sf_dir))
    assert "Join" in opt, opt
    assert "scalar-subquery" not in opt, opt


def test_argmax_is_partial_aggregate_not_window(spark, sf_dir):
    """op103: max_by/min_by plan as a partial+final aggregate (Spark 4
    chooses SortAggregate for these functions) — the shuffle carries
    one candidate per (segment × partition), never the whole table
    through a window sort."""
    plan = _plan(OPS["op103_agg_argmax"].fn(spark, sf_dir))
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan


def test_regression_is_single_pass(spark, sf_dir):
    """op108: the moments method = ONE aggregate over the scan, one
    exchange of 5 numbers — never a second pass per statistic."""
    plan = _plan(OPS["op108_regression_agg"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_date_spine_join_broadcasts(spark, sf_dir):
    """op109: the generated spine (O(days) rows) must broadcast into
    the anti-join — the orders side never shuffles on the join key."""
    plan = _plan(OPS["op109_date_spine_gaps"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_q3_topk_is_take_ordered(spark, sf_dir):
    """op114: the top-10 must plan as TakeOrderedAndProject (per-
    partition heap + driver merge), never a global Sort, and the
    segment/date filters must push to the scans."""
    plan = _plan(OPS["op114_join_topk_revenue"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_sum" in plan, plan
    pushed = plan.split("PushedFilters:")
    assert any("c_mktsegment" in p[:300] for p in pushed[1:]), plan


def test_seq_pack_windows_by_shard(spark, sf_dir):
    """op115: the pack-assignment cumsum must be a window PARTITIONED
    by source (shard-parallel), never an empty-partition global
    window."""
    plan = _plan(OPS["op115_seq_pack"].fn(spark, sf_dir))
    assert "Window" in plan, plan
    assert "windowspecdefinition(source" in plan, plan


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    """op116: the deduped benchmark gram set must BROADCAST into the
    corpus-gram join — the corpus side never shuffles on the gram."""
    plan = _plan(OPS["op116_contamination_overlap"].fn(spark, sf_dir))
    assert "BroadcastHashJoin [gram" in plan, plan


def test_tfidf_uses_window_group_limit(spark, sf_dir):
    """op120: the per-language top-5 must use Spark 4's
    WindowGroupLimit (partial top-k BEFORE the shuffle); only the
    1-row corpus-count frame broadcasts (the vocab-sized df table is
    a shuffle join — see test_tfidf_join_never_broadcasts_vocab)."""
    plan = _plan(OPS["op120_tfidf_terms"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_session_funnel_single_entity_shuffle(spark, sf_dir):
    """op121: both session windows and the per-session aggregate must
    share ONE hashpartitioning(user_id) exchange; the only other
    exchange is the single-row global rollup."""
    plan = _plan(OPS["op121_session_funnel"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert plan.count("Exchange") == 2, plan


def test_geo_knn_is_single_pass_topk(spark, sf_dir):
    """op122: linear scan + TakeOrderedAndProject — no shuffle, no
    global sort."""
    plan = _plan(OPS["op122_geo_knn"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_ewma_taps_share_one_window_sort(spark, sf_dir):
    """op123: all 10 lag taps must evaluate in ONE Window operator over
    one user_id exchange — never one sort per tap."""
    plan = _plan(OPS["op123_ewma_decay"].fn(spark, sf_dir))
    assert plan.count("Window [") == 1, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_pareto_window_runs_over_customer_agg(spark, sf_dir):
    """op124: the NTILE window input must be the per-customer
    aggregate (partial+final agg BEFORE the window), so the single-
    partition sort sees |customers| rows, never raw orders."""
    plan = _plan(OPS["op124_pareto_share"].fn(spark, sf_dir))
    # plan prints top-down: the per-customer decimal agg must sit BELOW
    # the window (i.e., execute before it)
    agg_pos = plan.find("partial_sum(cast(o_totalprice")
    win_pos = plan.find("Window [")
    assert agg_pos > win_pos > -1, plan


def test_promo_revenue_broadcasts_part(spark, sf_dir):
    """op134: part is the small dim — the Q14 join must broadcast it,
    and the month agg must have a map-side partial."""
    plan = _plan(OPS["op134_promo_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan


def test_sampling_weights_windows_post_agg(spark, sf_dir):
    """op135: the global windows must run over the per-lang AGGREGATE
    (a #langs-row frame), never over raw documents — the lang agg
    executes below the window in the printed plan."""
    plan = _plan(OPS["op135_sampling_weights"].fn(spark, sf_dir))
    agg_pos = plan.find("partial_count")
    win_pos = plan.find("Window [")
    assert agg_pos > win_pos > -1, plan


def test_hash_sample_two_phase_topk(spark, sf_dir):
    """op136: the skew-proof sample must rank twice — a salted
    (lang, salt) window feeding a per-lang window — with Spark 4's
    WindowGroupLimit pruning before each shuffle."""
    plan = _plan(OPS["op136_hash_sample_per_lang"].fn(spark, sf_dir))
    assert plan.count("Window [") == 2, plan
    assert "WindowGroupLimit" in plan, plan


def test_vocab_growth_running_sum_post_agg(spark, sf_dir):
    """op137: the running-sum window input must be the per-bucket
    aggregate (#buckets rows), with both hash aggs keeping map-side
    partials under the explode."""
    plan = _plan(OPS["op137_vocab_growth"].fn(spark, sf_dir))
    assert plan.count("partial_") >= 2, plan
    win_pos = plan.find("Window [")
    agg_pos = plan.find("partial_min(bucket")
    assert agg_pos > win_pos > -1, plan


def test_large_orders_having_prunes_before_join(spark, sf_dir):
    """op138: the HAVING filter on the quantity sum must apply to the
    aggregate BEFORE the orders join (plan prints the join above the
    filtered agg), and the top-20 must be TakeOrderedAndProject."""
    plan = _plan(OPS["op138_large_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    join_pos = plan.find("Join")
    filter_pos = plan.find("Filter (isnotnull(qdec")
    assert filter_pos > join_pos > -1, plan


def test_feature_minmax_fold_stays_jvm(spark, sf_dir):
    """op139: the sum-of-squares fold must be JVM codegen (no Python
    eval nodes) and the only exchange is the label window's."""
    plan = _plan(OPS["op139_feature_minmax"].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_returned_items_broadcasts_dims_and_takes_topk(spark, sf_dir):
    """op140: customer/nation broadcast, returnflag pushes to the scan,
    top-20 is TakeOrderedAndProject."""
    plan = _plan(OPS["op140_returned_items"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "l_returnflag" in pushed, pushed


def test_dup_cluster_stats_groups_on_digest(spark, sf_dir):
    """op141: the first agg must group on the md5 digest (never raw
    text), and both aggs must keep map-side partials."""
    plan = _plan(OPS["op141_dup_cluster_stats"].fn(spark, sf_dir))
    assert "md5" in plan, plan
    assert plan.count("partial_count") >= 1, plan


def test_source_overlap_groups_on_gram_hash_no_selfjoin(spark, sf_dir):
    """op142: the pair generation must be ONE groupBy on the gram hash
    + in-place HOF pair expansion — no self-join of the gram table;
    the only joins are the broadcast size lookups."""
    plan = _plan(OPS["op142_source_overlap"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning(h#" in plan, plan
    assert "collect_set(source" in plan, plan
    # no join keyed on the gram hash — pairs come from the HOF expand
    assert not re.search(r"(SortMerge|ShuffledHash|BroadcastHash)Join \[h#", plan), plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_token_histogram_single_agg(spark, sf_dir):
    """op143: one partial+final hash agg, no window, no join."""
    plan = _plan(OPS["op143_token_len_histogram"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_daily_anomaly_broadcasts_moments(spark, sf_dir):
    """op144: the single-row moment table must broadcast back over the
    day table — never a window over raw events."""
    plan = _plan(OPS["op144_daily_anomaly"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan


def test_label_centroids_partial_agg_under_explode(spark, sf_dir):
    """op145: posexplode feeds a hash agg with map-side partial sums —
    the shuffle carries ≤ (labels × dims) rows per partition."""
    plan = _plan(OPS["op145_label_centroids"].fn(spark, sf_dir))
    assert "Generate posexplode" in plan, plan
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_stream_stream_join_filters_push_to_scan(spark, sf_dir):
    """op146 (batch twin): both event_type filters must push to the
    parquet scans, and the join must key on user_id with the time
    bounds as a post-join condition."""
    plan = _plan(OPS["op146_stream_stream_join"].fn(spark, sf_dir))
    pushed = [seg[:200] for seg in plan.split("PushedFilters:")[1:]]
    assert any("view" in s for s in pushed), pushed
    assert any("purchase" in s for s in pushed), pushed


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """op147: the lang predicate must land in PartitionFilters (whole
    directories skipped), not in the row-level PushedFilters."""
    plan = _plan(OPS["op147_partition_pruned_scan"].fn(spark, sf_dir))
    part = plan.split("PartitionFilters:")[1][:200]
    assert "lang" in part, plan


def test_scd2_shares_user_exchange(spark, sf_dir):
    """op148: the run-detection windows, interval agg, and lead window
    must all reuse ONE hashpartitioning(user_id) family of exchanges —
    and none may degenerate to a single-partition window."""
    plan = _plan(OPS["op148_scd2_intervals"].fn(spark, sf_dir))
    assert "windowspecdefinition(user_id" in plan, plan
    assert "SinglePartition" not in plan.split("Window")[0], plan


def test_rolling_distinct_is_explode_not_rangejoin(spark, sf_dir):
    """op149: the 7-day contribution must be an explode + equi-groupBy,
    NEVER a nested-loop range join (the max-day bound broadcast is the
    only BNLJ input, a 1-row frame)."""
    plan = _plan(OPS["op149_rolling_distinct_users"].fn(spark, sf_dir))
    assert "Generate explode" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_json_struct_parse_single_agg(spark, sf_dir):
    """op150: from_json parse + one partial+final hash agg; no window,
    no join, one exchange."""
    plan = _plan(OPS["op150_json_struct_parse"].fn(spark, sf_dir))
    assert "from_json" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_boilerplate_shuffle_carries_digests(spark, sf_dir):
    """op151: the chunk agg's shuffle must carry md5 digests, never the
    text or the word array."""
    plan = _plan(OPS["op151_boilerplate_chunks"].fn(spark, sf_dir))
    partial = [ln for ln in plan.splitlines() if "partial_count" in ln]
    assert partial, plan
    for ln in partial:
        out = ln.split("output=[")[1] if "output=[" in ln else ln
        assert "text#" not in out and "w#" not in out, out[:200]


def test_ivf_assignment_is_map_side(spark, sf_dir):
    """op95: nearest-list assignment must fold over
    the broadcast codebook with zero shuffle exchanges and zero window
    operators — the corpus-side plan is scan → broadcast joins →
    TakeOrderedAndProject, never a window-ranked n×K crossJoin."""
    plan = _plan(OPS["op95_sim_ivf_knn"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan  # codebook + query row


def test_chunking_is_shuffle_free(spark, sf_dir):
    """op155: sequence+explode chunk fan-out must run entirely at the
    scan — no exchange of any kind, and the text column must not
    survive past the scan projection (only token counts flow)."""
    plan = _plan(OPS["op155_chunk_overlap"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_prefix_dedup_shuffles_digests_only(spark, sf_dir):
    """op154: the duplicate-group agg must shuffle md5 digests, never
    the text column."""
    plan = _plan(OPS["op154_prefix_dedup"].fn(spark, sf_dir))
    partial = [ln for ln in plan.splitlines() if "partial_count" in ln]
    assert partial, plan
    for ln in partial:
        out = ln.split("output=[")[1] if "output=[" in ln else ln
        assert "text#" not in out, out[:200]


def test_budget_pack_window_partitioned_no_text(spark, sf_dir):
    """op157: the running-sum window must partition by lang (never a
    SinglePartition sort of the corpus), and its input must be the
    narrow (doc_id, lang, n_tokens) projection — the text column stays
    at the scan."""
    plan = _plan(OPS["op157_token_budget_pack"].fn(spark, sf_dir))
    assert "windowspecdefinition(lang" in plan, plan
    assert "SinglePartition" not in plan.split("Window")[0], plan
    win_input = plan.split("Window")[0]
    assert "text#" not in win_input.split("Exchange")[0], plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """op159: both sides persisted bucketed+sorted on the order key →
    the sort-merge join must consume the bucket layout directly: ZERO
    shuffle exchanges at or below the join (the only exchange in the
    whole plan is the final 3-group aggregate above it)."""
    plan = _plan(OPS["op159_bucketed_cojoin"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    below = plan[plan.find("SortMergeJoin"):]
    assert "Exchange hashpartitioning" not in below, below[:2000]


def test_zorder_morton_stays_integer_codegen(spark, sf_dir):
    """op161: the Morton interleave must be pure JVM integer codegen —
    no Python eval nodes — and the agg must have a map-side partial."""
    plan = _plan(OPS["op161_zorder_layout"].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_psi_grid_broadcasts_small_sides(spark, sf_dir):
    """op162: the 12-row bin spine, the 12-row global histogram, and
    the 1-row total must all arrive via BroadcastExchange — the only
    hash shuffles are the (source,bin)/(source) aggregations."""
    plan = _plan(OPS["op162_drift_psi"].fn(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_twa_single_user_shuffle(spark, sf_dir):
    """op164: the lead() window and the per-user aggregate must share
    ONE hashpartitioning(user_id) exchange."""
    plan = _plan(OPS["op164_time_weighted_avg"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_entropy_window_and_agg_share_doc_shuffle(spark, sf_dir):
    """op165: after the (doc_id, tok) count, the per-doc token-total
    window and the entropy agg must reuse the doc_id partitioning —
    two hash exchanges total (tok-level, then doc-level), no more."""
    plan = _plan(OPS["op165_token_entropy"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_salted_join_is_hash_partitioned_both_sides(spark, sf_dir):
    """op167: the salted join must be a real shuffled join on the
    composite (custkey, salt) key — the whole point is distributing a
    hot key across reducers, so the dim must NOT broadcast."""
    plan = _plan(OPS["op167_salted_join"].fn(spark, sf_dir))
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "salt" in ln]
    assert joins, plan
    assert "BroadcastHashJoin" not in "".join(joins), plan


def test_snapshot_diff_topk_pushes_windowgrouplimit(spark, sf_dir):
    """op168: both per-entity latest-state snapshots must use the
    WindowGroupLimit optimization (rn=1 filter pushed into the sort)
    so the join sees entity-sized inputs."""
    plan = _plan(OPS["op168_snapshot_diff"].fn(spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_unigram_model_broadcasts_into_scoring_join(spark, sf_dir):
    """op169: the unigram model must arrive at the scoring join via
    BroadcastExchange (map-side join of the exploded corpus), never a
    shuffled join of per-token rows."""
    plan = _plan(OPS["op169_unigram_logprob"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_burst_window_partitioned_by_user(spark, sf_dir):
    """op170: the trailing-range frame must run inside a user_id
    window partition — never a SinglePartition global sort."""
    plan = _plan(OPS["op170_burst_detect"].fn(spark, sf_dir))
    assert "windowspecdefinition(user_id" in plan, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_rollup_merge_two_hash_aggs_no_resort(spark, sf_dir):
    """op171: two levels of hash aggregation; the second consumes the
    first's output without any sort (algebraic merge, not re-scan)."""
    plan = _plan(OPS["op171_rollup_merge"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × 2 levels
    assert "Sort" not in plan, plan


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_dir):
    """op172: the fact scan's PartitionFilters must carry a
    dynamicpruningexpression fed by the filtered dim — whole
    non-conversion partitions are skipped at runtime."""
    plan = _plan(OPS["op172_dpp_join"].fn(spark, sf_dir))
    assert "dynamicpruningexpression" in plan, plan


def test_ri_audit_anti_joins_prune_dim_to_keys(spark, sf_dir):
    """op173: all three orphan checks are anti joins, and each dim
    scan is pruned to its single key column (ReadSchema)."""
    plan = _plan(OPS["op173_ri_audit"].fn(spark, sf_dir))
    assert plan.count("LeftAnti") == 3, plan
    for key in ("struct<o_orderkey:bigint>", "struct<c_custkey:bigint>",
                "struct<p_partkey:bigint>"):
        assert key in plan, (key, plan)


def test_lateral_topk_decorrelates_to_windowgrouplimit(spark, sf_dir):
    """op177: the LATERAL ORDER BY+LIMIT body must decorrelate into a
    join + WindowGroupLimit — never a per-row re-scan (no nested-loop
    join, no cartesian)."""
    plan = _plan(OPS["op177_lateral_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


_CODEC_OPS = (
    "op104_multimodal_decode",
    "op130_multimodal_frame_sample",
    "op195_wav_decode_features",
    "op196_bmp_decode_stats",
    "op197_audio_dominant_freq",
    "op198_bmp_resize",
    "op199_audio_loudest_frames",
    "op200_multimodal_fuse",
    "op202_jpeg_decode_stats",
    "op203_jpeg_pixel_decode",
    "op205_png_decode_stats",
    "op222_gif_decode_stats",
    "op251_flac_decode_features",
)


def _plan_tree(plan: str) -> list[tuple[str, int | None]]:
    """(node name, parent index) for each node line of a physical plan
    tree as printed by executedPlan().toString()."""
    nodes: list[tuple[str, int | None]] = []
    stack: list[tuple[int, int]] = []  # (depth, node index)
    for line in plan.splitlines():
        m = re.match(r"([\s:|+-]*)(?:\*\(\d+\) )?(\w+)", line)
        if not m:
            continue
        depth = len(m.group(1))
        while stack and stack[-1][0] >= depth:
            stack.pop()
        nodes.append((m.group(2), stack[-1][1] if stack else None))
        stack.append((depth, len(nodes) - 1))
    return nodes


def test_codec_ops_payload_never_shuffles(spark, sf_dir):
    """The codec family (op104, op130, op195-op205, op222, op251): each
    decode chain is generate -> decode, two MapInArrow stages in one
    task, and the ONLY exchange below them is the repartition of the
    tiny id Range — encoded payload bytes are produced and decoded
    inside one task and must never cross an exchange (at 100 TB the
    payloads are the data; shuffling them is the scale-killer).
    op200 runs two chains and joins their feature rows."""
    for name in _CODEC_OPS:
        plan = _plan(OPS[name].fn(spark, sf_dir))
        nodes = _plan_tree(plan)
        names = [n for n, _p in nodes]
        chains = 2 if name == "op200_multimodal_fuse" else 1
        assert "MapInPandas" not in names, f"{name}:\n{plan}"
        assert names.count("MapInArrow") == 2 * chains, f"{name}:\n{plan}"
        # an exchange above a MapInArrow carries decoded feature rows
        # (op200's join); the ones below must be the id repartitions
        above = set()
        for i, n in enumerate(names):
            p = nodes[i][1] if n == "MapInArrow" else None
            while p is not None:
                above.add(p)
                p = nodes[p][1]
        exchanges = [i for i, n in enumerate(names) if n.endswith("Exchange")]
        pre = [e for e in exchanges if e not in above]
        assert len(pre) == chains, f"{name}:\n{plan}"
        if chains == 1:
            assert exchanges == pre, f"{name}: exchange after decode\n{plan}"
        for e in pre:
            child = [n for n, p in nodes if p == e]
            gen = nodes[e][1]
            assert child == ["Range"], f"{name}: exchange must sit on the id Range"
            assert names[gen] == "MapInArrow", f"{name}:\n{plan}"
            assert names[nodes[gen][1]] == "MapInArrow", f"{name}:\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "op260_bgzf_splittable_gzip",
        "op261_zstd_seekable_ingest",
        "op252_avro_roundtrip",
        "op258_avro_records_sink",
    ],
)
def test_archive_ops_payload_never_shuffles(spark, sf_dir, name):
    """The archive read paths decode payload bytes in the task that
    reads them. op260/op261: manifest stage -> repartition(8) ->
    decode stage, so the ONLY exchange below the decode carries
    manifest rows (path, offset, sizes). op252/op258: the decode
    stage sits directly on the binaryFile scan with no exchange below
    it. Either way only decoded rows reach the aggregate's shuffle."""
    plan = _plan(OPS[name].fn(spark, sf_dir))
    nodes = _plan_tree(plan)
    names = [n for n, _p in nodes]
    assert "MapInPandas" not in names, f"{name}:\n{plan}"
    decode = min(i for i, n in enumerate(names) if n == "MapInArrow")
    below = []
    todo = [decode]
    while todo:
        parent = todo.pop()
        kids = [i for i, (_n, p) in enumerate(nodes) if p == parent]
        below += kids
        todo += kids
    exchanges = [i for i in below if names[i].endswith("Exchange")]
    children = [i for i, (_n, p) in enumerate(nodes) if p == decode]
    if name.startswith(("op260", "op261")):
        assert len(exchanges) == 1, f"{name}:\n{plan}"
        assert children == exchanges, f"{name}: decode must sit on the exchange"
        manifest = [i for i, (_n, p) in enumerate(nodes) if p == exchanges[0]]
        assert [names[i] for i in manifest] == ["MapInArrow"], f"{name}:\n{plan}"
        assert names.count("MapInArrow") == 2, f"{name}:\n{plan}"
    else:
        assert exchanges == [], f"{name}:\n{plan}"
        assert [names[i] for i in children] == ["FileScan"], f"{name}:\n{plan}"
        assert "Format: BINARYFILE" in plan, plan
        assert names.count("MapInArrow") == 1, f"{name}:\n{plan}"


def test_gram_matrix_partials_before_exchange(spark, sf_dir):
    """op211: the mapInPandas partial must sit BELOW the (i,j)
    exchange — the shuffle carries d(d+1)/2 partial rows per
    partition, never a vector."""
    plan = _plan(OPS["op211_gram_matrix"].fn(spark, sf_dir))
    assert "MapInPandas" in plan
    # the only exchange is the partial-merge groupBy
    assert len(re.findall(r"Exchange (hash|range|Single)", plan)) == 1, plan


def test_kmeans_centroids_broadcast_not_shuffled(spark, sf_dir):
    """op212: both assign joins must BROADCAST the k×d centroid side;
    vectors join map-side — the classic k-means distribution."""
    plan = _plan(OPS["op212_kmeans_lloyd"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_triangle_edges_cached_and_no_cartesian(spark, sf_dir, monkeypatch):
    """op220's edge-iterator, the path for graphs too large for one
    task (forced here by refusing the dense guard, since any budget
    small enough to refuse it at test scale also stops the planner from
    broadcasting): the 3× referenced edge frame reads the persisted
    cache (one projection+distinct execution), no join degenerates
    into a cartesian product, and the per-edge count is an in-JVM
    array_intersect over BROADCAST adjacency lists: no wedge row is
    ever materialized (the oriented 3-way self-join emits one row per
    2-path, 166M at sf0.1's K_1000 projection)."""
    from ocdb_server_spark.functions import graph_kernels

    monkeypatch.setattr(graph_kernels, "triangle_kernel_fits", lambda n, budget: False)
    plan = _plan(OPS["op220_triangle_count"].fn(spark, sf_dir))
    assert "InMemoryTableScan" in plan, plan[:800]
    assert "CartesianProduct" not in plan
    assert "array_intersect" in plan, "edge-iterator intersect missing"
    # both adjacency attaches broadcast; the edge side is never shuffled
    # by a join (the only exchanges are the edge build + final agg)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "op220_triangle_count",
        "op89_ngram_jaccard",
        "op96_dedup_components",
        "op221_neardup_canonicalize",
    ],
)
def test_small_graph_runs_in_one_arrow_task(spark, sf_dir, name):
    """At test scale every input fits the task budget, so each kernel
    is one MapInArrow task and none of the relational plans it stands
    in for remains: no co-supply self-join or edge-iterator
    intersect, no gram rows (explode) or gram self-join, no
    checkpointed fixpoint state.

    - op220: one MapInArrow fed by the distinct (part, supplier) rows,
      coalesced into the task of their final aggregate and sorted by
      part; no join and no second exchange.
    - op89: one MapInArrow over the token rows; no join, no exchange.
    - op96/op221: the pair count over the token rows, then the
      union-find in the same task: its input is coalesced, not
      exchanged."""
    plan = _plan(OPS[name].fn(spark, sf_dir))
    lines = plan.splitlines()
    arrow = [i for i, line in enumerate(lines) if "MapInArrow" in line]
    assert "array_intersect" not in plan
    assert "explode" not in plan
    assert "Scan ExistingRDD" not in plan  # no checkpointed fixpoint state
    if name == "op220_triangle_count":
        assert len(arrow) == 1, plan
        below = lines[arrow[0] + 1 : arrow[0] + 4]
        assert "Sort [l_partkey" in below[0], plan
        assert "Coalesce 1" in below[1], plan
        assert "HashAggregate(keys=[l_partkey" in below[2], plan
        assert "Join" not in plan and "SinglePartition" not in plan, plan
        return
    kernels = [
        k for i in arrow for k in ("ngram_pair_counts", "min_label_components")
        if k in lines[i]
    ]
    if name == "op89_ngram_jaccard":
        assert kernels == ["ngram_pair_counts"], plan
        assert "Join" not in plan and "Exchange" not in plan, plan
        return
    assert kernels == ["min_label_components", "ngram_pair_counts"], plan
    assert "Coalesce 1" in lines[arrow[0] + 1], plan
    assert "SinglePartition" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bfs_no_per_hop_anti_join(spark, sf_dir):
    """op213: the loop implements the oracle's own
    walk/min-dist algebra — per hop ONLY frontier⋈edges + distinct;
    the per-hop LeftAnti probe against the growing visited set (and
    its broadcast build) must not appear; one final MIN(dist)
    aggregation replaces it (2.55 s → 1.28 s at sf0.1, interleaved
    best-of-5)."""
    plan = _plan(OPS["op213_bfs_reachability"].fn(spark, sf_dir))
    assert "LeftAnti" not in plan, "per-hop anti-join is back"
    assert "CartesianProduct" not in plan
    # levels the next hop builds on read the persisted cache
    assert "InMemoryTableScan" in plan, plan[:800]
    # the min-dist rollup exists exactly once
    assert "min(dist" in plan, plan[:800]


def test_approx_distinct_no_per_key_sketch(spark, sf_dir):
    """op20: both aggregates run over the distinct key set — the plan
    must NOT contain a partial approx sketch keyed per l_partkey (the
    Catalyst distinct-rewrite shape that built one ~1536-slot HLL
    buffer per key, 6.2 s at sf0.1)."""
    plan = _plan(OPS["op20_agg_approx_count_distinct"].fn(spark, sf_dir))
    import re as _re

    # every partial_approx_count_distinct must sit in a KEYLESS
    # aggregate: no "Keys [1]: [l_partkey...]" block may also carry a
    # partial_approx function (the per-key sketch army)
    for m in _re.finditer(r"Keys \[1\]: \[l_partkey[^\]]*\]", plan):
        window = plan[m.start() : m.start() + 400]
        assert "approx_count_distinct" not in window, window


def test_skyline_single_merge_exchange(spark, sf_dir):
    """op223: exactly one exchange (the partial-skyline union into the
    1-task merge) — the scan-side kernel runs before any shuffle."""
    plan = _plan(OPS["op223_skyline"].fn(spark, sf_dir))
    assert plan.count("MapInPandas") == 2, plan
    assert len(re.findall(r"Exchange (hash|range|Single)", plan)) == 1, plan


def test_cms_counters_partial_agged(spark, sf_dir):
    """op215: the probed sketch build must show a two-phase
    HashAggregate (partial_count below the exchange — the map-side
    combine IS the sketch merge) and, with the probes folded at plan
    time, NO join at all: one token scan feeds the conditional
    counts and a stack() unpivots the single-row result."""
    plan = _plan(OPS["op215_cms_pointquery"].fn(spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan, plan[:1500]
    assert "Join" not in plan, "probe fold regressed to a join plan"
    assert plan.count("Scan parquet") == 1, "token scan must be single"
    assert "stack" in plan  # the 1-row -> 6-row unpivot


def test_auc_window_runs_over_distinct_scores_only(spark, sf_dir):
    """op214: the (bounded) cumulative window must sit ABOVE the
    score aggregation — ranked input is the distinct-score table,
    not corpus rows."""
    plan = _plan(OPS["op214_auc_ranksum"].fn(spark, sf_dir))
    # Window appears after (textually above) a HashAggregate keyed on score
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1
    assert "score" in plan[win_pos : win_pos + 400]
    assert agg_pos > win_pos, "aggregate-to-distinct-scores must feed the window"


def test_bpe_argmax_is_take_ordered(spark, sf_dir):
    """op216: each merge round's argmax must plan as a 1-row
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(OPS["op216_bpe_train"].fn(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3, plan[:800]
    assert not re.search(r"Sort \[[^\]]*\], true(?!.*TakeOrdered)", plan.splitlines()[0])


def test_mor_deletes_anti_join_on_position(spark, sf_dir):
    """op228: the MoR read must be an ANTI join keyed on the physical
    (file, position) metadata columns — no key-based lookup."""
    plan = _plan(OPS["op228_mor_position_deletes"].fn(spark, sf_dir))
    assert "LeftAnti" in plan, plan[:800]
    anti_region = plan[plan.find("LeftAnti") - 400 : plan.find("LeftAnti") + 400]
    assert "_file" in anti_region and "_pos" in anti_region, anti_region
    assert "o_orderkey" not in anti_region.split("LeftAnti")[1].split("\n")[0]


def test_interval_coverage_single_keyed_window_chain(spark, sf_dir):
    """op233: the sweep is keyed windows only — exactly one exchange
    (user_id), never a global sort."""
    plan = _plan(OPS["op233_interval_coverage"].fn(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) >= 1
    assert not (
        re.search(r"Sort \[[^\]]*\], true", plan)
        and "TakeOrderedAndProject" not in plan
    ) or "user_id" in plan  # keyed sorts are fine; global are not


def test_corpus_build_two_shuffles(spark, sf_dir):
    """op250's headline economics: the whole build is two exchanges —
    the digest-keyed dedup window and the report aggregation."""
    plan = _plan(OPS["op250_corpus_build_pipeline"].fn(spark, sf_dir))
    assert len(re.findall(r"Exchange (hash|range|Single)", plan)) == 2, plan[:900]
    assert "PushedFilters" in plan  # the quality gate reaches the scan


def test_table_log_snapshot_reads_are_broadcast_anti_no_base_shuffle(
    spark, sf_dir
):
    """op255: every versioned read must resolve from the log into
    file-pruned scans; the v2 MoR read is a BROADCAST anti-join on
    the physical position columns, and NO version's read shuffles the
    base table (the only exchange in the whole op is the final
    single-partition union of the three 1-row aggregates)."""
    plan = _plan(OPS["op255_table_log_snapshots"].fn(spark, sf_dir))
    assert "LeftAnti" in plan, plan[:800]
    anti = plan[plan.find("LeftAnti") - 600 : plan.find("LeftAnti") + 200]
    assert "BroadcastExchange" in anti or "Broadcast" in plan[
        : plan.find("LeftAnti")
    ], "delete side must broadcast, not shuffle"
    assert "Exchange hashpartitioning" not in plan, (
        "a keyed exchange means the base table shuffled somewhere"
    )


_SERIES_OPS = [
    ("op231_holt_forecast", "event_type"),
    ("op235_holt_winters_seasonal", "event_type"),
    ("op253_holt_damped", "event_type"),
    ("op254_holt_winters_multiplicative", "event_type"),
    ("op257_holt_winters_damped_multiplicative", "event_type"),
    ("op259_croston_sba", "k"),
]


@pytest.mark.parametrize("name,key", _SERIES_OPS, ids=[n[:5] for n, _ in _SERIES_OPS])
def test_series_ops_one_keyed_arrow_stage(name, key, spark, sf_dir):
    """The forecasting recurrences run in one grouped Arrow stage
    (forecast._series_stage): the plan's only Python node is a
    FlatMapGroupsInArrow grouped on the series column alone, which adds
    no exchange of its own between it and the spine join, and every
    1-row day-bounds aggregate reaches the spine through a broadcast,
    never through a shuffle."""
    plan = _plan(OPS[name].fn(spark, sf_dir))
    assert py_nodes(plan) == 1 and "FlatMapGroupsInArrow" in plan, plan[:800]
    assert re.search(rf"FlatMapGroupsInArrow \[{key}#\d+L?\],", plan), plan[:800]
    lines = plan.splitlines()
    stage = next(i for i, line in enumerate(lines) if "FlatMapGroupsInArrow" in line)
    join = next(i for i in range(stage, len(lines)) if "Join" in lines[i])
    assert not any("Exchange" in line for line in lines[stage:join]), lines[stage:join]
    bounds = [i for i, line in enumerate(lines)
              if re.search(r"HashAggregate\(keys=\[\], functions=\[min\(", line)]
    assert bounds, plan
    for i in bounds:
        assert "+- BroadcastExchange " in lines[i - 1], lines[i - 1]


def test_rrf_legs_cut_to_depth_before_rank_window(spark, sf_dir):
    """op263: both retrieval legs must cut to depth with
    TakeOrderedAndProject BEFORE any rank window — a global
    row_number over the full scored set would put every scored doc
    in ONE partition at 100 TB. The windows that remain may only see
    the ≤DEPTH-row cuts, and the final top-20 is a third TakeOrdered."""
    plan = _plan(OPS["op263_rrf_hybrid_topk"].fn(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3, plan[:800]
    # the two rank windows run over single-partition ≤50-row frames —
    # exactly two, and no window may appear upstream of a TakeOrdered
    assert len(re.findall(r"\bWindow\b", plan)) == 2
    # corpus stats / df broadcast back to the tf frame (op183's shape)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_cdc_merge_one_feed_window_one_join_no_base_window(spark, sf_dir):
    """op264: the feed collapses through key-partitioned windows
    (row_number + count share ONE hashpartitioning(user_id) exchange)
    and the merge is ONE full-outer SortMergeJoin; the base side is
    never windowed and never broadcast (full-outer cannot broadcast,
    and at scale both sides are large)."""
    plan = _plan(OPS["op264_cdc_apply_changes"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan
    # one exchange for the feed's window chain, one per SMJ side
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3
    # both window operators sit on the SAME user_id partitioning —
    # windowing the (huge) base side would show a c_custkey window
    wins = re.findall(r"Window \[.*?\]", plan)
    assert 1 <= len(wins) <= 2 and all("user_id" in w for w in wins), wins
