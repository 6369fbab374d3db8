"""Optimizer-property pins: these tests fail if a code change silently
degrades the physical plan — the properties that matter at 100 TB
(scan-level filter pushdown, column pruning, broadcast of small dims,
whole-stage codegen, map-side partial aggregation), independent of
result correctness (test_parity.py) and wall-clock (bench.py).
"""

from __future__ import annotations

import os
import re

from bigdata_twitter_spark.registry import load_all_operators

SPECS = load_all_operators()


def _plan(spark, sf_dir, key: str) -> str:
    return (
        SPECS[key]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_predicate")
    assert "PushedFilters: [" in plan
    # At least one real predicate must be pushed (not just the bare
    # brackets of an empty list).
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan


def test_column_pruning_in_projection(spark, sf_dir):
    """project_select touches 5 source columns; the scan schema must
    carry exactly those — not the full 16-column lineitem row."""
    plan = _plan(spark, sf_dir, "project_select")
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read_schema.count(":") == 5, read_schema
    for unused in ("l_comment", "l_shipdate", "l_quantity", "l_partkey"):
        assert unused not in read_schema, read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_broadcast")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_flagship_agg_uses_codegen_and_partial_agg(spark, sf_dir):
    # Execute first: AQE renders codegen spans only in the FINAL plan.
    df = SPECS["agg_q1_pricing"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    # Whole-stage codegen renders as "*(n)" stage markers in the final
    # plan; both the partial and final agg must sit inside one.
    assert "*(1)" in plan and "*(2)" in plan, plan
    assert "partial" in plan.lower(), plan  # map-side combine present


def test_trending_topk_uses_take_ordered(spark, sf_dir):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a global sort followed by limit."""
    plan = _plan(spark, sf_dir, "trending_topk_terms")
    assert "TakeOrderedAndProject" in plan, plan


def test_star_join_pushes_filters_below_joins(spark, sf_dir):
    """join_star_3way's per-table filters must appear as pushed scan
    predicates, not post-join filters only."""
    plan = _plan(spark, sf_dir, "join_star_3way")
    assert plan.count("PushedFilters: [Is") + plan.count(
        "PushedFilters: [Equal"
    ) + plan.count("PushedFilters: [LessThan") + plan.count(
        "PushedFilters: [GreaterThan"
    ) >= 2, plan


def test_no_cartesian_in_oracle_checked_joins(spark, sf_dir):
    """Only join_cross (deliberate) may plan a cartesian product."""
    for key in (
        "join_inner_equi",
        "join_outer_left",
        "join_semi",
        "join_anti",
        "join_star_3way",
        "join_interval_time",
        "join_range_binned",
    ):
        plan = _plan(spark, sf_dir, key)
        assert "CartesianProduct" not in plan, (key, plan)


def test_pack_token_budget_has_no_global_data_window(spark, sf_dir):
    """The packing cumsum must stay bucket-partitioned: the only
    unpartitioned window may run over the tiny per-bucket totals, and
    the bucket-offset join must broadcast (no shuffle of the doc side
    beyond the bucket-keyed window exchange)."""
    plan = _plan(spark, sf_dir, "pack_token_budget")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    windows = [
        ln for ln in plan.splitlines() if "Window " in ln or "Window[" in ln
    ]
    partitioned = [ln for ln in windows if "bucket" in ln]
    assert partitioned, plan  # the doc-sized cumsum is bucket-keyed
    # Global (unpartitioned) windows: allowed only on the totals side,
    # which is recognizable by aggregating bucket_total.
    for ln in windows:
        if ln not in partitioned:
            assert "bucket_total" in ln, ln


def test_contamination_eval_set_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_contamination_overlap")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_negative_sampling_rank_stays_bucketed(spark, sf_dir):
    """sample_negative_pairs' md5 rank must follow the distributed
    pattern: the doc-sized window is bucket-partitioned; any
    unpartitioned window runs only over the 16-row bucket-count side."""
    plan = _plan(spark, sf_dir, "sample_negative_pairs")
    windows = [
        ln for ln in plan.splitlines() if "Window " in ln or "Window[" in ln
    ]
    assert windows, plan
    partitioned = [ln for ln in windows if "bucket" in ln and "bn" not in ln]
    assert partitioned, plan
    for ln in windows:
        if ln not in partitioned:
            assert "bn" in ln, ln  # the tiny bucket-totals cumsum


def test_semantic_dedup_join_is_cluster_keyed(spark, sf_dir):
    """The pair search must join on the cluster key (bounded occupancy),
    never a cartesian."""
    plan = _plan(spark, sf_dir, "dedup_semantic_cluster")
    assert "CartesianProduct" not in plan, plan
    assert "cluster" in plan, plan


def test_lsh_verification_is_bucket_local(spark, sf_dir):
    """sim_pairs_bucketed must verify INSIDE bucket groups (Arrow UDF
    over groupBy band/bval) — never materialize candidate pairs and
    join vector payloads onto them (the x100-probe disk-filler)."""
    plan = _plan(spark, sf_dir, "sim_pairs_bucketed")
    assert "FlatMapGroupsInPandas" in plan, plan
    # The only joins allowed are the broadcast keep-filter and the
    # vector attach — no pair-level self-join survives in the plan.
    assert "CartesianProduct" not in plan, plan


def test_semantic_dedup_verification_is_cluster_local(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_semantic_cluster")
    assert "FlatMapGroupsInPandas" in plan, plan


# ---- round-5 pins: the streaming + LLM bench queries (VERDICT r4 #2) --


def _stream_plan(spark, sf_dir, key: str) -> str:
    """Execute the finite replay and return the STREAMING-side plan of
    its last microbatch (state machinery lives there, not in the sink
    read-back the operator returns)."""
    from bigdata_twitter_spark import obs

    SPECS[key].fn(spark, sf_dir).collect()
    plan = obs.last("stream_plan")["plan"]
    assert plan and plan != "(unavailable)"
    return plan


def test_stream_tumbling_agg_state_is_watermark_bounded(spark, sf_dir):
    """The streaming aggregate must run through a state store behind a
    watermark (bounded state), with a partial agg before the shuffle."""
    plan = _stream_plan(spark, sf_dir, "stream_tumbling_agg")
    assert "StateStoreSave" in plan, plan
    assert "EventTimeWatermark" in plan, plan
    assert "partial" in plan.lower(), plan  # map-side combine pre-state


def test_stream_stream_join_is_symmetric_hash(spark, sf_dir):
    """Click→purchase attribution must plan as the symmetric hash join
    with BOTH sides watermarked — the shape whose state is evictable by
    watermark+range — and co-locate via one keyed exchange per side."""
    plan = _stream_plan(spark, sf_dir, "stream_stream_join")
    assert "StreamingSymmetricHashJoin" in plan, plan
    assert plan.count("EventTimeWatermark") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_stream_topk_streaming_layer_is_counts_only(spark, sf_dir):
    """The two-layer trending top-K: the STREAM side maintains only the
    watermarked (window, key) counts in a state store; the rank runs
    batch-side over emitted aggregates (a window partitioned by
    window_start — never an unpartitioned global sort)."""
    from bigdata_twitter_spark import obs

    df = SPECS["stream_topk_per_window"].fn(spark, sf_dir)
    stream_plan = obs.last("stream_plan")["plan"]
    assert "StateStoreSave" in stream_plan, stream_plan
    assert "row_number" not in stream_plan, stream_plan  # rank ≠ stream side
    batch_plan = df._jdf.queryExecution().executedPlan().toString()
    windows = [
        ln for ln in batch_plan.splitlines()
        if "Window " in ln or "Window[" in ln
    ]
    assert windows and all("window_start" in ln for ln in windows), batch_plan


def test_dedup_embedding_joins_stay_keyed(spark, sf_dir):
    """Whichever miner the corpus-size dispatch picks, the keep/drop
    resolution around it must be key-equi joins (doc_id) plus one
    grouped aggregation — never a cartesian over documents."""
    plan = _plan(spark, sf_dir, "dedup_embedding")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan  # the neighbor-count groupBy


def test_train_pipeline_is_one_plan_with_doc_keyed_joins(spark, sf_dir):
    """The composite must compile to ONE Catalyst plan whose signal
    tables join on doc_id (co-shuffled key-equi), with no cartesian and
    the mixture filter reaching a scan (not applied post-join only)."""
    plan = _plan(spark, sf_dir, "train_pipeline_e2e")
    assert "CartesianProduct" not in plan, plan
    assert "doc_id" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_bloom_prefilter_prunes_map_side_before_join(spark, sf_dir):
    """The bitmap membership tests must run in the scan/filter stage
    BELOW the join (a Filter on the fact side referencing the bloom
    words), and the final customer join must broadcast."""
    plan = _plan(spark, sf_dir, "join_bloom_prefilter")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # the word-test shows up as shiftleft(...) inside a Filter below
    # the join — if it migrated above the join the pruning is gone
    join_pos = plan.find("Join")
    filt_pos = plan.find("shiftleft")
    assert filt_pos != -1, plan
    assert filt_pos > join_pos, (
        "bloom filter should sit in the post-order (deeper) plan text "
        "below the join node"
    )


def test_span_dedup_shuffles_once_per_key(spark, sf_dir):
    """One (span) exchange for the dup set + one (doc_id) exchange for
    reassembly; the dup-set join itself must broadcast."""
    plan = _plan(spark, sf_dir, "text_span_dedup")
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: span distinct+agg side may legitimately add one more
    # for the distinct; cap total data exchanges at 4 to catch a
    # regression to a sort-merge join (which would add sorts too)
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_median_never_sorts_whole_groups(spark, sf_dir):
    """The only window over data rows runs on the single median bucket;
    the full lineitem table must not pass through a global per-group
    sort (no Sort directly over the raw-row scan partitioning)."""
    df = SPECS["agg_weighted_median"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the in-bucket window sorts only rows surviving the broadcast
    # semi-filter join; a regression to the naive shape would window
    # straight over the (l_returnflag) partition of the full price set
    # with no preceding BroadcastHashJoin
    assert "BroadcastHashJoin" in plan, plan


def test_seasonal_profile_broadcasts_back(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ts_seasonal_decompose")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_fn_url_and_bitwise_are_pure_map_stages(spark, sf_dir):
    for key in ("fn_url", "fn_bitwise"):
        plan = _plan(spark, sf_dir, key)
        assert "Exchange" not in plan, (key, plan)


def test_asof_nearest_single_shuffle_no_self_join(spark, sf_dir):
    """Both direction candidates must come from mirrored window frames
    over ONE user_id exchange — never a self-join."""
    plan = _plan(spark, sf_dir, "join_asof_nearest")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_temperature_mixture_rate_table_broadcasts(spark, sf_dir):
    """The 20-row per-source rate table must broadcast back onto the
    documents scan (map-side keep decision)."""
    plan = _plan(spark, sf_dir, "sample_temperature_mixture")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_minhash_md5_twin_keeps_partial_min_aggregation(spark, sf_dir):
    """The signature build must partial-aggregate the 16 min()s before
    the exchange (shuffle carries 16 strings per doc, not the shingle
    explosion)."""
    plan = _plan(spark, sf_dir, "dedup_minhash_md5")
    assert "partial_min" in plan or "partial" in plan.lower(), plan


def test_kmv_window_is_group_partitioned(spark, sf_dir):
    """The rank window must be partitioned by event_type — a global
    (unpartitioned) sort would be the classic scale killer."""
    plan = _plan(spark, sf_dir, "agg_kmv_distinct")
    # the Sort feeding the Window must be over (event_type, hv), and
    # the exchange must be hashpartitioning on event_type
    assert "hashpartitioning(event_type" in plan, plan


def test_kmv_union_global_kmin_is_two_level(spark, sf_dir):
    """agg_kmv_union_intersect's global k-min must run as the bounded
    two-level cut: a bucket-partitioned top-k window (hash-uniform
    nibble buckets, exchange on `bucket`) feeding the final rank — no
    unpartitioned WindowExec ever sees the data-sized distinct-user
    set (VERDICT r5 'What's wrong' #1)."""
    plan = _plan(spark, sf_dir, "agg_kmv_union_intersect")
    assert "hashpartitioning(bucket" in plan, plan
    # the single-partition exchange may only appear ABOVE the bucket
    # cut (it feeds the <=16*k candidate rank, aggregate-sized)
    bucket_pos = plan.index("hashpartitioning(bucket")
    single_pos = plan.find("SinglePartition")
    assert single_pos == -1 or single_pos < bucket_pos, plan[:2000]


# ---- round-6 pins: full property sets for the four LLM bench keys ----
# (VERDICT r5 #8 — they were captured in PLANS but only partially
# pinned; these make the scale-critical shape of each plan a test.)


def test_sim_pairs_bucketed_one_bucket_shuffle_no_windows(spark, sf_dir):
    """The bucket-local verify claim, pinned structurally: vectors
    ship ONCE into their (band,bval) group — exactly one bucket-keyed
    exchange — the persisted band table is reused (InMemoryTableScan),
    and the plan carries no window and no single-partition exchange
    (nothing global, nothing rank-shaped, at any scale)."""
    plan = _plan(spark, sf_dir, "sim_pairs_bucketed")
    # exactly ONE bucket-keyed exchange: the vector-payload shuffle
    # into verify groups.  (r14: the occupancy keep-join left the
    # returned plan — the cap is enforced group-locally inside the
    # Arrow verifier, and the audit aggregate runs as its own tiny
    # job over the persisted band table.)  A second would mean the
    # payload ships twice.
    bucket_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(band" in ln
    ]
    assert len(bucket_exchanges) == 1, plan
    assert "InMemoryTableScan" in plan, plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_dedup_embedding_nothing_global_and_pairs_persisted(spark, sf_dir):
    """Keep/drop resolution stays fully keyed: no single-partition
    exchange, no window anywhere; the mined pair set is persisted
    (consumed by both the neighbor count and the drop-side join) so
    the miner runs once, not once per consumer."""
    plan = _plan(spark, sf_dir, "dedup_embedding")
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_semantic_dedup_exchanges_are_cluster_or_id_keyed(spark, sf_dir):
    """Every shuffle in the semantic-dedup plan must be keyed on the
    cluster or a vector/doc id (bounded occupancy either way) — no
    global exchange, no window; centroid state rides broadcasts."""
    plan = _plan(spark, sf_dir, "dedup_semantic_cluster")
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning(" not in ln:
            continue
        key = ln.split("Exchange hashpartitioning(", 1)[1]
        assert key.startswith(("cluster", "vec_id", "a_id", "b_id")), ln


def test_train_pipeline_windows_stay_bucketed_and_bounded(spark, sf_dir):
    """The composite's rank machinery must stay the distributed
    nibble-bucket shape: data-sized row_number windows partitioned
    (bucket/_w0 keys), top-1 ranks optimized to WindowGroupLimit, and
    the only SinglePartition exchanges the aggregate-sized offset/
    stats reductions (bounded count — a new global shuffle on a
    data-sized input shows up here as a count regression)."""
    plan = _plan(spark, sf_dir, "train_pipeline_e2e")
    assert "WindowGroupLimit" in plan, plan
    rn_windows = [
        ln for ln in plan.splitlines()
        if "row_number() windowspecdefinition(" in ln and "Window " in ln.replace("+- Window", "Window ")
    ]
    for ln in rn_windows:
        spec = ln.split("row_number() windowspecdefinition(", 1)[1]
        assert spec.startswith(("bucket", "_w0")), ln
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 4, f"{singles} single-partition exchanges:\n{plan}"


def test_weighted_pps_window_is_bucket_partitioned(spark, sf_dir):
    """The PPS cumulative weight must run as the two-level cut: the
    data-sized window partitions by (group, hash-nibble bucket) — 16
    hash-uniform partitions per group — never by the 5-value group
    alone (a data-sized per-group sort at 100 TB, the same killer
    class as agg_kmv_union_intersect's old global k-min)."""
    plan = _plan(spark, sf_dir, "sample_weighted_pps")
    assert "hashpartitioning(o_orderpriority" in plan, plan
    assert "bucket" in plan, plan
    # the data-sized exchange must carry BOTH keys
    assert any(
        "hashpartitioning(o_orderpriority" in ln and "bucket" in ln
        for ln in plan.splitlines()
    ), plan


def test_q5_dims_broadcast_and_date_pushes_to_orders_scan(spark, sf_dir):
    """agg_q5_local_supplier (r8 window): the three dimension joins
    (supplier, nation, region) must all be broadcast — at 100 TB only
    the customer⋈orders⋈lineitem fact shuffles may exchange data-sized
    rows — and the order-date range must reach the orders scan as
    pushed parquet filters (partition pruning when orders is
    date-partitioned)."""
    plan = _plan(spark, sf_dir, "agg_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters: [" in ln and "o_orderdate" in ln
    ]
    assert pushed, plan
    assert "partial" in plan.lower(), plan  # map-side combine on the agg


def test_q7_both_nation_roles_broadcast_and_shipdate_pushes(spark, sf_dir):
    """agg_q7_nation_volume (r8 window): nation joins BOTH fact sides
    under two aliases — supplier and both nation roles broadcast (3+
    BHJs) — and the ship-date range must reach the lineitem scan before
    the orders fact-fact shuffle."""
    plan = _plan(spark, sf_dir, "agg_q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters: [" in ln and "l_shipdate" in ln
    ]
    assert pushed, plan


def test_q10_topk_is_take_ordered_with_pushed_filters(spark, sf_dir):
    """agg_q10_returned_topk (r8 window): the final top-20 must be
    TakeOrderedAndProject (per-partition heaps + K-row driver merge,
    never a global sort of the customer-grain aggregate), the
    returnflag equality must push to the lineitem scan and the date
    range to the orders scan, and nation must broadcast."""
    plan = _plan(spark, sf_dir, "agg_q10_returned_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert any(
        "PushedFilters: [" in ln and "l_returnflag" in ln
        for ln in plan.splitlines()
    ), plan
    assert any(
        "PushedFilters: [" in ln and "o_orderdate" in ln
        for ln in plan.splitlines()
    ), plan


def test_q18_having_prunes_before_joins(spark, sf_dir):
    """agg_q18_large_orders (r8 window): the quantity rollup must be a
    two-phase agg (map-side partial) whose HAVING filter sits on the
    aggregate side BEFORE the joins — never a join of the full
    lineitem grain — and no cartesian may appear."""
    plan = _plan(spark, sf_dir, "agg_q18_large_orders")
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower(), plan
    # the HAVING predicate on the summed quantity must appear as a
    # Filter over the aggregate output (sum(...) > threshold), i.e.
    # the plan carries a filter on the agg alias, not on raw rows only
    assert any(
        "Filter" in ln and ("q#" in ln or "sum(" in ln)
        for ln in plan.splitlines()
    ), plan


def test_pq_adc_windows_are_query_partitioned(spark, sf_dir):
    """embed_pq_adc_topk (r8 window): every data-sized row_number
    window (the ADC rankings) must partition by query_id — the only
    permissible unpartitioned window is the constant 21-row seed
    prefix, which ranks by vec_id after a global limit — and the
    codebook/LUT joins must broadcast."""
    plan = _plan(spark, sf_dir, "embed_pq_adc_topk")
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for ln in plan.splitlines():
        if "row_number() windowspecdefinition(" in ln and "adc_dist" in ln:
            assert "query_id" in ln, ln


def test_ivfpq_probe_join_is_cell_equi(spark, sf_dir):
    """embed_ivfpq_topk (r8 window): the inverted-list probe must be an
    equi-join on the cell id (the join IS the probe — only probed
    cells' vectors flow), with the centroid/codebook tables broadcast
    and no cartesian."""
    plan = _plan(spark, sf_dir, "embed_ivfpq_topk")
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


# ---- shared two-level cumulative (distcum.py, VERDICT r8 #2) ---------

RANK_STAT_KEYS = [
    "agg_gini_coefficient",
    "agg_lorenz_curve",
    "agg_hill_tail_index",
    "agg_spearman_rank_corr",
    "agg_mann_whitney_u",
    "agg_ks_two_sample",
    "agg_abc_classification",
    "agg_trimmed_mean",
]


def test_rank_stats_have_no_data_sized_window_partitions(spark, sf_dir):
    """The 8 rank-statistics keys must run their ordered cumulatives
    through the shared two-level bucket path: every data-sized Window
    node partitions by the __tlc_b bucket; unpartitioned (or
    group-only) windows may exist ONLY over metadata-sized inputs —
    the NB x groups offsets table (recognizable by __tlc_cnt /
    __tlc_tot columns) or the 10-rows-per-group Lorenz decile curve
    (decile_cents)."""
    for key in RANK_STAT_KEYS:
        plan = _plan(spark, sf_dir, key)
        windows = [
            ln
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
        ]
        assert windows, (key, plan)
        for ln in windows:
            bucketed = "__tlc_b" in ln.split("windowspecdefinition(")[1]
            offsets_side = "__tlc_cnt" in ln or "__tlc_tot" in ln
            lorenz_curve = "decile_cents" in ln
            assert bucketed or offsets_side or lorenz_curve, (key, ln)


def test_hill_topk_prune_reaches_window_group_limit(
    spark, sf_dir, monkeypatch
):
    """agg_hill_tail_index's rank_limit must surface as a
    WindowGroupLimit (partial + final) so the top-100 cut prunes
    map-side BEFORE the bucket shuffle, not after the full rank.

    Captured with the distcum total-order guard OFF: this pins the
    PRODUCTION plan (the guard defaults off outside the test env),
    and the guard's CASE wrap around row_number intentionally defeats
    the InferWindowGroupLimit pattern — in validation mode the tie
    check outranks the map-side prune by design."""
    monkeypatch.setenv("BDT_DISTCUM_VALIDATE", "0")
    plan = _plan(spark, sf_dir, "agg_hill_tail_index")
    # Two WindowGroupLimit nodes = the partial (pre-shuffle) and final
    # (post-shuffle) group-limit pair; a bare 'Partial' substring match
    # would be satisfied by any partial HashAggregate (ADVICE r9).
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan


def test_hits_topk_cut_is_take_ordered_before_rank(spark, sf_dir):
    """graph_hits_topk (VERDICT r8 #3): both top-20 cuts must be
    orderBy().limit(K) -> TakeOrderedAndProject BEFORE the rank
    window, so the unpartitioned row_number only ever sees K rows,
    never the vertex-aggregate tables."""
    plan = _plan(spark, sf_dir, "graph_hits_topk")
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_join_skew_profile_cut_is_take_ordered_before_rank(spark, sf_dir):
    """profile_join_skew (VERDICT r8 #4): the top-10 heavy-hitter cut
    must be TakeOrderedAndProject before the rank window — key
    cardinality is user-sized at 100 TB."""
    plan = _plan(spark, sf_dir, "profile_join_skew")
    assert "TakeOrderedAndProject" in plan, plan


def test_registry_wide_window_audit_is_clean(spark, sf_dir):
    """The systematic version of the check that caught the r8
    rank-statistics family (VERDICT r9 #3): every BATCH key's executed
    plan is scanned for unpartitioned Window operators; each hit must
    be at a key whose unpartitioned windows are hand-audited
    input-bounded (tools/window_audit.py ALLOWED — offsets tables,
    top-K cuts, calendar/sketch-sized inputs, or the one declared
    contract key).  A hit anywhere else, or an uncapturable plan, is a
    new data-sized-window regression and fails here."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from window_audit import ALLOWED, EXPAND_ALLOWED, audit

    allowed, findings, capture_fails, expand_findings, expand_allowed = (
        audit(spark, sf_dir, SPECS)
    )
    assert capture_fails == [], capture_fails
    assert findings == [], findings
    # Expand classifier (r12, after the q21 probe finding): an Expand
    # at a key outside EXPAND_ALLOWED is the multi-DISTINCT hazard
    # class — it multiplies the rows entering the next exchange.
    assert expand_findings == [], expand_findings
    # The allowlist must not rot: every entry still corresponds to at
    # least one live hit (a key that stops producing unpartitioned
    # windows should leave the table so it can't mask a future one).
    live = {k for k, _ in allowed}
    stale = set(ALLOWED) - live
    assert stale == set(), f"ALLOWED entries with no live hit: {stale}"
    # Same rot check for the Expand allowlist (ADVICE r12): an
    # EXPAND_ALLOWED key that stops producing Expand must leave the
    # table so it can't mask a future Expand regression there.
    expand_live = {k for k, _ in expand_allowed}
    expand_stale = set(EXPAND_ALLOWED) - expand_live
    assert expand_stale == set(), (
        f"EXPAND_ALLOWED entries with no live hit: {expand_stale}"
    )
