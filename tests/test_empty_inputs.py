"""Empty-input robustness: operators must run and keep a STABLE schema
on zero-row tables (at 100 TB a partition-pruned or freshly-created
dataset is routinely empty — an operator that crashes or changes shape
on empty input breaks every downstream consumer of its schema).
"""

from __future__ import annotations

import os

import pytest

from bigdata_twitter_spark.registry import load_all_operators
from bigdata_twitter_spark.tables import TABLE_NAMES, load

SPECS = load_all_operators()

# Representative per-row / per-group operators across the families —
# all of these must yield EXACTLY zero rows on empty inputs.
ZERO_ROW_KEYS = [
    "project_select",
    "filter_predicate",
    "agg_q1_pricing",
    "join_star_3way",
    "join_asof_tolerance",
    "win_rank_topk_per_group",
    "ts_tumbling_counts",
    "text_tokenize",
    "text_boilerplate_ngrams",
    "text_pii_scrub",
    "dedup_exact",
    "set_union_all",
    "pack_token_budget",
    "agg_argmax_minby",
    "agg_unpivot_melt",
    "embed_matryoshka_truncate",
    "cluster_kmeans_lloyd",
    "dedup_semantic_cluster",
    # round-5 additions
    "sim_pairs_sharded_jobs",
    "profile_join_skew",
    "stream_static_join",
    "fn_url",
    "agg_weighted_median",
    "join_bloom_prefilter",
    "text_span_dedup",
    "table_change_feed",
    "ts_seasonal_decompose",
    "fn_bitwise",
    "sample_temperature_mixture",
    "join_asof_nearest",
    "graph_degree_distribution",
    "dedup_minhash_md5",
    "dedup_simhash_md5",
    "agg_kmv_distinct",
    "embed_pipeline_e2e",
    "scan_csv_quarantine",
    "agg_bitmap_distinct",
    "join_pit_scd2",
    "graph_also_bought_topk",
    # round-6 additions
    "sim_pairs_bucket_jobs",
    "agg_regression_per_group",
    "ts_changepoint_cusum",
    "ts_autocorr_lag",
    "sample_weighted_pps",
    "ts_holt_linear",
    "scan_text_lines",
    "agg_percentile_binned",
    "ts_funnel_sequence",
    "sink_zorder_clustered",
    "embed_pca_power_exact",
    "table_deletion_vectors",
    "scan_manifest_pruned",
    "ts_forecast_backtest",
    # round-11 additions
    "fn_variant",
    "geo_grid_hotspots",
    "geo_distance_join",
    "geo_nearest_landmark",
    # round-11 waves 2-4 (the global-agg analogs q6/q14/q17/q19
    # return one NULL row on empty input by SQL semantics, so they
    # are deliberately NOT in this zero-row list)
    "agg_q12_priority_class",
    "agg_q13_custdist",
    "agg_q15_top_supplier",
    "agg_q2_min_cost_supplier",
    "agg_q8_market_share",
    "agg_q9_product_profit",
    "agg_q11_important_parts",
    "agg_q21_waiting_supplier",
    "agg_q22_dormant_customers",
    "agg_q16_supplier_cnt",
    "agg_q20_excess_suppliers",
    "text_bpe_pair_topk",
    "agg_q4_late_shipments",
    "geo_geohash_encode",
    "geo_user_pathlength",
    "graph_adamic_adar",
    "graph_jaccard_minhash",
    "text_cooccurrence_pmi",
    "cdc_merge_multi_clause",
    "sample_bootstrap_ci",
    # round-13 additions
    "text_bpe_vocab_train",
    "ann_index_build",
    "ann_index_search",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    # Fresh per-run dir: a cached fixture would go stale across
    # checkouts (schema/encoding changes) and race parallel workers.
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).limit(0).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
    return out


@pytest.mark.parametrize("key", ZERO_ROW_KEYS)
def test_zero_rows_and_stable_schema(spark, sf_dir, empty_sf_dir, key):
    fn = SPECS[key].fn
    empty_df = fn(spark, empty_sf_dir)
    assert empty_df.count() == 0
    # The schema on empty input must be the schema on real input —
    # downstream consumers bind to it before seeing any data.
    assert empty_df.schema == fn(spark, sf_dir).schema
