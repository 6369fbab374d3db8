"""Degenerate constant-domain robustness (round 10).

A partition-pruned slice of a 100-TB corpus is routinely CONSTANT in
a measure column (one price-capped product, one fixed-bid campaign);
under ANSI mode an unguarded variance/range/total division then kills
the whole job with DIVIDE_BY_ZERO at runtime.  The r10 registry-wide
sweep (tools/degen_audit.py) found ten such keys; each now returns
NULL (or a degenerate-but-defined value) with the guard mirrored in
its DuckDB oracle.  This suite keeps exactly those ten crash-free on
the shared constant-domain fixture — the registry-wide version runs
via ``python tools/degen_audit.py`` (artifact DEGEN_AUDIT_r15.txt).
"""

from __future__ import annotations

import sys

import pytest

from bigdata_twitter_spark.registry import load_all_operators

SPECS = load_all_operators()

# The ten keys the r10 sweep caught, with what their degenerate
# output must look like (column -> expected NULLness on an all-42.0
# domain).  Every key must EXECUTE; the listed columns pin the
# graceful semantics so a refactor can't silently turn NULL back
# into a crash or an inf.
FIXED_KEYS = [
    "agg_stats",
    "agg_histogram",
    "embed_quantize_int8",
    "agg_regression_per_group",
    "agg_covariance_matrix",
    "agg_mann_whitney_u",
    "agg_welch_ttest",
    "agg_spearman_rank_corr",
    "sample_stratified_neyman",
    "embed_pca_power_exact",
]


# The n=1 boundary (the other edge next to test_empty_inputs' n=0):
# Bessel (n-1) denominators hit zero, derived structures (co-purchase
# edges, partition-spec versions, range samples) come out empty.
ONEROW_FIXED_KEYS = [
    "agg_stats",
    "win_ntile_pctrank_dist",
    "graph_pagerank",
    "sort_range_boundaries",
    "ts_anomaly_zscore",
    "text_burstiness_dispersion",
    "scan_partition_evolution",
    "ts_changepoint_cusum",
    "ts_anova_hour_of_day",
    "agg_mann_whitney_u",
    # r11 one-row sweep: a 1-order group draws weight 0 in some
    # replicates, so < R replicate means exist — the fixed ms[31]
    # order-statistic index walked off the array.
    "sample_bootstrap_ci",
]


@pytest.fixture(scope="module")
def degen_dir(spark, sf_dir, tmp_path_factory):
    # tmp_path_factory (not a fixed /tmp path) so two concurrent
    # pytest sessions can't overwrite each other's fixture parquet
    # mid-read (ADVICE r10).
    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0] + "/tools")
    from degen_audit import build_degen_fixture

    return build_degen_fixture(
        spark, sf_dir, str(tmp_path_factory.mktemp("bdt_degen_sf"))
    )


@pytest.fixture(scope="module")
def onerow_dir(spark, sf_dir, tmp_path_factory):
    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0] + "/tools")
    from degen_audit import build_onerow_fixture

    return build_onerow_fixture(
        spark, sf_dir, str(tmp_path_factory.mktemp("bdt_onerow_sf"))
    )


@pytest.mark.parametrize("key", FIXED_KEYS)
def test_constant_domain_executes(spark, degen_dir, key):
    rows = SPECS[key].fn(spark, degen_dir).collect()
    assert isinstance(rows, list)  # executed; no ANSI DIVIDE_BY_ZERO


def test_constant_domain_null_semantics(spark, degen_dir):
    stats = SPECS["agg_stats"].fn(spark, degen_dir).collect()[0]
    assert stats["var_qty"] == 0.0
    assert stats["corr_qty_price"] is None

    for r in SPECS["agg_regression_per_group"].fn(
        spark, degen_dir
    ).collect():
        assert r["slope"] is None and r["r2"] is None

    mw = SPECS["agg_mann_whitney_u"].fn(spark, degen_dir).collect()[0]
    assert mw["z_stat"] is None

    wt = SPECS["agg_welch_ttest"].fn(spark, degen_dir).collect()[0]
    assert wt["t_stat"] is None and wt["welch_dof"] is None

    for r in SPECS["agg_spearman_rank_corr"].fn(
        spark, degen_dir
    ).collect():
        assert r["spearman_rho"] is None

    # histogram: one bin holding everything, lo == hi == the constant
    h = SPECS["agg_histogram"].fn(spark, degen_dir).collect()
    assert len(h) == 1 and h[0]["bin"] == 0
    assert h[0]["bin_lo"] == h[0]["bin_hi"] == 42.0

    # int8 quantization: constant vector -> all codes -128, scale 0
    q = SPECS["embed_quantize_int8"].fn(spark, degen_dir).collect()[0]
    assert q["scale"] == 0.0
    assert set(q["q_codes"].split(",")) == {"-128"}

    # Neyman: zero variance everywhere -> zero allocation, empty draw
    ney = SPECS["sample_stratified_neyman"].fn(spark, degen_dir).collect()
    assert ney == []


@pytest.mark.parametrize("key", ONEROW_FIXED_KEYS)
def test_one_row_executes(spark, onerow_dir, key):
    rows = SPECS[key].fn(spark, onerow_dir).collect()
    assert isinstance(rows, list)  # executed; no (n-1)=0 job kill


def test_one_row_null_semantics(spark, onerow_dir):
    stats = SPECS["agg_stats"].fn(spark, onerow_dir).collect()[0]
    assert stats["n"] == 1 and stats["mean_qty"] is not None
    assert stats["var_qty"] is None and stats["stddev_qty"] is None

    # single row -> percent_rank 0.0 by SQL definition, decile 1
    nt = SPECS["win_ntile_pctrank_dist"].fn(spark, onerow_dir).collect()
    assert len(nt) == 1
    assert nt[0]["pct_rank"] == 0.0 and nt[0]["decile"] == 1

    # one order -> no co-purchase edges -> empty rank table, no crash
    assert SPECS["graph_pagerank"].fn(spark, onerow_dir).collect() == []

    # sample smaller than the bucket count -> everything in bucket 0
    rb = SPECS["sort_range_boundaries"].fn(spark, onerow_dir).collect()
    assert len(rb) == 1 and rb[0]["bucket"] == 0 and rb[0]["n_rows"] == 1

    z = SPECS["ts_anomaly_zscore"].fn(spark, onerow_dir).collect()
    assert all(r["zscore"] is None for r in z)

    cc = SPECS["ts_changepoint_cusum"].fn(spark, onerow_dir).collect()
    assert all(r["cusum"] is None for r in cc)

    av = SPECS["ts_anova_hour_of_day"].fn(spark, onerow_dir).collect()
    assert all(r["f_stat"] is None for r in av)

    bd = SPECS["text_burstiness_dispersion"].fn(
        spark, onerow_dir
    ).collect()
    assert bd and all(r["vmr"] is None for r in bd)

    mw = SPECS["agg_mann_whitney_u"].fn(spark, onerow_dir).collect()[0]
    assert mw["z_stat"] is None


# ---- Welch segment-skew boundary (ADVICE r10, medium) ----------------
# The constant-domain and one-row sweeps both missed the case where ONE
# Welch segment has 0 or 1 customers while the other is populated: the
# old guard evaluated se1/se2 (dividing by n-1 and n) while testing
# se1+se2=0, so those slices raised ANSI DIVIDE_BY_ZERO *inside the
# guard*.  These fixtures pin the lazy-CASE fix and its oracle mirror.


def _welch_both_engines(spark, fixture_dir):
    import duckdb

    srow = SPECS["agg_welch_ttest"].fn(spark, fixture_dir).collect()[0]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{fixture_dir}/customer.parquet/*.parquet')"
    )
    ocols = [
        d[0] for d in con.sql(SPECS["agg_welch_ttest"].sql).description
    ]
    orow = dict(zip(ocols, con.sql(SPECS["agg_welch_ttest"].sql).fetchall()[0]))
    con.close()
    return srow, orow


@pytest.fixture(scope="module")
def welch_skew_dirs(spark, sf_dir, tmp_path_factory):
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    c = load(spark, sf_dir, "customer")
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE")
    bld = c.where(F.col("c_mktsegment") == "BUILDING")

    one = str(tmp_path_factory.mktemp("bdt_welch_one_auto"))
    auto.limit(1).unionByName(bld).write.mode("overwrite").parquet(
        one + "/customer.parquet"
    )
    zero = str(tmp_path_factory.mktemp("bdt_welch_zero_auto"))
    bld.write.mode("overwrite").parquet(zero + "/customer.parquet")
    return one, zero


def test_welch_one_customer_segment(spark, welch_skew_dirs):
    """n1=1: mean defined, t/dof NULL — and the oracle mirrors it."""
    srow, orow = _welch_both_engines(spark, welch_skew_dirs[0])
    assert srow["n1"] == 1 and srow["n2"] > 1
    assert srow["mean1_cents"] is not None
    assert srow["t_stat"] is None and srow["welch_dof"] is None
    for col in ("n1", "n2", "mean1_cents", "mean2_cents", "t_stat", "welch_dof"):
        assert srow[col] == orow[col] or (
            srow[col] is None and orow[col] is None
        ), col


def test_welch_empty_customer_segment(spark, welch_skew_dirs):
    """n1=0: mean1 NULL (0-count, not 0/0), t/dof NULL, oracle mirrors."""
    srow, orow = _welch_both_engines(spark, welch_skew_dirs[1])
    assert srow["n1"] == 0
    assert srow["mean1_cents"] is None
    assert srow["t_stat"] is None and srow["welch_dof"] is None
    for col in ("n1", "n2", "mean1_cents", "mean2_cents", "t_stat", "welch_dof"):
        assert srow[col] == orow[col] or (
            srow[col] is None and orow[col] is None
        ), col
