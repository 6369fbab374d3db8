"""Plan-shape pins for the physical-layout operators: these assert the
PROPERTIES the scale story depends on (partition pruning, shuffle-free
bucketed joins), not just result values — result parity is covered by
test_parity.py like every other key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_twitter_spark import scratch
from bigdata_twitter_spark.registry import load_all_operators
from bigdata_twitter_spark.sources.layout import N_BUCKETS, PRUNE_TYPES
from bigdata_twitter_spark.tables import load

SPECS = load_all_operators()


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """The pruned re-read must plan only the 2 selected partition dirs
    (PartitionCount in the scan), out of the 5 event_type partitions."""
    # Run the operator once so the layout exists.
    SPECS["sink_partitioned_parquet"].fn(spark, sf_dir).collect()
    path = scratch.path(f"part_events_{scratch.tag(sf_dir)}")
    pruned = spark.read.parquet(path).filter(
        F.col("event_type").isin(*PRUNE_TYPES)
    )
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan()
    assert "PartitionFilters: [event_type" in plan.toString(), plan.toString()
    # The executed scan's own metrics must report exactly the 2 selected
    # partition directories — pruning happened before any file read.
    scan = plan.collectLeaves().apply(0)
    metrics = {}
    it = scan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    assert metrics["numPartitions"] == len(PRUNE_TYPES), metrics
    # And the full read sees all five types (layout is complete).
    n_types = spark.read.parquet(path).select("event_type").distinct().count()
    assert n_types == 5


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The bucketed orders ⋈ customer join must read `Bucketed: true` on
    both scans and contain ZERO Exchange below the join (the final
    aggregation's own exchange is allowed)."""
    SPECS["join_bucketed_colocated"].fn(spark, sf_dir).collect()
    tag = scratch.tag(sf_dir).replace(".", "_")
    bo = spark.table(f"bkt_orders_{tag}")
    bc = spark.table(f"bkt_customer_{tag}")
    joined = bo.hint("merge").join(bc.hint("merge"), bo["o_custkey"] == bc["c_custkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") == 2, plan
    assert "Exchange" not in plan, plan
    assert f"SelectedBucketsCount: {N_BUCKETS} out of {N_BUCKETS}" in plan


def test_bucketed_tables_match_source(spark, sf_dir):
    """Bucketed materialization is lossless (row counts match source)."""
    SPECS["join_bucketed_colocated"].fn(spark, sf_dir).collect()
    tag = scratch.tag(sf_dir).replace(".", "_")
    assert (
        spark.table(f"bkt_orders_{tag}").count()
        == load(spark, sf_dir, "orders").count()
    )
    assert (
        spark.table(f"bkt_customer_{tag}").count()
        == load(spark, sf_dir, "customer").count()
    )


def test_range_binned_join_is_equi_not_nested_loop(spark, sf_dir):
    """The binned rewrite must plan a hash/merge EQUI join on the bin
    key — never BroadcastNestedLoopJoin (the naive range-join plan)."""
    df = SPECS["join_range_binned"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan


def test_range_binned_matches_naive_range_join(spark, sf_dir):
    """Bin-equi + residual must return exactly the naive range join's
    pairs (binning is a pure rewrite, not an approximation)."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    got = {
        (r["error_id"], r["event_id"])
        for r in SPECS["join_range_binned"].fn(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    naive = e.crossJoin(errors).filter(
        (F.col("ts") > F.col("error_ts"))
        & (F.col("ts") <= F.col("error_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    expect = {(r["error_id"], r["event_id"]) for r in naive.collect()}
    assert got == expect
