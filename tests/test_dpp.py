"""Dynamic partition pruning (DPP) pin.

Static pruning (tests/test_layout.py) covers literal predicates; DPP is
the scale-critical case where the pruning values only exist at RUNTIME
— a filtered dim joined to a hive-partitioned fact must restrict the
fact's partition listing via a reused subquery, not scan all
partitions. At 100 TB, fact scans without DPP read the corpus once per
dim-filtered join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_twitter_spark.tables import load

PICKED = ("click", "error")


def test_dpp_prunes_fact_partitions_at_runtime(spark, sf_dir, tmp_path):
    fact_path = str(tmp_path / "dpp_events")
    e = load(spark, sf_dir, "events")
    e.write.mode("overwrite").partitionBy("event_type").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    # Runtime-only dim filter: the picked types are data, not literals,
    # by the time the join plans the fact scan.
    dim = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("event_type").isin(*PICKED))
    )
    joined = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.sum("n").alias("weighted_rows")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "DynamicPruning" in plan, (
        "no dynamic pruning expression in the fact scan"
    )
    # Result parity: DPP must not change answers.
    got = {(r["event_type"], r["weighted_rows"]) for r in joined.collect()}
    counts = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    expect = {(t, counts[t] * counts[t]) for t in PICKED}
    assert got == expect
