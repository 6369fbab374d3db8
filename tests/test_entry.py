"""Smoke checks of the driver contract surface."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus", "sum_qty", "count_order"} <= set(
        df.columns
    )


def test_contract_shapes(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


# Deliberately includes a sub-µs remainder (…789 ns) to pin the
# truncating integer division, and a pre-1970 value for sign.
NS_VALS = [1_700_000_000_123_456_789, -123_456_789, 0]


def _events_twins():
    """The same three events as TIMESTAMP(NANOS) and as timestamp[us]
    pyarrow tables (the two encodings the fixtures have shipped in)."""
    import pyarrow as pa

    rows = list(range(len(NS_VALS)))
    base = {
        "event_id": pa.array(rows, pa.int64()),
        "user_id": pa.array([7] * len(rows), pa.int64()),
        "event_type": pa.array(["view"] * len(rows)),
        "value": pa.array([1.5] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows)),
    }

    # DuckDB (and the loader's `ts div 1000`) truncate ns → µs TOWARD
    # ZERO — verified against DuckDB directly; Python's floor `//`
    # would disagree by 1µs on pre-1970 values.
    def trunc_us(v: int) -> int:
        return abs(v) // 1000 * (1 if v >= 0 else -1)

    ns = pa.table({**base, "ts": pa.array(NS_VALS, pa.timestamp("ns"))})
    us = pa.table(
        {
            **base,
            "ts": pa.array([trunc_us(v) for v in NS_VALS], pa.timestamp("us")),
        }
    )
    return ns, us


def _sorted_rows(df):
    return sorted(df.collect(), key=lambda r: r["event_id"])


def _jobs_started(spark, fn, group):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_events_loader_handles_both_ts_encodings(spark, tmp_path):
    """The events fixtures have shipped as TIMESTAMP(NANOS) (rounds
    1-2: arrives as LongType ns under the legacy conf) and as
    timestamp[us] (round 3+: arrives TIMESTAMP_NTZ).  tables.load must
    dispatch on the arriving dtype and produce IDENTICAL TimestampType
    µs output for both — pinned here on synthesized twins so a future
    fixture flip cannot silently break either era (VERDICT r3 #8).
    Each twin is loaded twice: the second load reads with the cached
    inferred schema and must give the same type and rows."""
    import pyarrow.parquet as pq

    from bigdata_twitter_spark.tables import load

    results = []
    for label, table in zip(("enc_ns", "enc_us"), _events_twins()):
        d = tmp_path / label
        d.mkdir()
        pq.write_table(table, d / "events.parquet")
        first = load(spark, str(d), "events")
        second = load(spark, str(d), "events")
        assert dict(first.dtypes)["ts"] == "timestamp"
        assert dict(second.dtypes)["ts"] == "timestamp"
        assert _sorted_rows(second) == _sorted_rows(first)
        results.append(_sorted_rows(second))
    rows_ns, rows_us = results
    assert rows_ns == rows_us, (rows_ns, rows_us)


def test_repeated_load_starts_no_job(spark, sf_dir, tmp_path):
    """Schema inference starts a Spark job; it runs once per file
    identity, so a repeated load of one file (or Spark-written
    directory) starts none."""
    import shutil

    from bigdata_twitter_spark.tables import load

    shutil.copy(f"{sf_dir}/lineitem.parquet", tmp_path / "lineitem.parquet")
    load(spark, sf_dir, "events").write.parquet(str(tmp_path / "events.parquet"))
    for name in ("lineitem", "events"):
        load(spark, str(tmp_path), name)  # may infer: one job
        df, jobs = _jobs_started(
            spark, lambda: load(spark, str(tmp_path), name), f"reload_{name}"
        )
        assert jobs == 0, (name, jobs)
        assert df.count() > 0


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    """Replacing a fixture file at the same path with the other ts
    encoding must not reuse the old inferred schema: a stale LongType
    ``ts`` would misread the µs twin (or fail)."""
    import os

    import pyarrow.parquet as pq

    from bigdata_twitter_spark.tables import load

    ns, us = _events_twins()
    path = tmp_path / "events.parquet"
    pq.write_table(ns, path)
    before = _sorted_rows(load(spark, str(tmp_path), "events"))
    # Write-then-rename, as fixture generators replace a file.
    pq.write_table(us, tmp_path / "events.tmp")
    os.replace(tmp_path / "events.tmp", path)
    after = load(spark, str(tmp_path), "events")
    assert dict(after.dtypes)["ts"] == "timestamp"
    assert _sorted_rows(after) == before


def test_rewritten_spark_dir_is_inferred_afresh(spark, tmp_path):
    """The same for a Spark-written ``events.parquet/`` directory
    overwritten in place: first with ``ts`` as bigint ns, then as
    TIMESTAMP_NTZ µs."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    ns, _ = _events_twins()
    raw = spark.createDataFrame(
        ns.drop(["ts"]).to_pandas().assign(ts=NS_VALS)
    )
    path = str(tmp_path / "events.parquet")
    raw.write.parquet(path)
    before = _sorted_rows(load(spark, str(tmp_path), "events"))
    raw.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    ).write.mode("overwrite").parquet(path)
    after = load(spark, str(tmp_path), "events")
    assert dict(after.dtypes)["ts"] == "timestamp"
    assert _sorted_rows(after) == before
