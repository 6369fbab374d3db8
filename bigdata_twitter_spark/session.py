"""SparkSession construction and defensive runtime configuration.

The driver harness constructs its own SparkSession and passes it in, so
every required conf here must be *runtime-settable* (verified: the
legacy nanos conf, session TZ, Arrow, and shuffle partitions all accept
``spark.conf.set`` after session start on PySpark 4.1.2).

Scale posture (SURVEY.md §4.2): AQE on (runtime partition coalescing +
skew-join splitting), broadcast threshold left at default so the
region/nation/part/supplier dims auto-broadcast, shuffle partitions
sized for the local harness (AQE coalesces; on a 1000-executor cluster
this would be set to ~2-3x total cores instead).  Cached plans are
coalesced too, so a persisted intermediate holds as many partitions as
its bytes need: a 30-row loop state is one partition, not 32 mostly
empty ones that every later scan of it pays a task for.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must hold on ANY session running this engine, including a
# driver-provided one.  All runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS); Spark 4 refuses it without
    # this flag and then surfaces the column as LongType nanoseconds
    # (SURVEY.md §1.4.1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle (DuckDB) alignment: all event-time logic in UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle-partition coalescing, skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the final stage of a cached plan too (off by
    # default, to keep a cached plan's output partitioning for its
    # consumers).  A driver loop over a persisted intermediate then
    # scans the partitions its bytes need — one at fixture scale
    # instead of 32 mostly empty ones per round; full-size partitions
    # are not coalesced, so at scale the cache keeps its parallelism.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent).

    Safe to call on every table load: ``spark.conf.set`` is cheap and
    this is the only way to guarantee the confs on a driver-owned
    session.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be non-settable on some build; the load paths
            # that depend on it will raise a clear error of their own.
            pass
    return spark


def get_session(
    app_name: str = "bigdata-twitter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session for tests/benchmarks.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (the driver's
    convention) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())
