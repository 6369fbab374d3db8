"""Structured Streaming operators (SURVEY.md §2.J + streaming halves of
§2.A): file/rate sources, foreachBatch sinks, tumbling/sliding/session
window aggregates, streaming dedup, watermark late-data semantics, and
an explicit-state running aggregate.

Reference parity: the reference genre tails a tweet firehose and keeps
running windowed counts (SURVEY.md §2.J provenance; reference checkout
empty — §0.1).  The Twitter v1.1 API is retired, so streams here are
finite file replays of the events table — which also makes most
operators ORACLE-CHECKABLE: a complete-mode aggregation over a fully
replayed finite stream must equal the equivalent batch SQL, and an
append-mode watermark run must equal the batch SQL restricted to
closed windows.  That parity (stream ≡ batch on the same frames) is
exactly Structured Streaming's unbounded-table model.

Scale posture: stateful operators shuffle once on their grouping key
and keep per-key state in the executor state stores (RocksDB-backed on
a real cluster); watermarks bound state size; nothing ever collects to
the driver.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import obs, scratch
from ..numerics import dsum, dsum_sql
from ..registry import query
from ..tables import load

EVENTS_US_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


_DAY_US = 86_400_000_000


def _write_sentinel_file(
    spark: SparkSession, path: str, rows: list[tuple]
) -> str:
    """Write a sentinel events parquet file DRIVER-SIDE (pyarrow).

    The sentinel protocol's 1-2 row files used to go through
    ``spark.createDataFrame(...).coalesce(1).write.parquet(...)`` — a
    pickled-RDD scan whose single task measured 4-8 s per write in
    this environment (each write re-pays Python-worker spin-up), i.e.
    ~9 s of the session-window/outer-join replay construction at any
    SF.  A driver-side write of a 2-row file is not data work (guide
    §5).  ``rows`` are EVENTS_US_SCHEMA tuples whose ``ts`` is epoch
    µs, so no wall-clock conversion touches the instant; the arrow
    schema is EVENTS_US_SCHEMA's, its ``ts`` labelled with the session
    timezone, and the file keeps the ``.parquet`` suffix the replay-dir
    bookkeeping expects."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(EVENTS_US_SCHEMA)
    tz = spark.conf.get("spark.sql.session.timeZone")
    schema = schema.set(
        schema.get_field_index("ts"), pa.field("ts", pa.timestamp("us", tz=tz))
    )
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    out = os.path.join(path, f"sentinel-{uuid.uuid4().hex[:12]}.parquet")
    pq.write_table(table, out)
    return out


# State-store backends for every stateful operator in this module.  On a
# real cluster RocksDB is the production choice (state spills to local
# disk instead of executor heap, changelog checkpointing to the cluster
# FS); the HDFS-backed in-heap store is Spark's default.  Select via
# ``SPARK_GRAFT_STATE_STORE=rocksdb|hdfs`` (or a full provider class
# name); unset keeps Spark's default.  The conf is read at query start,
# so setting it on the session right before ``start()`` is sufficient.
STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def apply_state_store_conf(spark: SparkSession) -> None:
    """Point stateful queries at the env-selected state-store backend."""
    choice = os.environ.get("SPARK_GRAFT_STATE_STORE")
    if choice:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS.get(choice.lower(), choice),
        )


# (sf_dir, copies) → materialized replay directory.  Ten streaming
# operators replay the same fixture; writing it once per process keeps
# the per-operator cost at "run the stream", not "rewrite the input".
_REPLAY_CACHE: dict[tuple[str, int], str] = {}


def _replay_dir(spark: SparkSession, sf_dir: str, copies: int = 1) -> str:
    """Materialize events (µs timestamps) as a directory to stream from."""
    key = (sf_dir.rstrip("/"), copies)
    cached = _REPLAY_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    path = scratch.fresh(f"replay_{scratch.tag(sf_dir)}_x{copies}")
    e = load(spark, sf_dir, "events")
    for _ in range(copies):
        e.write.mode("append").parquet(path)
    _REPLAY_CACHE[key] = path
    return path


def _stream_events(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    path = _replay_dir(spark, sf_dir, copies)
    apply_state_store_conf(spark)
    return spark.readStream.schema(EVENTS_US_SCHEMA).parquet(path)


# Streaming state-store partition count.  A stateful streaming query
# creates ONE state store per shuffle partition per stateful operator,
# and each micro-batch (including the empty availableNow finalize
# batch) pays a per-store load/commit/checkpoint round-trip — so the
# number is a deployment knob sized to expected STATE volume, locked
# into the checkpoint at the first batch, and should NOT blindly
# inherit the batch shuffle default.  Measured locally (sf0.1,
# stream_stream_join): 32 stores = 13.5 s, 8 stores = 4.0 s, identical
# results — the delta is pure store machinery.  On a real cluster set
# ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` to O(total executor cores)
# so state parallelism matches the cluster; the local default of 8
# matches the harness's small per-query state.
STREAM_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8")
)


class _stream_shuffle:
    """Context manager: run a streaming query under the streaming
    state-partition count, restoring the session's batch shuffle
    setting afterwards (batch queries in the same session keep their
    own parallelism)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def __enter__(self) -> None:
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )

    def __exit__(self, *exc) -> None:  # noqa: ANN002
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def _await_or_raise(q, timeout: int = 300) -> None:  # noqa: ANN001
    """Fail loudly if a finite replay does not terminate in time —
    otherwise a partial sink would be silently returned as the result."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"stream query {q.name or q.id} did not finish within {timeout}s"
        )
    # The microbatch plan of the last executed batch (state stores,
    # watermarks, stream-stream joins): the operators return batch
    # DataFrames over their sinks, which cannot show it.
    try:
        plan = q._jsq.explainInternal(False)  # noqa: SLF001
    except Exception:  # pragma: no cover - plan capture must never fail a run
        plan = "(unavailable)"
    obs.record("stream_plan", plan=plan)


def _run_to_table(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run a finite stream to completion into a memory sink, return result.

    Memory sink is for RESULT-SIZED outputs only (windowed aggregates —
    a few thousand rows regardless of input scale).  Data-sized outputs
    (full-fidelity passthrough, dedup) must use :func:`_run_to_parquet`
    so nothing data-sized transits driver memory.
    """
    name = f"bdt_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch.fresh("ckpt_memory"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return stream_df.sparkSession.table(name)


def _run_to_parquet(
    stream_df: DataFrame, label: str, schema: T.StructType | None = None
) -> DataFrame:
    """Run a finite stream to completion through the foreachBatch→parquet
    bridge and read the result back — executor-side writes only, so
    data-sized results never pass through driver memory (the scale path
    for passthrough/dedup streams; memory sink stays for result-sized
    windowed aggregates)."""
    out = scratch.fresh(f"bridge_{label}_{uuid.uuid4().hex[:8]}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    with _stream_shuffle(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", scratch.fresh(f"ckpt_{label}"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return (
        stream_df.sparkSession.read.schema(schema or stream_df.schema)
        .parquet(out)
    )


@query(
    "source_stream_file",
    sql="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tables=("events",),
    scale_note=(
        "File-source stream (the tweepy-firehose stand-in): new files are "
        "discovered per micro-batch; full replay equals the batch scan. "
        "Data-sized output → foreachBatch→parquet bridge (executor-side "
        "writes), never the driver-memory sink."
    ),
)
def source_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tail of an events directory, fully replayed (lossless)."""
    return _run_to_parquet(
        _stream_events(spark, sf_dir), "source_file", EVENTS_US_SCHEMA
    )


@query(
    "source_stream_rate",
    sql="SELECT CAST(range AS BIGINT) AS value FROM range(0, 100)",
    tables=(),
    scale_note=(
        "rate-micro-batch source: deterministic rowsPerBatch for harness "
        "tests — one triggered batch yields exactly values 0..99."
    ),
)
def source_stream_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic deterministic rate source (one batch of 100 rows)."""
    from ..session import configure

    configure(spark)
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("startTimestamp", 0)
        .load()
        .select("value")
    )
    name = f"bdt_rate_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle(spark):
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch.fresh("ckpt_rate"))
            .trigger(once=True)
            .start()
        )
        _await_or_raise(q, 120)
    return spark.table(name)


@query(
    "sink_stream_foreachbatch",
    sql="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tables=("events",),
    scale_note=(
        "foreachBatch bridges streams to any batch sink with exactly-once "
        "via (batchId, idempotent write); here each batch appends parquet."
    ),
)
def sink_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream → foreachBatch → parquet sink → read back (lossless bridge)."""
    out = scratch.fresh(f"fob_{scratch.tag(sf_dir)}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    with _stream_shuffle(spark):
        q = (
            _stream_events(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", scratch.fresh("ckpt_fob"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.read.schema(EVENTS_US_SCHEMA).parquet(out)


@query(
    "stream_tumbling_agg",
    sql=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n, {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tables=("events",),
    scale_note=(
        "Streaming twin of ts_tumbling_counts; state = open windows only, "
        "bounded by the watermark. Complete-mode finite replay ≡ batch SQL."
    ),
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly counts per type with a 10-minute watermark."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
    )
    res = _run_to_table(agg, "complete")
    return res.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
    )


@query(
    "stream_sliding_agg",
    sql="""
    SELECT TIMESTAMP '1970-01-01'
             + (900 * (epoch_us(ts) // 900000000) - 900 * k.k)
               * INTERVAL 1 SECOND AS window_start,
           event_type, COUNT(*) AS n
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
    GROUP BY 1, 2
    """,
    tables=("events",),
    scale_note="Sliding windows multiply state by width/slide (4x here).",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour/15-minute sliding counts per type."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
    )
    res = _run_to_table(agg, "complete")
    return res.select(F.col("w.start").alias("window_start"), "event_type", "n")


@query(
    "stream_session_window",
    sql=f"""
    WITH marked AS (
        SELECT user_id, ts,
               -- >= : native session_window is end-EXCLUSIVE — an event
               -- exactly gap-length after the previous one starts a NEW
               -- session, so the oracle must break on the exact boundary.
               CASE WHEN epoch_us(ts)
                         - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id))
                         >= 1800000000
                    THEN 1 ELSE 0 END AS brk,
               event_id
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tables=("events",),
    scale_note=(
        "Native session_window in APPEND mode: the round-6 ×100 replay "
        "probe OOM'd the previous complete-mode plan (complete retains "
        "every session in the memory sink AND the state store with no "
        "eviction — state is O(users × sessions), the one streaming "
        "state that grows with the corpus).  Append + watermark makes "
        "eviction the emission mechanism, so state holds only OPEN "
        "sessions; closed sessions leave through the executor-side "
        "parquet bridge (never driver memory — session output is "
        "data-sized).  Finite-replay determinism uses the sentinel "
        "protocol from stream_stream_join_outer: one-file base batch, "
        "then two future-dated sentinel batches so the final watermark "
        "closes every real session (sentinel sessions filtered in the "
        "read-back).  State merges adjacent windows per key; result ≡ "
        "the batch gap-and-island plan (the oracle)."
    ),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 30-minute-gap sessions per user (native session
    windows, append mode — closed sessions emit on watermark passage)."""
    base = load(spark, sf_dir, "events")
    max_us = base.agg(F.unix_micros(F.max("ts")).alias("m")).collect()[0]["m"]
    path = scratch.fresh(f"replay_session_{scratch.tag(sf_dir)}")
    # ONE file for the whole base replay (same late-data reasoning as
    # stream_stream_join_outer: rows split across micro-batches would
    # be dropped against the earlier batch's watermark).
    base.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).coalesce(1).write.mode("append").parquet(path)

    def _parts() -> set[str]:
        return {f for f in os.listdir(path) if f.endswith(".parquet")}

    # TWO sentinels, TWO micro-batches (r11 trim — was three): the
    # base file and sentinel A share batch 1 (the watermark during
    # batch 1 is still the initial one, so A cannot late-drop base
    # rows), and batch 2 (sentinel B) applies the A-inclusive
    # watermark, which closes and emits every REAL session in one
    # pass.  Sentinel A's own session never evicts (no third batch) —
    # harmless, it is filtered from the read-back.  Identical outputs
    # to the old base → A → B plan, one fewer stateful micro-batch.
    # Sentinel files are written driver-side (_write_sentinel_file):
    # the former 1-row Spark writes cost 4-8 s EACH here (r15).
    for days, eid in ((30, -1), (60, -2)):
        _write_sentinel_file(
            spark,
            path,
            [(eid, max_us + days * _DAY_US, -1, "click", 0.0, "{}")],
        )
        if eid == -1:
            grp0 = _parts()
    batches = [grp0, _parts() - grp0]
    # Pin batch order (base+A) → B with strictly increasing PAST
    # mtimes (the file source skips future-dated files and orders by
    # (mtime, path) — see stream_stream_join_outer).
    t0 = time.time() - 300
    for i, group in enumerate(batches):
        for f in group:
            os.utime(os.path.join(path, f), (t0 + 100 * i, t0 + 100 * i))
    apply_state_store_conf(spark)
    stream = (
        spark.readStream.schema(EVENTS_US_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(path)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    res = _run_to_parquet(agg, "session_window")
    return res.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@query(
    "stream_dedup",
    sql="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tables=("events",),
    scale_note=(
        "Streaming dedup keyed on event_id via dropDuplicatesWithinWatermark "
        "— state rows ARE evicted once older than the watermark (plain "
        "dropDuplicates only evicts when the event-time column is part of "
        "the key set, i.e. never here). Doubled input collapses back to the "
        "original rows; data-sized output → foreachBatch→parquet bridge."
    ),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once style dedup of a doubled replay (watermark-evicted state)."""
    deduped = (
        _stream_events(spark, sf_dir, copies=2)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _run_to_parquet(deduped, "dedup", EVENTS_US_SCHEMA)


@query(
    "stream_late_data",
    sql="""
    SELECT * FROM (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    )
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tables=("events",),
    scale_note=(
        "Append mode + watermark: only windows older than max(event_time) "
        "minus the allowed lateness are finalized and emitted; rows later "
        "than the watermark are dropped from closed windows. The withheld "
        "tail windows are exactly the oracle's excluded set."
    ),
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark finalization semantics: emit only closed hourly windows."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    res = _run_to_table(agg, "append")
    return res.select(F.col("w.start").alias("window_start"), "event_type", "n")


def _running_totals(key, pdf_iter, state):  # noqa: ANN001
    """Per-user running (count, exact-decimal value sum) with GroupState."""
    if state.exists:
        n, sum_str = state.get
    else:
        n, sum_str = 0, "0"
    total = Decimal(sum_str)
    for pdf in pdf_iter:
        n += len(pdf)
        # str(float) is the shortest repr → recovers the intended 2dp
        # decimal exactly, matching the oracle's DECIMAL accumulation.
        total += sum((Decimal(str(v)) for v in pdf["value"]), Decimal(0))
    state.update((n, str(total)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [float(total)],
        }
    )


@query(
    "stream_stateful_running",
    sql=f"""
    SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY user_id
    """,
    tables=("events",),
    scale_note=(
        "applyInPandasWithState: explicit per-key GroupState in the executor "
        "state store, Arrow-batched groups, update-mode emission — the "
        "custom-stateful-operator escape hatch. Single-batch replay emits "
        "exactly the final per-user totals."
    ),
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-state per-user running totals (exact decimal accumulation)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = scratch.fresh(f"stateful_{scratch.tag(sf_dir)}")
    out_schema = "user_id long, n_events long, total_value double"

    stateful = (
        _stream_events(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=out_schema,
            stateStructType="n long, sum_str string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    with _stream_shuffle(spark):
        q = (
            stateful.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", scratch.fresh("ckpt_stateful"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.read.schema(out_schema).parquet(out)


@query(
    "stream_stream_join",
    sql="""
    SELECT c.user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tables=("events",),
    scale_note=(
        "Stream-stream inner join (click→purchase attribution): both "
        "sides watermarked, and the time-range predicate lets Spark "
        "evict join state older than watermark+range — state is bounded "
        "by 1 h of per-side traffic, not the stream's history. One "
        "shuffle on user_id co-locates both sides; finite replay ≡ the "
        "batch self-join, which is the oracle."
    ),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks joined to same-user purchases within the following hour,
    as a watermarked stream-stream join over the replayed events."""
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("lag_us"),
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_id", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
            T.StructField("purchase_id", T.LongType()),
            T.StructField("purchase_ts", T.TimestampType()),
            T.StructField("lag_us", T.LongType()),
        ]
    )
    return _run_to_parquet(joined, "ssjoin", out_schema)


@query(
    "stream_static_join",
    sql="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           c.c_name, c.c_mktsegment
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    """,
    tables=("events", "customer"),
    scale_note=(
        "Stream-STATIC dimension enrichment — the most common "
        "production streaming join: the dim side is a bounded batch "
        "table, so no watermark and NO JOIN STATE is kept (unlike the "
        "stream-stream join); Spark broadcasts the dim per micro-batch "
        "when it fits, else shuffles the batch side only. The dim is "
        "re-read each micro-batch (file-source static joins pick up "
        "slowly-changing dims); point it at the versioned table's "
        "manifest for pinned-snapshot semantics instead. Full finite "
        "replay ≡ the batch equi-join, which is the oracle."
    ),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream enriched against the static customer dimension
    (inner equi-join on user_id = c_custkey), losslessly replayed."""
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name"), F.col("c_mktsegment")
    )
    joined = (
        _stream_events(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .select(
            "event_id", "ts", "user_id", "event_type", "value",
            "c_name", "c_mktsegment",
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return _run_to_parquet(joined, "sstatic", out_schema)


@query(
    "stream_upsert_versioned",
    sql="""
    WITH r AS (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           event_id AS last_event_id,
           ts AS last_ts,
           value AS last_value
    FROM r WHERE rk = 1
    """,
    tables=("events",),
    scale_note=(
        "Streaming upsert into the CAS-versioned table: each "
        "micro-batch appends ONE delta file set and publishes ONE "
        "manifest through the compare-and-swap commit "
        "(sources/versioned.commit_next) — commit cost is O(batch), "
        "the table is log-structured, and resolution is merge-on-read "
        "keep-latest per key (one keyed aggregate over the manifest "
        "chain's files). Exactly-once across restarts comes from "
        "batchId idempotence: a replayed batch finds its delta already "
        "committed in some manifest and SKIPS, so at-least-once "
        "delivery + idempotent commit = exactly-once table state — the "
        "same recipe the public lakehouse streaming sinks document. "
        "Full finite replay ≡ the batch keep-latest, the oracle."
    ),
)
def stream_upsert_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events streamed into a versioned table (one CAS-committed delta
    per micro-batch, batchId-idempotent), then resolved merge-on-read
    to the latest row per user plus per-user event counts."""
    import json as _json

    from ..sources.versioned import commit_next

    label = scratch.tag(sf_dir)
    root = scratch.fresh(f"upsertv_{label}_{uuid.uuid4().hex[:8]}")
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)

    def committed_files() -> set[str]:
        files: set[str] = set()
        for f in os.listdir(man_dir):
            if f.startswith("v") and f.endswith(".json"):
                with open(os.path.join(man_dir, f)) as fh:
                    files.update(_json.load(fh)["files"])
        return files

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = f"delta_{batch_id}"
        if delta in committed_files():
            return  # replayed batch: already committed → exactly-once
        batch_df.select(
            "user_id", "event_id", "ts", "value"
        ).write.mode("overwrite").parquet(os.path.join(root, delta))
        commit_next(man_dir, [delta])

    with _stream_shuffle(spark):
        q = (
            _stream_events(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", scratch.fresh("ckpt_upsertv"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)

    committed = sorted(committed_files())
    # The live batch-commit closure rides along, so the exactly-once
    # replay branch can be exercised directly.
    obs.record(
        "stream_upsert_versioned",
        root=root,
        man_dir=man_dir,
        write_batch=write_batch,
        committed=committed,
    )

    # Merge-on-read: one keyed aggregate over every committed delta.
    paths = [os.path.join(root, f) for f in committed]
    log_df = spark.read.schema(
        "user_id bigint, event_id bigint, ts timestamp, value double"
    ).parquet(*paths)
    latest = F.max(F.struct("ts", "event_id", "value")).alias("s")
    return (
        log_df.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"), latest)
        .select(
            "user_id",
            "n_events",
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.ts").alias("last_ts"),
            F.col("s.value").alias("last_value"),
        )
    )


TOPK_PER_WINDOW = 2


@query(
    "stream_topk_per_window",
    sql=f"""
    WITH counts AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n FROM (
        SELECT window_start, event_type, n,
               row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type
               ) AS rk
        FROM counts
    ) WHERE rk <= {TOPK_PER_WINDOW}
    """,
    tables=("events",),
    scale_note=(
        "Streaming trending top-K (the canonical Twitter op, genre "
        "parity): ranking inside a streaming aggregation is unsupported "
        "by design, so the plan is the standard two-layer split — the "
        "STREAM maintains watermarked per-(window, key) counts (state "
        "bounded by watermark), and the RANK runs batch-side on the "
        "emitted aggregates (result-sized input, TakeOrdered-per-window). "
        "At 100 TB the stream layer's shuffle carries group rows only "
        "and the serving-side rank touches aggregates, never raw events."
    ),
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per hour window: watermarked streaming counts,
    then a batch rank over the emitted (result-sized) aggregates."""
    from pyspark.sql import Window

    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    counts = _run_to_table(agg, "complete").select(
        F.col("w.start").alias("window_start"), "event_type", "n"
    )
    rk = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= TOPK_PER_WINDOW)
        .drop("rk")
    )


N_CKPT_PARTS = 8


@query(
    "stream_checkpoint_resume",
    sql="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tables=("events",),
    scale_note=(
        "Exactly-once across restart: run 1 ingests the first half of "
        "the input files and commits its progress to the checkpoint; "
        "run 2 — a NEW query instance on the same checkpoint — must "
        "process only the files that arrived since, so the union of "
        "both runs' sink output equals the batch scan with zero "
        "duplicates and zero loss. This is the recovery contract a "
        "100-TB ingest pipeline leans on after every executor/driver "
        "failure; state lives in the checkpoint's offset/commit logs, "
        "never in the process."
    ),
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase file-stream ingest sharing one checkpoint: the second
    (restarted) run resumes from committed offsets — output ≡ batch."""
    tag = f"{scratch.tag(sf_dir)}_{uuid.uuid4().hex[:8]}"
    staged = scratch.fresh(f"ckpt_stage_{tag}")
    load(spark, sf_dir, "events").repartition(N_CKPT_PARTS).write.mode(
        "overwrite"
    ).parquet(staged)
    parts = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    src = scratch.fresh(f"ckpt_src_{tag}")
    ckpt = scratch.fresh(f"ckpt_log_{tag}")
    out = scratch.fresh(f"ckpt_out_{tag}")

    def run_once() -> None:
        stream = spark.readStream.schema(EVENTS_US_SCHEMA).parquet(src)

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)

        with _stream_shuffle(spark):
            q = (
                stream.writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_or_raise(q)

    half = len(parts) // 2
    for f in parts[:half]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    run_once()
    for f in parts[half:]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    run_once()  # restart from the same checkpoint: only new files
    return spark.read.schema(EVENTS_US_SCHEMA).parquet(out)


_VENDOR_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "vendor")
)


def _ensure_protobuf() -> None:
    """Make ``google.protobuf`` importable everywhere Spark runs Python.

    transformWithStateInPandas speaks protobuf to the JVM state server
    (pyspark's generated StateMessage_pb2).  Containers without a
    protobuf install get the repo's vendored clean-room mini runtime
    (vendor/google/protobuf — wire format + descriptor subset, public
    spec only).  A real installation always wins: the vendor dir is
    APPENDED to sys.path / PYTHONPATH, never prepended.  PYTHONPATH
    matters because the pb2 import happens inside Python *workers*,
    which inherit the driver's environment in local mode.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return
    except ImportError:
        pass
    if _VENDOR_DIR not in sys.path:
        sys.path.append(_VENDOR_DIR)
    pp = os.environ.get("PYTHONPATH", "")
    if _VENDOR_DIR not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pp}{os.pathsep}{_VENDOR_DIR}" if pp else _VENDOR_DIR
        )


# Application ids whose workers already received the vendor zip.
_VENDOR_SHIPPED: set[str] = set()


def _ship_vendor(spark: SparkSession) -> None:
    """Ship the vendored protobuf runtime to Spark's Python workers.

    The pb2 import happens inside worker processes spawned by the JVM,
    which inherit the JVM's environment — set before this module could
    touch PYTHONPATH.  ``addPyFile`` is the mechanism that works
    regardless of launch order: workers add shipped archives to their
    own sys.path at bootstrap.  No-op when a real google.protobuf is
    importable without the vendor dir (workers then resolve it the
    normal way).
    """
    if _real_protobuf_present():
        return
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _VENDOR_SHIPPED:
        return
    zip_base = os.path.join(scratch.fresh("vendor"), "vendor_protobuf")
    zip_path = shutil.make_archive(zip_base, "zip", _VENDOR_DIR)
    # Task workers: shipped archive lands on every node's sys.path.
    sc.addPyFile(zip_path)
    # Streaming runner workers (the TWS driver worker) don't receive
    # pyFiles; their PYTHONPATH is merged from the PythonFunction's
    # envVars, which pyspark reads from sc.environment at UDF-creation
    # time — so a late update here still reaches them.
    env = sc.environment
    pp = env.get("PYTHONPATH", "")
    if _VENDOR_DIR not in pp.split(os.pathsep):
        env["PYTHONPATH"] = (
            f"{pp}{os.pathsep}{_VENDOR_DIR}" if pp else _VENDOR_DIR
        )
    _VENDOR_SHIPPED.add(app)


def _real_protobuf_present() -> bool:
    import importlib.util

    spec = importlib.util.find_spec("google.protobuf")
    return spec is not None and _VENDOR_DIR not in (spec.origin or "")


def _tws_available() -> bool:
    """transformWithStateInPandas needs a google.protobuf for its
    state-server protocol; the vendored mini runtime (see
    :func:`_ensure_protobuf`) supplies one where the container has
    none, so this gate now opens everywhere.  It still degrades to
    not-registering (rather than crashing the registry) if even the
    vendored import fails — e.g. a foreign 'google' namespace package
    shadowing the vendor dir.
    """
    _ensure_protobuf()
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_max_tracker():
    """Build the StatefulProcessor lazily so module import never pulls
    the stateful-processor machinery (only execution does)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MaxTracker(StatefulProcessor):
        """Per-user count + max(value) + smallest event_id attaining it."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "n long, max_value double, max_event_id long"
            )

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            if self._state.exists():
                n, max_v, max_id = self._state.get()
            else:
                n, max_v, max_id = 0, None, None
            for pdf in rows:
                n += len(pdf)
                for v, eid in zip(pdf["value"], pdf["event_id"]):
                    v, eid = float(v), int(eid)
                    if (
                        max_v is None
                        or v > max_v
                        or (v == max_v and eid < max_id)
                    ):
                        max_v, max_id = v, eid
            self._state.update((n, max_v, max_id))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [max_v],
                    "max_event_id": [max_id],
                }
            )

        def close(self) -> None:
            pass

    return MaxTracker()


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/max/argmax via transformWithStateInPandas."""
    _ship_vendor(spark)
    # transformWithState keeps each state variable in its own column
    # family — a RocksDB-provider capability; the default HDFS-backed
    # store rejects it.  Pin RocksDB for this query, restore after.
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(provider_conf, STATE_STORE_PROVIDERS["rocksdb"])
    try:
        return _run_transform_with_state(spark, sf_dir)
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)


def _run_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch.fresh(f"tws_{scratch.tag(sf_dir)}")
    out_schema = (
        "user_id long, n_events long, max_value double, max_event_id long"
    )
    stateful = (
        _stream_events(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_max_tracker(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    with _stream_shuffle(spark):
        q = (
            stateful.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", scratch.fresh("ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    # Update-mode emits one row per key per microbatch; if the replay
    # splits into several batches (maxFilesPerTrigger, file layout) the
    # sink holds stale intermediate per-key rows.  Resolve to the LAST
    # emission per key at read-back: n_events is strictly increasing
    # per key, so the lexicographic max of the state struct is the
    # final state.  This is the correctness contract — not an
    # assumption that availableNow ran as one batch (ADVICE r3).
    return (
        spark.read.schema(out_schema).parquet(out)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "max_value", "max_event_id")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.max_value").alias("max_value"),
            F.col("s.max_event_id").alias("max_event_id"),
        )
    )


if _tws_available():
    stream_transform_with_state = query(
        "stream_transform_with_state",
        sql="""
        WITH m AS (
            SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
            FROM events GROUP BY user_id
        )
        SELECT m.user_id, m.n_events, m.max_value,
               (SELECT min(e.event_id) FROM events e
                 WHERE e.user_id = m.user_id AND e.value = m.max_value)
                   AS max_event_id
        FROM m
        """,
        tables=("events",),
        scale_note=(
            "transformWithStateInPandas — Spark 4's native "
            "arbitrary-state API (successor to applyInPandasWithState, "
            "which stream_stateful_running keeps for coverage): typed "
            "ValueState in the executor state store, Arrow-batched "
            "per-key input, update-mode emission, RocksDB-backable via "
            "the same SPARK_GRAFT_STATE_STORE toggle. State is O(1) "
            "per user; one shuffle on user_id; finite replay ≡ the "
            "batch argmax oracle (read-back keeps the LAST emission "
            "per key, so multi-microbatch replays stay correct). The "
            "TWS state protocol needs google.protobuf: where the "
            "container has none, the repo's vendored clean-room mini "
            "runtime (vendor/google/protobuf) supplies the wire "
            "format, so the key registers everywhere."
        ),
    )(stream_transform_with_state)


@query(
    "stream_stream_join_outer",
    sql="""
    SELECT c.user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM events c
    LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
    tables=("events",),
    scale_note=(
        "Stream-stream LEFT OUTER join — the attribution query that "
        "must also emit the clicks that never converted.  The outer "
        "side's null rows can only materialize once the watermark "
        "passes click_ts + range + delay (before that, a match could "
        "still arrive), so state eviction IS the emission mechanism.  "
        "Finite-replay determinism requires the watermark to finish "
        "PAST the last real click: the replay dir appends a sentinel "
        "event far in the future (filtered from the result), so the "
        "availableNow run's final batches evict and emit every "
        "unmatched click — without it, tail clicks would sit in state "
        "forever and the replay would under-report.  Same bounded "
        "state as the inner join: watermark + 1 h range."
    ),
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks left-outer-joined to same-user purchases within the next
    hour; unmatched clicks appear with null purchase columns."""
    base = load(spark, sf_dir, "events")
    max_us = base.agg(F.unix_micros(F.max("ts")).alias("m")).collect()[0]["m"]
    path = scratch.fresh(f"replay_outer_{scratch.tag(sf_dir)}")
    # ONE file for the whole base replay (coalesce is harness-only —
    # a live stream has no replay problem): if base rows split across
    # micro-batches, rows of batch N+1 older than batch N's watermark
    # are dropped as LATE DATA at the input and their unmatched-click
    # rows silently vanish (observed: exactly one missing click at
    # sf0.001 before this was pinned to one batch).
    base.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).coalesce(1).write.mode("append").parquet(path)
    # TWO sentinel files (30 and 60 days out) across TWO micro-batches
    # (r11 trim — was three): base and sentinel A share batch 1 — the
    # watermark during batch 1 is still the initial one, so A cannot
    # late-drop base rows — and batch 2 (sentinel B) applies the
    # A-inclusive watermark, evicting and emitting every REAL
    # unmatched click in one pass.  Two sentinels are still needed,
    # not one: the watermark computed from batch N's max event time
    # only APPLIES while processing batch N+1, and the availableNow
    # replay does not run a watermark-only finalize batch after the
    # last file.  Sentinel A's own rows never evict (no third batch) —
    # harmless, they are filtered from the read-back.
    def _parts() -> set[str]:
        return {
            f for f in os.listdir(path) if f.endswith(".parquet")
        }

    # Sentinel files are written driver-side (_write_sentinel_file):
    # the former 2-row Spark writes cost 4-8 s EACH here (r15).
    grp0: set[str] = set()
    for days, eid in ((30, -1), (60, -3)):
        _write_sentinel_file(
            spark,
            path,
            [
                (eid, max_us + days * _DAY_US, -1, "click", 0.0, "{}"),
                (eid - 1, max_us + days * _DAY_US, -1,
                 "purchase", 0.0, "{}"),
            ],
        )
        if eid == -1:
            grp0 = _parts()
    batches = [grp0, _parts() - grp0]
    # The file source orders files by (mtime, path); all three writes
    # can land within mtime granularity, which would randomize batch
    # order and break the sentinel protocol (a sentinel processed in
    # the wrong batch costs the final eviction batch or late-drops
    # base).  Stamp strictly increasing mtimes per write group to pin
    # (base+A) → B — in the PAST: the source skips future-dated files
    # (measured: a file stamped now+100 triggered an empty batch, its
    # rows never read).
    t0 = time.time() - 300
    for i, group in enumerate(batches):
        for f in group:
            os.utime(os.path.join(path, f), (t0 + 100 * i, t0 + 100 * i))
    apply_state_store_conf(spark)
    stream = spark.readStream.schema(EVENTS_US_SCHEMA).option(
        "maxFilesPerTrigger", "2"
    ).parquet(path)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    # NOTE: the sentinel filter must NOT live inside the streaming
    # plan — Catalyst pushes a user_id >= 0 predicate through the join
    # down to the SCAN, which deletes the sentinel rows before the
    # watermark operator ever sees them and the watermark never
    # advances (observed: the max-ts click's null row was permanently
    # stuck in state).  Sentinels flow through the stream and are
    # filtered from the SINK read-back below.
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "leftOuter",
    ).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts"
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_id", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
            T.StructField("purchase_id", T.LongType()),
            T.StructField("purchase_ts", T.TimestampType()),
        ]
    )
    return _run_to_parquet(joined, "ssjoin_outer", out_schema).filter(
        F.col("user_id") >= 0
    )


# ---- dead-letter routing (round 7) -----------------------------------
# The router every production ingest stream needs and no other key
# exercises: ONE pass over a mixed-quality line stream that sends
# parseable records to the data sink and unparseable ones to a
# quarantine (dead-letter) sink — scan_csv_quarantine's semantic, but
# as a LIVE stream with both sinks fed from the same micro-batch (the
# foreachBatch multi-sink idiom; a persist() inside the batch keeps
# the source read single).  Corrupt lines are injected
# deterministically (one truncated-JSON line per event_id ≡ 0 mod 97),
# so both routes' row counts AND id checksums are closed-form over the
# events table and the key is hash-grade end to end.
QUAR_MOD = 97


@query(
    "stream_quarantine_split",
    sql=f"""
    SELECT 'good' AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM events
    UNION ALL
    SELECT 'quarantine' AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM events WHERE event_id % {QUAR_MOD} = 0
    """,
    tables=("events",),
    scale_note=(
        "Streaming dead-letter queue: text-line source → from_json "
        "parse → foreachBatch routes EACH micro-batch to two sinks "
        "(parsed rows → parquet, unparseable raw lines → quarantine "
        "text) with a persist() so the source is read once per batch "
        "— the multi-sink pattern that replaces two separate streams "
        "reading the same source twice.  Both sinks are executor-"
        "side appends (exactly-once per (batchId, idempotent path)); "
        "routing is a null-test on the parsed struct's required key, "
        "per-row codegen.  At 100 TB the quarantine write is "
        "corrupt-volume-sized, not stream-sized, and the summary "
        "aggregation is two two-phase aggs over the sinks.  The "
        "deterministic injection (one bad line per id ≡ 0 mod "
        f"{QUAR_MOD}) makes both routes' counts and checksums exact "
        "SQL over events."
    ),
)
def stream_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route a mixed line stream to data vs dead-letter sinks in one
    foreachBatch pass; summarize both routes (count + id checksum)."""
    from ..session import configure

    configure(spark)
    e = load(spark, sf_dir, "events")
    cols = [f.name for f in EVENTS_US_SCHEMA.fields]
    lines_dir = scratch.fresh(f"quarlines_{scratch.tag(sf_dir)}")
    good_lines = e.select(F.to_json(F.struct(*cols)).alias("value"))
    bad_lines = e.filter(F.col("event_id") % QUAR_MOD == 0).select(
        F.concat(
            F.lit('{"event_id": '), F.col("event_id").cast("string")
        ).alias("value")
    )
    good_lines.unionAll(bad_lines).write.mode("overwrite").text(lines_dir)

    good_out = scratch.fresh(f"quar_good_{uuid.uuid4().hex[:8]}")
    bad_out = scratch.fresh(f"quar_dead_{uuid.uuid4().hex[:8]}")
    stream = (
        spark.readStream.text(lines_dir)
        .select(
            "value",
            F.from_json("value", EVENTS_US_SCHEMA).alias("p"),
        )
    )

    def route(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            b.filter(F.col("p.event_id").isNull()).select("value").write.mode(
                "append"
            ).text(bad_out)
            b.filter(F.col("p.event_id").isNotNull()).select(
                "p.*"
            ).write.mode("append").parquet(good_out)
        finally:
            b.unpersist()

    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(route)
            .option("checkpointLocation", scratch.fresh("ckpt_quar"))
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    good = spark.read.schema(EVENTS_US_SCHEMA).parquet(good_out)
    dead = spark.read.text(bad_out)
    g = good.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    ).select(F.lit("good").alias("bucket"), "n_rows", "id_checksum")
    d = dead.select(
        F.regexp_extract("value", r'\{"event_id": (\d+)', 1)
        .cast("bigint")
        .alias("bad_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("bad_id").cast("bigint").alias("id_checksum"),
    ).select(F.lit("quarantine").alias("bucket"), "n_rows", "id_checksum")
    return g.unionAll(d)


# ---- kappa-architecture backfill (round 7) ---------------------------
# The unification demo every streaming migration needs: ONE
# transformation (hourly count + exact-decimal revenue per type)
# applied to the batch HISTORY and to the streaming TAIL of the same
# table, merged into the answer a single batch query over everything
# would give.  The merge is exact because both legs' partials are
# mergeable aggregates (counts and decimal sums — the cutoff-
# straddling hour simply sums its two partials); the oracle IS that
# single batch query.  Cutoff = max ts − 6 h, so the tail is real but
# bounded.
BACKFILL_TAIL_HOURS = 6


def _backfill_transform(df: DataFrame) -> DataFrame:
    """The shared batch/stream transformation — defined ONCE so the
    two legs can never drift apart.  The revenue partial stays
    DECIMAL (not yet double): the merge must sum exact partials and
    round ONCE at the end, or the cutoff-straddling hour could differ
    from the single-query result by an ulp (two roundings vs one)."""
    from ..numerics import dec

    return df.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec("value")).alias("total_value_dec"),
    )


@query(
    "stream_backfill_union",
    sql="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               AS total_value
    FROM events GROUP BY 1, 2
    """,
    tables=("events",),
    scale_note=(
        "Kappa backfill: history leg = the batch DataFrame, tail leg "
        "= a file stream over the same table's last 6 h, BOTH fed "
        "through one shared transformation function (defined once — "
        "the legs cannot drift), then merged with a second groupBy "
        "that sums partials (counts + exact decimal sums are "
        "mergeable, so the cutoff-straddling hour is exact).  At "
        "100 TB this is the migration/recovery path: re-run history "
        "as batch at full cluster parallelism while the stream owns "
        "the tail, with the SAME code and a provably identical "
        "result (oracle = the single batch query over everything)."
    ),
)
def stream_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch history + streamed 6-hour tail through one shared
    transformation, merged exactly (≡ the single batch query)."""
    from ..session import configure

    configure(spark)
    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mts")).collect()[0]["mts"]
    cutoff = mx - __import__("datetime").timedelta(
        hours=BACKFILL_TAIL_HOURS
    )
    history = e.filter(F.col("ts") < F.lit(cutoff))
    tail_dir = scratch.fresh(f"backfill_tail_{scratch.tag(sf_dir)}")
    e.filter(F.col("ts") >= F.lit(cutoff)).write.mode("overwrite").parquet(
        tail_dir
    )
    tail_stream = spark.readStream.schema(EVENTS_US_SCHEMA).parquet(
        tail_dir
    )
    streamed_tail = _run_to_parquet(
        tail_stream, "backfill_tail", EVENTS_US_SCHEMA
    )
    merged = _backfill_transform(history).unionAll(
        _backfill_transform(streamed_tail)
    )
    return merged.groupBy("hour", "event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("total_value_dec").cast("double").alias("total_value"),
    )


# ---- streaming distinct users per window (round-7 continuation) -------
# Exact COUNT(DISTINCT) is unsupported in streaming aggregations; the
# production pattern is the two-stateful-operator chain this key
# registers: dropDuplicatesWithinWatermark on (window-start, user)
# collapses each user to one row per hour with state evicted by the
# watermark, then a windowed count over the SURVIVING rows emits the
# exact distinct-user count per closed window (append finalization —
# the stream_late_data emission contract).


@query(
    "stream_distinct_users_window",
    sql="""
    SELECT * FROM (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY 1
    )
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tables=("events",),
    scale_note=(
        "Streaming exact distinct-per-window via the two-stateful-"
        "operator chain (dedup-within-watermark on (hour, user) -> "
        "windowed count of survivors): dedup state is one row per "
        "distinct (hour, user) inside the watermark horizon and is "
        "EVICTED as windows close; the count state is windows-sized.  "
        "This is the production replacement for the unsupported "
        "streaming COUNT(DISTINCT); the batch oracle states the "
        "same distinct count over the closed-window set."
    ),
)
def stream_distinct_users_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact distinct users per closed hourly window, via
    dedup-within-watermark feeding a windowed count."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    keyed = ev.select(
        F.window("ts", "1 hour").getField("start").alias("ws"),
        "user_id",
        "ts",
    ).dropDuplicatesWithinWatermark(["ws", "user_id"])
    agg = keyed.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    res = _run_to_table(agg, "append")
    return res.select(
        F.col("w.start").alias("window_start"), "n_users"
    )
