"""Fixture-table loaders: declared schemas, the one true events loader.

Every operator loads inputs through :func:`load` — never a raw
``spark.read.parquet`` — so the two verified landmines (SURVEY.md §1.4)
are fixed in exactly one place:

1. ``events.ts`` has shipped in two encodings across driver rounds:
   TIMESTAMP(NANOS) (arrives as LongType nanoseconds under the legacy
   conf; DuckDB truncates the same column to µs, so we match with
   *integer* division ``ts div 1000`` → ``timestamp_micros`` — float
   division corrupts 118/1000 rows at sf0.001) and, since round 3,
   plain timestamp[us] (arrives as TIMESTAMP_NTZ; cast to TIMESTAMP,
   value-identical under the UTC session TZ).  The loader dispatches
   on the arriving dtype so operators always see TimestampType µs.
2. All loads run through :func:`session.configure` so a driver-owned
   session gets the required runtime confs.

Spark infers a file's schema with a job that reads its footer.  That
happens once per file identity (:func:`_identity`: path, inode, mtime,
size, plus every file under a directory), so a rewrite at the same path
is inferred afresh; every other load reads with the cached schema and
starts no job.  The ``events.ts`` dispatch runs on that same inferred
schema.

At 100 TB these tables would be partitioned/bucketed parquet datasets;
the loaders take a directory and a table name, so swapping a single
file for a partitioned layout is a zero-change operation for every
operator above this module.
"""

from __future__ import annotations

import logging
import os
import stat

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

from . import obs
from .session import configure

_log = logging.getLogger(__name__)

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast when joined
# against a fact table (region 5 / nation 25 / supplier / part rows are
# tiny at every SF; at 100 TB they are still << the 10 MB-class
# broadcast budget).
BROADCAST_DIMS = {"region", "nation", "supplier", "part"}


def _identity(path: str) -> tuple:
    """Key that changes whenever the parquet at ``path`` can have: its
    resolved path, inode, mtime and size, plus, for a Spark-written
    directory, the relative path, mtime and size of every file in it.
    An in-place rewrite that keeps the size within one filesystem
    timestamp tick is not seen; rewrite a fixture by write-then-rename."""
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_ino, st.st_mtime_ns, st.st_size)
    if stat.S_ISDIR(st.st_mode):
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append(
                    (os.path.relpath(f, path), fst.st_mtime_ns, fst.st_size)
                )
        key += tuple(sorted(files))
    return key


# file identity → the schema Spark inferred for it (under the confs
# :func:`configure` pins, which inference depends on).
_SCHEMAS: dict[tuple, T.StructType] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical column types."""
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _identity(path)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns → µs with integer division ONLY (SURVEY.md §1.4.2);
            # identical to DuckDB's truncating nanos read.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type != "timestamp":
            # timestamp[us] fixtures arrive as TIMESTAMP_NTZ; the cast
            # is value-preserving under the UTC session timezone.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# file identity → scan split count; .rdd forces physical planning, so
# the probe is done once per fixture file, not once per query.
_SCAN_SPLITS: dict[tuple, int] = {}


def spread(df: DataFrame, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Re-spread a narrow scan before a CPU-heavy per-row pipeline.

    The fixtures are single-row-group parquet files, so Spark's
    byte-range splitting cannot parallelize them: a shingle/hash/fold
    pipeline downstream would run on ONE core however many the session
    has.  When (and only when) the scan yields fewer splits than
    ``defaultParallelism``, hash-repartition on ``cols`` — chosen as
    the downstream grouping key so the exchange is REUSED by the
    following groupBy rather than added to it.  At 100 TB the scan
    carries thousands of row-group splits and this is a no-op; a plain
    query (filter/agg without heavy per-row compute) should NOT call
    this — the exchange round-trip costs more than single-core scanning
    saves (measured: global spread-on-load slowed the bench ~25%).
    """
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    key = _identity(f"{sf_dir}/{name}.parquet")
    if key not in _SCAN_SPLITS:
        _SCAN_SPLITS[key] = load(spark, sf_dir, name).rdd.getNumPartitions()
    if _SCAN_SPLITS[key] >= width:
        return df
    return df.repartition(width, *cols) if cols else df.repartition(width)


# (tag, sf_dir) → the persisted DataFrame from that operator's last
# call; the next call frees it before persisting a fresh plan.
_PERSIST_REGISTRY: dict[tuple[str, str], DataFrame] = {}


def persist_fresh(tag: str, sf_dir: str, df: DataFrame) -> DataFrame:
    """Persist a multiply-consumed intermediate, freeing the previous
    generation for the same (tag, sf_dir).

    Catalyst does NOT reuse exchanges across self-join aliases, so a
    DataFrame consumed by both sides of a self-join (or by a self-join
    plus a sizes/df aggregate) re-executes its whole subtree once per
    consumer.  For the dedup/similarity family that subtree is the
    expensive part (shingle explosion, 32-hash MinHash, SRP plane
    dots); the persisted intermediate is the SMALL side (signatures,
    bands, candidate pairs — a few machine words per row).  At 100 TB
    the same call is MEMORY_AND_DISK on the cluster cache tier, exactly
    as each operator's scale_note prescribes.

    The cached plan's last stage is coalesced by AQE like any other
    (``session.RUNTIME_CONFS``), so the cache holds as many partitions
    as its bytes need: a loop state of a few dozen rows is one
    partition, and every later scan of it runs one task, not one per
    shuffle partition.  Full-size partitions are never coalesced, so at
    scale the cache keeps the shuffle's parallelism.
    """
    key = (tag, sf_dir)
    prev = _PERSIST_REGISTRY.pop(key, None)
    if prev is not None:
        prev.unpersist()
    # Evict cached generations that belong to a DIFFERENT dataset:
    # every persist within one query execution shares its sf_dir, so
    # cross-dir blocks are never mid-pipeline — they are dead weight
    # from a previous scale's run (the ×100 probe stacked sf0.1 and
    # ×100 generations until the shuffle writers could not acquire
    # pages).  unpersist() is lazily CORRECT in Spark — a consumer
    # that somehow re-executes just recomputes from source.
    # Decision (ADVICE r11, adjudicated): dir-inequality eviction can
    # thrash if two fixture dirs interleave within one session, but
    # the driver, bench, and parity sweep are all single-dataset-per-
    # run, and pytest's interleavings are read-only re-loads — the
    # cost is a recompute, never a wrong answer.  A size/age policy
    # buys nothing here until a genuinely multi-dir consumer exists.
    for other in [k for k in _PERSIST_REGISTRY if k[1] != sf_dir]:
        _PERSIST_REGISTRY.pop(other).unpersist()
    # SERIALIZED storage, not the deserialized default: cached blocks
    # live in the same unified pool the shuffle/agg tasks allocate
    # from, and deserialized rows inflate 3-5x.  The r11 wave-3 ×30
    # probe OOM-killed the adamic-adar pair shuffle
    # (UNABLE_TO_ACQUIRE_MEMORY mid-spill) when two cache generations
    # (the sf0.1 run's block kept alive beside the ×30 one — the
    # registry frees same-(tag, sf_dir) only) squeezed the execution
    # pool under 32 concurrent shuffle writers; serialized blocks cut
    # the squeeze by the inflation factor and spill to disk losslessly.
    # (PySpark 4: MEMORY_AND_DISK IS the serialized level; the
    # deserialized default is MEMORY_AND_DISK_DESER.)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSIST_REGISTRY[key] = df
    return df


def drop_hot_groups(
    name: str, df: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """``df`` without its groups by ``keys`` of more than ``cap`` rows.

    The degenerate-input cap of the pair miners (a clique of identical
    items makes pairwise output quadratic in its size).  One occupancy
    aggregate collects the over-cap group LIST, which is metadata-sized
    and empty on normal corpora; ``{"dropped_groups", "dropped_rows"}``
    is recorded under ``name`` and a warning logged when it is not
    empty, so the cap is never silent.  Only then is the list broadcast
    and anti-joined, so a hot group never reaches the payload shuffle
    (Arrow would materialize it whole in one Python worker) and the
    clean path stays join-free.
    """
    sizes = df.groupBy(*keys).agg(F.count("*").alias("occ"))
    hot = sizes.filter(F.col("occ") > cap).collect()
    dropped_rows = sum(r["occ"] for r in hot)
    obs.record(name, dropped_groups=len(hot), dropped_rows=dropped_rows)
    if not hot:
        return df
    log_hot_groups(name, cap, len(hot), dropped_rows)
    hot_df = local_frame(
        df.sparkSession,
        [tuple(r[k] for k in keys) for r in hot],
        sizes.select(*keys).schema,
    )
    return df.join(F.broadcast(hot_df), keys, "left_anti")


def log_hot_groups(name: str, cap: int, groups: int, rows: int) -> None:
    """The one warning every pair miner logs when its hot-group cap
    drops ``groups`` groups holding ``rows`` rows."""
    _log.warning(
        "%s: hot-group cap (%d) dropped %d group(s) / %d row(s) from "
        "pair mining — run exact dedup upstream if the corpus carries "
        ">cap identical items",
        name, cap, groups, rows,
    )


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """A DataFrame of driver-built ``rows`` (tuples in ``schema`` order),
    equal to ``spark.createDataFrame(rows, schema)``, schema and
    nullability included.

    A Python list given to ``createDataFrame`` becomes a pickled Python
    RDD: every job that scans it starts a Python worker per partition to
    unpickle the rows (~120 ms for 8 rows at fixture scale, ~180 ms as a
    broadcast side), a crossing that no plan node shows.  The same rows
    as a ``pyarrow.Table`` cross once, on the driver, and plan as a
    ``LocalTableScan`` (~20 ms).  ``schema`` is a ``StructType`` or a
    DDL string.  Naive datetimes are read in the process's local zone,
    as ``createDataFrame`` reads them.
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    arrays = []
    for col, field, sfield in zip(cols, arrow, schema.fields):
        if isinstance(sfield.dataType, T.TimestampType):
            col = [
                v.astimezone() if v is not None and v.tzinfo is None else v
                for v in col
            ]
        arrays.append(pa.array(list(col), type=field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, schema)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view (for the SQL entry point)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
