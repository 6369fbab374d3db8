"""Physical-layout operators (SURVEY.md §2.N extras): hive-style
partitioned writes with partition pruning, and bucketed tables with
shuffle-free co-located joins — the two storage decisions that matter
most at 100 TB, made first-class and oracle-checked.

Why they matter: a partition-pruned scan reads the partitions a query
touches (cost ∝ selectivity, not corpus size); a bucketed join layout
pre-shuffles BOTH fact tables once at write time so every subsequent
join on the bucket key runs with zero Exchange (verified by plan
inspection in tests/test_layout.py — `Bucketed: true`, no shuffle
below the join).

Oracle strategy: each operator writes the layout, reads it back
through the layout-aware path, and returns an aggregate whose DuckDB
oracle computes the same answer from the ORIGINAL parquet — equality
proves the layout round-trip is lossless and the pruned/co-located
read is semantically transparent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import obs, scratch
from ..registry import query
from ..tables import load

PRUNE_TYPES = ("click", "purchase")
N_BUCKETS = 8


@query(
    "sink_partitioned_parquet",
    sql=f"""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN {PRUNE_TYPES!r}
    GROUP BY 1, 2
    """,
    tables=("events",),
    scale_note=(
        "Hive-style partitionBy(event_type) write, then a re-read whose "
        "filter prunes to 2 of 5 partition directories BEFORE any file "
        "is opened (plan shows PartitionFilters, tests/test_layout.py "
        "pins PartitionCount). At 100 TB the pruning key is the "
        "dominant predicate (day/source); cost tracks selectivity, not "
        "corpus size."
    ),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_type; read back only two
    partitions (pruned at planning time) and aggregate them."""
    e = load(spark, sf_dir, "events")
    path = scratch.fresh(f"part_events_{scratch.tag(sf_dir)}")
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type").isin(*PRUNE_TYPES))
    return back.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _bucketed_table(
    spark: SparkSession, name: str, df: DataFrame, key: str
) -> DataFrame:
    """Materialize ``df`` as a bucketed+sorted catalog table (idempotent
    per session) and return the catalog-backed DataFrame."""
    if not spark.catalog.tableExists(name):
        path = scratch.fresh(name)
        (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    return spark.table(name)


@query(
    "join_bucketed_colocated",
    sql="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tables=("orders", "customer"),
    scale_note=(
        "Both sides written bucketBy(8, custkey)+sortBy once; the join "
        "then runs as a sort-merge with ZERO Exchange (plan shows "
        "`Bucketed: true`, SelectedBucketsCount 8/8, no shuffle below "
        "the join — pinned in tests/test_layout.py). This is the "
        "write-once/join-many layout for 100-TB fact-fact joins where "
        "neither side broadcasts; re-shuffling per query would dominate "
        "the cluster bill."
    ),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders ⋈ customer on the bucket key with no runtime shuffle on
    either side, aggregated per market segment."""
    from ..numerics import dec

    tag = scratch.tag(sf_dir).replace(".", "_")
    bo = _bucketed_table(
        spark, f"bkt_orders_{tag}", load(spark, sf_dir, "orders"), "o_custkey"
    )
    bc = _bucketed_table(
        spark,
        f"bkt_customer_{tag}",
        load(spark, sf_dir, "customer"),
        "c_custkey",
    )
    # merge hint: demonstrate the bucketed SMJ even where AQE would
    # broadcast the (locally tiny) customer side; at real scale SMJ is
    # the only option and the bucketing is what removes its shuffles.
    joined = bo.hint("merge").join(
        bc.hint("merge"), bo["o_custkey"] == bc["c_custkey"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
    )


# Compaction: the small-files problem.  Target output size per file;
# sized so the sf0.01 fixture compacts 64 fragments into a couple of
# files (at 100 TB the target is 128-512 MB against the same logic).
COMPACT_TARGET_BYTES = 256 * 1024
N_FRAGMENTS = 64


@query(
    "sink_compact_small_files",
    sql="SELECT event_id, user_id, event_type, value FROM events",
    tables=("events",),
    scale_note=(
        "Small-files compaction: a fragmented landing zone (here 64 "
        "writer-partition shards, the streaming-ingest pathology) is "
        "rewritten into size-targeted files — file count computed from "
        "actual input bytes / target size, applied with a round-robin "
        "repartition so output files are even. At 100 TB compaction is "
        "what keeps scan task counts ∝ data size instead of ∝ historical "
        "writer count; the oracle proves the rewrite is lossless. File "
        "count pinned in tests/test_layout_extra.py."
    ),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment events into 64 small files, compact to size-targeted
    files, and read the compacted result back (lossless)."""
    tag = scratch.tag(sf_dir)
    frag = scratch.fresh(f"frag_events_{tag}")
    compact = scratch.fresh(f"compact_events_{tag}")
    cols = ["event_id", "user_id", "event_type", "value"]
    e = load(spark, sf_dir, "events").select(*cols)
    e.repartition(N_FRAGMENTS).write.mode("overwrite").parquet(frag)

    # Size the compacted layout from real input bytes (driver-side
    # METADATA listing only — no row ever touches the driver).
    n_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(frag)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-n_bytes // COMPACT_TARGET_BYTES))  # ceil div
    (
        spark.read.parquet(frag)
        .repartition(int(n_files))
        .write.mode("overwrite")
        .parquet(compact)
    )
    return spark.read.parquet(compact).select(*cols)


N_CLUSTER_FILES = 8
CLUSTER_PROBE_USERS = (100, 120)  # selective re-read range


@query(
    "sink_sorted_clustered",
    sql=f"""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN {CLUSTER_PROBE_USERS[0]} AND {CLUSTER_PROBE_USERS[1]}
    GROUP BY user_id
    """,
    tables=("events",),
    scale_note=(
        "Range-clustered layout: repartitionByRange(user_id) + "
        "sortWithinPartitions(user_id, ts) gives every output file a "
        "narrow, near-disjoint user_id span, so parquet min/max "
        "statistics turn a selective key predicate into file- and "
        "row-group-level skipping (disjointness pinned via footer stats "
        "in tests/test_layout_extra.py). The single-dimension cousin of "
        "Z-ordering — at 100 TB the dominant-predicate sort key is what "
        "makes point/range lookups read MBs, not the corpus."
    ),
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events range-clustered on user_id (sorted within files),
    then answer a selective user range from the clustered layout."""
    from ..numerics import dec

    e = load(spark, sf_dir, "events")
    path = scratch.fresh(f"clustered_events_{scratch.tag(sf_dir)}")
    (
        e.repartitionByRange(N_CLUSTER_FILES, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("user_id").between(*CLUSTER_PROBE_USERS)
    )
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )


ZORDER_BITS = 8  # per-dimension budget AFTER min/max normalization
N_ZORDER_FILES = 16
# 2-D probe box, selective in BOTH dimensions at every fixture scale.
ZORDER_PROBE_USERS = (3, 9)
ZORDER_PROBE_HOURS = (24, 48)  # hours AFTER the table's first hour


def _interleave_sql(xa: str, xb: str) -> str:
    """Bit-interleave two ZORDER_BITS-bit ints into a Morton (Z) code —
    plain shift/and/add arithmetic, token-identical on both engines."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({xa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({xb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _scale_sql(v: str, lo: str, hi: str) -> str:
    """Min/max-normalize an integer to the 2^ZORDER_BITS bucket range —
    exact integer arithmetic (// on DuckDB is interpolated to div on
    the Spark side below)."""
    return f"((({v}) - ({lo})) * {1 << ZORDER_BITS}) // (({hi}) - ({lo}) + 1)"


_Z_HR = "CAST(epoch_us(ts) // 3600000000 AS BIGINT)"
_Z_HR_SPARK = "CAST(unix_micros(ts) div 3600000000 AS BIGINT)"


def _zorder_oracle_sql() -> str:
    zx = _scale_sql("user_id", "b.ulo", "b.uhi")
    zy = _scale_sql("hr", "b.hlo", "b.hhi")
    return f"""
    WITH h AS (
        SELECT user_id, {_Z_HR} AS hr FROM events
    ),
    b AS (
        SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
               MIN(hr) AS hlo, MAX(hr) AS hhi
        FROM h
    )
    SELECT user_id, hr,
           {_interleave_sql(f'({zx})', f'({zy})')} AS zval
    FROM h, b
    WHERE user_id BETWEEN {ZORDER_PROBE_USERS[0]} AND {ZORDER_PROBE_USERS[1]}
      AND hr BETWEEN b.hlo + {ZORDER_PROBE_HOURS[0]}
                 AND b.hlo + {ZORDER_PROBE_HOURS[1]}
    """


@query(
    "sink_zorder_clustered",
    sql=_zorder_oracle_sql(),
    tables=("events",),
    scale_note=(
        "Z-ORDER (Morton) clustering — the multi-dimension layout "
        "sink_sorted_clustered's note calls the next step.  Each "
        "dimension is first min/max-normalized to an equal 8-bit "
        "budget (raw interleaving degenerates to a single-dimension "
        "sort whenever the dims' bit widths differ — measured on the "
        "15-user fixture, where hour bits swamped user bits), then "
        "the bits interleave into one sort key (pure shift/and "
        "arithmetic, restated exactly by the oracle incl. the min/max "
        "subquery), the table is range-partitioned + sorted on it, "
        "and every output file covers a small RECTANGLE in (user, "
        "hour) space — parquet min/max stats skip files for selective "
        "predicates on EITHER or BOTH dimensions, where a 1-D sort "
        "serves only its own column.  tests/test_layout_extra.py pins "
        "the mean per-file span ≤ half the global span in BOTH "
        "dimensions simultaneously.  At 100 TB this is Delta OPTIMIZE "
        "ZORDER / Iceberg sort-order rewrite: one stats aggregate "
        "(broadcast) + one range exchange, no extra pass."
    ),
)
def sink_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events Z-order-clustered on normalized (user_id, hour),
    then answer a 2-D box probe from the clustered layout."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.expr(_Z_HR_SPARK).alias("hr")
    )
    b = e.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("hr").alias("hlo"),
        F.max("hr").alias("hhi"),
    )
    zx = _scale_sql("user_id", "ulo", "uhi").replace("//", "div")
    zy = _scale_sql("hr", "hlo", "hhi").replace("//", "div")
    z = e.join(F.broadcast(b)).withColumn(
        "zval", F.expr(_interleave_sql(f"({zx})", f"({zy})"))
    )
    path = scratch.fresh(f"zorder_events_{scratch.tag(sf_dir)}")
    (
        z.repartitionByRange(N_ZORDER_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    # 1-row stats read (already computed); None on a zero-row table —
    # any anchor then yields the correct empty probe result.
    hlo = b.collect()[0]["hlo"] or 0
    back = spark.read.parquet(path).filter(
        F.col("user_id").between(*ZORDER_PROBE_USERS)
        & F.col("hr").between(
            hlo + ZORDER_PROBE_HOURS[0], hlo + ZORDER_PROBE_HOURS[1]
        )
    )
    return back.select("user_id", "hr", "zval")


MANIFEST_PROBE_USERS = (3, 6)
N_MANIFEST_FILES = 16


@query(
    "scan_manifest_pruned",
    sql=f"""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN {MANIFEST_PROBE_USERS[0]}
                      AND {MANIFEST_PROBE_USERS[1]}
    GROUP BY user_id
    """,
    tables=("events",),
    scale_note=(
        "EXPLICIT manifest pruning (the Iceberg/Delta planning step, "
        "distinct from sink_sorted_clustered's implicit row-group "
        "skipping): a manifest of per-file (min, max, rows) zone maps "
        "is built from parquet FOOTERS only (driver metadata listing, "
        "no data read), the planner intersects the probe predicate "
        "with it, and Spark's scan receives ONLY the surviving file "
        "list — the scan's task count is ∝ matching files, not table "
        "files, before any I/O happens.  The run record holds "
        "files_total vs files_read (pruning pinned in tests).  At "
        "100 TB the manifest is itself a table consulted with a "
        "filter — this operator is that loop in miniature; "
        "correctness holds because pruning only DROPS files whose "
        "zone map cannot intersect the predicate (oracle = plain "
        "filter over everything)."
    ),
)
def scan_manifest_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan a selective scan through a file-level zone-map manifest:
    read only the files whose (min,max) span intersects the probe."""
    import pyarrow.parquet as pq

    from ..numerics import dec

    tag = scratch.tag(sf_dir)
    path = scratch.fresh(f"manifest_events_{tag}")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    (
        e.repartitionByRange(N_MANIFEST_FILES, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    # Manifest build: footers only (metadata read, no row I/O).
    manifest = []
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            md = pq.read_metadata(fp)
            idx = md.schema.names.index("user_id")
            stats = [
                md.row_group(i).column(idx).statistics
                for i in range(md.num_row_groups)
            ]
            if not stats:
                continue
            manifest.append(
                (fp, min(s.min for s in stats), max(s.max for s in stats))
            )
    lo, hi = MANIFEST_PROBE_USERS
    keep = [fp for fp, fmin, fmax in manifest if fmax >= lo and fmin <= hi]
    obs.record(
        "scan_manifest_pruned", files_total=len(manifest), files_read=len(keep)
    )
    # Zero surviving files: run the identical aggregation over an
    # empty slice of the base so the schema is the plan's own.
    src = (
        spark.read.parquet(*keep)
        if keep
        else spark.read.parquet(path).limit(0)
    )
    return (
        src.filter(F.col("user_id").between(lo, hi))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


# ---- bloom-filter sidecar pruning (round 7) --------------------------
# The POINT-LOOKUP companion to scan_manifest_pruned's zone maps: zone
# maps prune range predicates on CLUSTERED keys, but a point lookup on
# a key the layout is NOT sorted by (the "find this event in 100 TB"
# case) intersects every file's (min,max).  The Parquet/Iceberg answer
# is a per-file Bloom filter sidecar: k hash bits per key, file
# skipped when any probe bit is unset — no false negatives ever
# (pruning only drops files that provably lack the key), false
# positives only cost a read.  The filter build is DISTRIBUTED (per-
# row masks bit_or-aggregated per (file, word) — Spark's two-phase
# agg), and only the finished filters (files × words rows, metadata-
# sized) reach the driver's planning loop.
BLOOM_WORDS = 1024          # 64 Kbit filter per file
BLOOM_HASHES = 4
N_BLOOM_FILES = 16


@query(
    "scan_bloom_pruned",
    sql="""
    WITH ids AS (
        SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM events
    )
    SELECT e.event_id, e.user_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value
    FROM events e, ids
    WHERE e.event_id IN (ids.lo, ids.hi, ids.hi + 1)
    """,
    tables=("events",),
    scale_note=(
        "Bloom-sidecar file skipping for point lookups on an "
        "UNCLUSTERED key (zone maps cannot prune these — every "
        "file's min/max spans the probe): per-file 64-Kbit filters "
        "are built distributed (k=4 xxhash64 bit masks per row, "
        "bit_or partial-aggregated per (file, word) before any "
        "exchange), and only files×words metadata rows reach the "
        "planner, which reads the files whose filter passes a probe "
        "— task count ∝ passing files, not table files.  No false "
        "negatives by construction (bits from the same hash family "
        "the probe uses), so pruned-scan + residual filter ≡ the "
        "oracle's plain IN over everything; false positives only "
        "cost a read (rate set by bits/key, sized per file in "
        "production).  The deliberately-absent probe key (max+1) "
        "exercises the all-files-pruned path.  The run record "
        "holds files_total / files_read / per-probe pass counts."
    ),
)
def scan_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups (min id, max id, and an absent id) through
    per-file Bloom sidecars over a hash-scattered events layout —
    read only files whose filter passes a probe."""
    tag = scratch.tag(sf_dir)
    path = scratch.fresh(f"bloom_events_{tag}")
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("value").cast("double")
    )
    e.repartition(N_BLOOM_FILES, "event_id").write.mode("overwrite").parquet(
        path
    )
    bits = BLOOM_WORDS * 64
    src = spark.read.parquet(path).select(
        F.input_file_name().alias("f"), "event_id"
    )
    # k per-row (word, mask) pairs → bit_or per (file, word): the
    # whole filter build is one two-phase aggregation.
    pairs = src.select(
        "f",
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("event_id"), F.lit(j)), F.lit(bits)
                    ).alias("b")
                    for j in range(BLOOM_HASHES)
                ]
            )
        ).alias("b"),
    ).select(
        "f",
        (F.col("b") / 64).cast("int").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 64 AS INT))").alias(
            "m"
        ),
    )
    blooms: dict = {}
    for r in (
        pairs.groupBy("f", "w").agg(F.bit_or("m").alias("word")).collect()
    ):
        blooms.setdefault(r["f"], {})[r["w"]] = r["word"]
    stats = e.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).collect()[0]
    probes = [stats["lo"], stats["hi"], stats["hi"] + 1]

    def bloom_bits(key: int) -> list[tuple[int, int]]:
        row = (
            spark.range(1)
            .select(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(key).cast("bigint"), F.lit(j)),
                        F.lit(bits),
                    ).alias(f"b{j}")
                    for j in range(BLOOM_HASHES)
                ]
            )
            .collect()[0]
        )
        return [(row[f"b{j}"] // 64, row[f"b{j}"] % 64) for j in range(BLOOM_HASHES)]

    probe_bits = {p: bloom_bits(p) for p in probes}
    keep, per_probe = set(), {}
    for p, pb in probe_bits.items():
        passing = [
            f
            for f, words in blooms.items()
            if all((words.get(w, 0) >> bit) & 1 for w, bit in pb)
        ]
        per_probe[p] = len(passing)
        keep.update(passing)
    obs.record(
        "scan_bloom_pruned",
        files_total=len(blooms),
        files_read=len(keep),
        per_probe_files=per_probe,
    )
    src2 = (
        spark.read.parquet(*sorted(keep))
        if keep
        else spark.read.parquet(path).limit(0)
    )
    return src2.filter(
        F.col("event_id").isin([int(p) for p in probes])
    ).select("event_id", "user_id", "event_type", "value")


# ---- partition-spec evolution (round 7) ------------------------------
# The Iceberg capability the static layout keys can't show: a table
# whose PARTITIONING CHANGED mid-life (coarse day=... dirs for the old
# half, finer day/hour dirs once volume demanded it) and a reader that
# plans ONE query across both specs — per-version dir pruning, with
# the old spec pruning only to days while the new spec also prunes
# hours.  This is exactly why engines version the partition spec in
# metadata instead of rewriting history: old files stay valid, new
# files prune better, and the planner intersects the predicate with
# EACH version's spec.
EVO_HOURS = (6, 12)       # probe: hours 6..12 of the 5 straddling days
EVO_SPAN_DAYS = 2         # probe: split±2 days


@query(
    "scan_partition_evolution",
    sql=f"""
    WITH b AS (
        SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
        FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events e, b
    WHERE CAST(e.ts AS DATE)
          BETWEEN b.lo + CAST((b.hi - b.lo) // 2 - {EVO_SPAN_DAYS} AS INT)
              AND b.lo + CAST((b.hi - b.lo) // 2 + {EVO_SPAN_DAYS} AS INT)
      AND EXTRACT(hour FROM e.ts) BETWEEN {EVO_HOURS[0]} AND {EVO_HOURS[1]}
    GROUP BY 1
    """,
    tables=("events",),
    scale_note=(
        "Partition-spec evolution: v1 files (first half of history) "
        "live under day=D dirs, v2 files under day=D/hour=H dirs; a "
        "version manifest maps each version to its spec, and the "
        "planner prunes each version's directories against the "
        "predicate AT THAT VERSION'S GRANULARITY — v1 prunes to "
        "days (hour filter becomes a residual row filter), v2 "
        "prunes to (day, hour) so its scan touches only "
        "hours×days-in-range files.  Old files are never rewritten "
        "(the Iceberg contract); the union of the two pruned scans "
        "+ residual filter equals the oracle's plain filter.  "
        "The run record holds per-version dirs_total/dirs_read — "
        "pinned in tests to prove v2 pruned strictly finer.  At "
        "100 TB pruning is metadata-only planning either way."
    ),
)
def scan_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One range+hour query planned across a partition-spec change:
    day=… dirs for the old half, day=…/hour=… for the new half."""
    from ..numerics import dec
    from ..tables import load as _load

    tag = scratch.tag(sf_dir)
    base = scratch.fresh(f"evo_events_{tag}")
    e = _load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type",
        F.col("value").cast("double").alias("value"),
    )
    b = e.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).collect()[0]
    half = (b["hi"] - b["lo"]).days // 2
    split = b["lo"] + __import__("datetime").timedelta(days=half)
    v1_dir, v2_dir = f"{base}/v1", f"{base}/v2"
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    hour = F.hour("ts").alias("hour")
    # Repartition on the partition columns before each dynamic-
    # partition write (guide §6): the fixture scan is one split, so
    # one task used to create every day[/hour] dir and file
    # SEQUENTIALLY (v2 is days x 24 of them — the dominant cost of
    # this operator, 7.2 s at sf0.01).  Hashing on the dir key spreads
    # file creation across the session's cores and still lands each
    # dir's rows in exactly one task, so the per-dir file count (and
    # the query result) is unchanged.
    width = spark.sparkContext.defaultParallelism
    (
        e.filter(F.to_date("ts") < F.lit(split))
        .withColumn("day", day)
        .repartition(width, "day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(v1_dir)
    )
    (
        e.filter(F.to_date("ts") >= F.lit(split))
        .withColumn("day", day)
        .withColumn("hour", hour)
        .repartition(width, "day", "hour")
        .write.mode("overwrite")
        .partitionBy("day", "hour")
        .parquet(v2_dir)
    )
    lo_day = split - __import__("datetime").timedelta(days=EVO_SPAN_DAYS)
    hi_day = split + __import__("datetime").timedelta(days=EVO_SPAN_DAYS)
    in_days = lambda d: lo_day.isoformat() <= d <= hi_day.isoformat()  # noqa: E731

    # Spec-aware dir pruning, each version at its own granularity.
    v1_all = sorted(
        d for d in os.listdir(v1_dir) if d.startswith("day=")
    )
    v1_keep = [d for d in v1_all if in_days(d[4:])]
    v2_all, v2_keep = [], []
    for d in sorted(os.listdir(v2_dir)):
        if not d.startswith("day="):
            continue
        for h in sorted(os.listdir(os.path.join(v2_dir, d))):
            if not h.startswith("hour="):
                continue
            v2_all.append((d, h))
            if in_days(d[4:]) and EVO_HOURS[0] <= int(h[5:]) <= EVO_HOURS[1]:
                v2_keep.append((d, h))
    obs.record(
        "scan_partition_evolution",
        v1_dirs_total=len(v1_all),
        v1_dirs_read=len(v1_keep),
        v2_dirs_total=len(v2_all),
        v2_dirs_read=len(v2_keep),
    )
    sel = F.col("value").isNotNull()  # no-op guard for empty unions
    # Empty-version fallback: e.limit(0), NOT a read of the version
    # dir — a version that received zero rows has no parquet footer
    # to infer a schema from (one-row inputs put ALL history in one
    # version), so reading it raises UNABLE_TO_INFER_SCHEMA (r10
    # one-row sweep); the source frame carries the schema directly.
    v1 = (
        spark.read.option("basePath", v1_dir)
        .parquet(*[os.path.join(v1_dir, d) for d in v1_keep])
        if v1_keep
        else e.limit(0)
    )
    v2 = (
        spark.read.option("basePath", v2_dir)
        .parquet(*[os.path.join(v2_dir, d, h) for d, h in v2_keep])
        if v2_keep
        else e.limit(0)
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    # v1's spec can't prune hours — residual ROW filter; v2 already
    # pruned them at planning time (residual is a no-op there).
    resid = F.hour("ts").between(*EVO_HOURS)
    unioned = (
        v1.select(*cols).filter(resid & sel)
        .unionAll(v2.select(*cols).filter(resid & sel))
    )
    return unioned.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )
