"""Minimal merge-on-read versioned table with time travel
(SURVEY.md §2.N, round 4) — the lakehouse capability the round-3
review listed as the one remaining genre gap (VERDICT r3 "What's
missing" #4): committed snapshots, a delta commit that does NOT
rewrite the base, and reads pinned AS OF any version.

The format is the public lakehouse recipe in miniature (Delta/Iceberg
shape, no proprietary code): immutable data files + a tiny JSON
manifest per version listing the files that make up that snapshot.
A delta commit appends one file and one manifest; readers resolve
merge-on-read by keeping the highest-commit row per key (the
win_dedup_latest window).  Reading v0 AFTER v1 is committed returns
the original snapshot byte-for-byte — that's the time-travel
contract, asserted by the oracle below.

Scale posture: commits are O(delta) — the base is never rewritten;
the manifest is metadata (bytes per version); merge-on-read is one
keyed window over only the files the manifest names, and a real
deployment prunes that to the delta's touched partitions.  Compaction
(folding deltas back into base files) is sink_compact_small_files'
plan applied per partition.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import scratch
from ..numerics import dsum, dsum_sql
from ..registry import query
from ..tables import load, local_frame

DELTA_MOD = 4  # every 4th event gets a corrected row in commit 1
DELTA_BUMP = 50.0  # exact-in-binary value delta (cross-engine safe)


class CommitConflict(Exception):
    """Another writer committed this version first (CAS lost)."""


def commit_version(man_dir: str, version: int, files: list[str]) -> None:
    """Publish manifest ``version`` with compare-and-swap semantics.

    The lost-update hazard in a multi-writer table is two writers both
    computing "next version = N" and the second silently overwriting
    the first's manifest.  The commit is therefore a CREATE, never a
    write-in-place: the manifest is staged to a unique temp file and
    published with ``os.link(tmp, vN.json)`` — on POSIX ``link`` fails
    with ``FileExistsError`` if the target exists, atomically, even on
    NFS, which makes "publish vN" a true compare-and-swap on the
    version slot.  The loser gets :class:`CommitConflict` and must
    rebase (re-read the table state, pick version N+1, re-validate its
    delta).  This is the same optimistic-concurrency recipe the public
    lakehouse formats document (Delta's mutual-exclusion-on-log-entry,
    Iceberg's atomic metadata swap); committed manifests are immutable
    thereafter.

    On a real object store without atomic create-if-absent the link
    step is replaced by the store's conditional-put (e.g. HTTP
    If-None-Match) — the protocol shape is unchanged.
    """
    staged = tempfile.NamedTemporaryFile(
        mode="w", dir=man_dir, prefix=f".v{version}_", suffix=".tmp",
        delete=False,
    )
    try:
        json.dump({"version": version, "files": files}, staged)
        staged.close()
        try:
            os.link(staged.name, os.path.join(man_dir, f"v{version}.json"))
        except FileExistsError:
            raise CommitConflict(
                f"version {version} was committed by another writer"
            ) from None
    finally:
        os.unlink(staged.name)


def commit_next(man_dir: str, files: list[str], max_retries: int = 50) -> int:
    """Commit ``files`` as the next version, rebasing on CAS conflicts.

    Returns the version actually won.  Each retry re-lists the manifest
    directory, so two writers interleaving commits serialize into a
    dense, gapless version chain with no lost updates.
    """
    for _ in range(max_retries):
        versions = [
            int(f[1:-5])
            for f in os.listdir(man_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        nxt = (max(versions) + 1) if versions else 0
        try:
            commit_version(man_dir, nxt, files)
            return nxt
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {max_retries} rebases")


def manifest_files(root: str, version: int) -> list[str]:
    """The data dirs (relative to ``root``) that version ``version``
    of the table at ``root`` names."""
    with open(os.path.join(root, "_manifests", f"v{version}.json")) as fh:
        return json.load(fh)["files"]


def newest_version(root: str) -> int:
    """The highest committed version of the table at ``root``."""
    return max(
        int(f[1:-5])
        for f in os.listdir(os.path.join(root, "_manifests"))
        if f.startswith("v") and f.endswith(".json")
    )


def read_as_of(
    spark: SparkSession, root: str, version: int, schema: StructType
) -> DataFrame:
    """Version ``version`` of the table at ``root``, merge-on-read: the
    dirs its manifest names, keeping the highest-``commit`` row per
    ``event_id``.

    ``schema`` is the one the writers used, so the read starts no
    schema-inference job.  A column missing from an older dir reads as
    NULL (what ``mergeSchema`` would give).
    """
    paths = [
        os.path.normpath(os.path.join(root, f))
        for f in manifest_files(root, version)
    ]
    df = spark.read.schema(schema).parquet(*paths)
    w = Window.partitionBy("event_id").orderBy(F.col("commit").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "table_time_travel",
    sql=f"""
    SELECT 0 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql('value')} AS sum_value,
           CAST(0 AS BIGINT) AS n_from_delta
    FROM events
    UNION ALL
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql(f"CASE WHEN event_id % {DELTA_MOD} = 0"
                     f" THEN value + {DELTA_BUMP} ELSE value END")}
               AS sum_value,
           CAST(SUM(CASE WHEN event_id % {DELTA_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta
    FROM events
    """,
    tables=("events",),
    scale_note=(
        "Commit = append data file(s) + one manifest (metadata-sized); "
        "the base snapshot is NEVER rewritten, so commit cost tracks "
        "the delta. Merge-on-read = keep-highest-commit per key over "
        "only the manifest's files (win_dedup_latest's single keyed "
        "window); time travel = read an older manifest. The oracle "
        "recomputes BOTH versions from the source table, proving v0 "
        "is still intact after v1 committed and v1 resolves to "
        "exactly one row per key."
    ),
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-commit versioned events table; per-version resolved stats
    read back through the manifests (v0 read AFTER v1 committed)."""
    e = load(spark, sf_dir, "events")
    # The table is materialized to its 2-row summary before the call
    # returns, so the next call may reclaim the directory.
    root = scratch.fresh("events_mor")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = e.select(*cols, F.lit(0).alias("commit"))
    delta = (
        e.filter(F.col("event_id") % DELTA_MOD == 0)
        .withColumn("value", F.col("value") + F.lit(DELTA_BUMP))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
        .select(*cols, F.lit(1).alias("commit"))
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(root, "delta1"))
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    for files in (["base"], ["base", "delta1"]):
        commit_next(man_dir, files)

    rows = []
    for v in (0, 1):
        snap = read_as_of(spark, root, v, base.schema)
        rows.append(
            snap.agg(
                F.count("*").cast("bigint").alias("n_rows"),
                dsum("value").alias("sum_value"),
                F.sum("commit").cast("bigint").alias("n_from_delta"),
            )
            .select(F.lit(v).alias("version"), "*")
            .collect()[0]
        )
    return local_frame(
        spark,
        rows,
        "version int, n_rows bigint, sum_value double, n_from_delta bigint",
    )


@query(
    "table_compact_versioned",
    sql=f"""
    WITH resolved AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {dsum_sql(f"CASE WHEN event_id % {DELTA_MOD} = 0"
                         f" THEN value + {DELTA_BUMP} ELSE value END")}
                   AS sum_value
        FROM events
    )
    SELECT 1 AS version, n_rows, sum_value,
           CAST(2 AS INT) AS n_source_dirs FROM resolved
    UNION ALL
    SELECT 2 AS version, n_rows, sum_value,
           CAST(1 AS INT) AS n_source_dirs FROM resolved
    """,
    tables=("events",),
    scale_note=(
        "Lakehouse MAINTENANCE: compaction folds the merge-on-read "
        "delta chain into one pre-resolved file set published as a NEW "
        "commit — reads after compaction touch one dir and skip the "
        "keep-latest window entirely, while every pre-compaction "
        "version stays readable (time travel preserved: compaction is "
        "an append to the version chain, never a rewrite of history). "
        "Commit races are handled by the same CAS manifest protocol; "
        "orphaned pre-compaction files are reclaimed by a later vacuum "
        "once no live reader can pin them. The oracle states that v1 "
        "(merge-on-read over 2 dirs) and v2 (compacted, 1 dir) are "
        "logically IDENTICAL — the compaction invariant."
    ),
)
def table_compact_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact the two-commit versioned table into a v2 whose resolved
    content equals v1 while referencing a single pre-resolved dir."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh("events_compact")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = e.select(*cols, F.lit(0).alias("commit"))
    delta = (
        e.filter(F.col("event_id") % DELTA_MOD == 0)
        .withColumn("value", F.col("value") + F.lit(DELTA_BUMP))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
        .select(*cols, F.lit(1).alias("commit"))
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(root, "delta1"))
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    commit_next(man_dir, ["base"])
    commit_next(man_dir, ["base", "delta1"])

    # COMPACTION: materialize v1's resolution once, publish as v2.
    resolved_v1 = read_as_of(spark, root, 1, base.schema)
    resolved_v1.write.mode("overwrite").parquet(
        os.path.join(root, "compact2")
    )
    commit_next(man_dir, ["compact2"])

    rows = []
    for v in (1, 2):
        snap = read_as_of(spark, root, v, base.schema)
        n_dirs = len(manifest_files(root, v))
        rows.append(
            snap.agg(
                F.count("*").cast("bigint").alias("n_rows"),
                dsum("value").alias("sum_value"),
            )
            .select(
                F.lit(v).alias("version"),
                "*",
                F.lit(n_dirs).cast("int").alias("n_source_dirs"),
            )
            .collect()[0]
        )
    return local_frame(
        spark,
        rows,
        "version int, n_rows bigint, sum_value double, n_source_dirs int",
    )


# --- change feed (round 5) ------------------------------------------

# Delta-commit composition rules for the change-feed fixture.  The
# three channels are disjoint on the DELTA side: tombstones win over
# updates for the same source row, and inserts mint fresh keys far
# outside the base id range.
FEED_DELETE_MOD = 10  # event_id % 10 == 3  -> tombstone
FEED_DELETE_REM = 3
FEED_INSERT_REM = 7  # event_id % 10 == 7  -> seed row for an insert
FEED_INSERT_OFFSET = 10**12  # minted insert key = event_id + offset


@query(
    "table_change_feed",
    sql=f"""
    SELECT 'delete' AS change_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(0.0 AS DOUBLE) AS sum_value
    FROM events
    WHERE event_id % {FEED_DELETE_MOD} = {FEED_DELETE_REM}
    GROUP BY event_type
    UNION ALL
    SELECT 'update' AS change_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql(f'value + {DELTA_BUMP}')} AS sum_value
    FROM events
    WHERE event_id % {DELTA_MOD} = 0
      AND event_id % {FEED_DELETE_MOD} <> {FEED_DELETE_REM}
    GROUP BY event_type
    UNION ALL
    SELECT 'insert' AS change_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS sum_value
    FROM events
    WHERE event_id % {FEED_DELETE_MOD} = {FEED_INSERT_REM}
    GROUP BY event_type
    """,
    tables=("events",),
    scale_note=(
        "CDC change feed from the versioned table, computed from the "
        "COMMIT'S DELTA FILES ONLY (the files v1 names that v0 does "
        "not) — O(delta) rows read, never an O(table) snapshot diff "
        "(that shape is cdc_snapshot_diff; a lakehouse serves the "
        "feed from the log).  Classification needs one bit of table "
        "state — does the key exist in v0 — obtained by a keyed "
        "left join of the delta against the base's key column; at "
        "100 TB the base side prunes by partition/zone-map on the "
        "delta's key range or a Bloom of delta keys "
        "(join_bloom_prefilter's bitmap, flipped), so the probe "
        "reads key metadata, not the table.  Tombstones classify as "
        "deletes directly; upserts split insert/update on the "
        "existence bit.  The oracle restates the three disjoint "
        "delta-composition channels from the source table."
    ),
)
def table_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(change_type, event_type) feed summary for the v0→v1 commit
    of a versioned events table whose delta carries updates, deletes
    (tombstones), and freshly-minted inserts."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh("events_feed")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    is_del = F.col("event_id") % FEED_DELETE_MOD == FEED_DELETE_REM
    base = e.select(*cols, F.lit("upsert").alias("op"))
    tombstones = (
        e.filter(is_del)
        .withColumn("value", F.lit(None).cast("double"))
        .select(*cols, F.lit("delete").alias("op"))
    )
    updates = (
        e.filter((F.col("event_id") % DELTA_MOD == 0) & ~is_del)
        .withColumn("value", F.col("value") + F.lit(DELTA_BUMP))
        .select(*cols, F.lit("upsert").alias("op"))
    )
    inserts = (
        e.filter(F.col("event_id") % FEED_DELETE_MOD == FEED_INSERT_REM)
        .withColumn("event_id", F.col("event_id") + F.lit(FEED_INSERT_OFFSET))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .select(*cols, F.lit("upsert").alias("op"))
    )
    delta = tombstones.unionByName(updates).unionByName(inserts)
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(root, "delta1"))
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    commit_next(man_dir, ["base"])
    commit_next(man_dir, ["base", "delta1"])

    # Feed = delta files named by v1 but not v0 (manifest set diff).
    v0_files = set(manifest_files(root, 0))
    feed_files = [f for f in manifest_files(root, 1) if f not in v0_files]
    feed = spark.read.schema(delta.schema).parquet(
        *[os.path.join(root, f) for f in feed_files]
    )
    base_keys = (
        spark.read.schema(base.schema)
        .parquet(os.path.join(root, "base"))
        .select(F.col("event_id").alias("bk"), F.lit(1).alias("in_base"))
    )
    classified = (
        feed.join(base_keys, feed.event_id == base_keys.bk, "left")
        .withColumn(
            "change_type",
            F.when(F.col("op") == "delete", F.lit("delete"))
            .when(F.col("in_base") == 1, F.lit("update"))
            .otherwise(F.lit("insert")),
        )
    )
    out = (
        classified.groupBy("change_type", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(dsum("value"), F.lit(0.0)).alias("sum_value"),
        )
        .collect()
    )
    return local_frame(
        spark,
        out,
        "change_type string, event_type string, n bigint, sum_value double",
    )


@query(
    "table_vacuum_versioned",
    sql=f"""
    WITH resolved AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {dsum_sql(f"CASE WHEN event_id % {DELTA_MOD} = 0"
                         f" THEN value + {DELTA_BUMP} ELSE value END")}
                   AS sum_value
        FROM events
    )
    SELECT 'before' AS phase, CAST(3 AS INT) AS n_manifests,
           CAST(3 AS INT) AS n_data_dirs, n_rows, sum_value
    FROM resolved
    UNION ALL
    SELECT 'after' AS phase, CAST(1 AS INT) AS n_manifests,
           CAST(1 AS INT) AS n_data_dirs, n_rows, sum_value
    FROM resolved
    """,
    tables=("events",),
    scale_note=(
        "Lakehouse MAINTENANCE, final step of the lifecycle (commit → "
        "time travel → compact → VACUUM): once a retention policy "
        "expires versions v0/v1, the live file set is the union of "
        "files named by RETAINED manifests only; everything else — "
        "data dirs AND expired manifests — is reclaimed.  Vacuum "
        "cost is a metadata scan (manifest union) plus deletes, never "
        "a data read; the safety argument is the set-union over "
        "retained manifests, so a file shared by a retained and an "
        "expired version survives by construction.  The oracle pins "
        "the invariant that matters: the youngest version resolves "
        "IDENTICALLY before and after vacuum (same rows, same exact "
        "decimal sum), while the file/manifest counts drop 3→1."
    ),
)
def table_vacuum_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum the 3-version chain (base, merge-on-read, compacted)
    with a keep-latest-only retention and prove v2 is untouched."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh("events_vacuum")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = e.select(*cols, F.lit(0).alias("commit"))
    delta = (
        e.filter(F.col("event_id") % DELTA_MOD == 0)
        .withColumn("value", F.col("value") + F.lit(DELTA_BUMP))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
        .select(*cols, F.lit(1).alias("commit"))
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(root, "delta1"))
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    commit_next(man_dir, ["base"])
    commit_next(man_dir, ["base", "delta1"])

    resolved_v1 = read_as_of(spark, root, 1, base.schema)
    resolved_v1.write.mode("overwrite").parquet(
        os.path.join(root, "compact2")
    )
    commit_next(man_dir, ["compact2"])

    def stats(phase: str):
        manifests = sorted(
            f for f in os.listdir(man_dir) if f.endswith(".json")
        )
        data_dirs = sorted(
            d for d in os.listdir(root) if d != "_manifests"
        )
        snap = read_as_of(spark, root, newest_version(root), base.schema)
        row = snap.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum("value").alias("sum_value"),
        ).collect()[0]
        return (
            phase,
            len(manifests),
            len(data_dirs),
            row["n_rows"],
            row["sum_value"],
        )

    rows = [stats("before")]

    # VACUUM: retention = keep only the newest version.  Live files =
    # union over retained manifests; expired manifests and orphaned
    # data dirs are deleted.
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(man_dir)
        if f.startswith("v") and f.endswith(".json")
    )
    retained = {versions[-1]}
    live: set[str] = set()
    for v in retained:
        live |= set(manifest_files(root, v))
    for v in versions:
        if v not in retained:
            os.unlink(os.path.join(man_dir, f"v{v}.json"))
    for d in os.listdir(root):
        if d != "_manifests" and d not in live:
            shutil.rmtree(os.path.join(root, d))

    rows.append(stats("after"))
    return local_frame(
        spark,
        rows,
        "phase string, n_manifests int, n_data_dirs int, "
        "n_rows bigint, sum_value double",
    )


# Clone-side delta rule (disjoint from the source's DELTA_MOD rule so
# divergence is visible in the sums).
CLONE_MOD = 7
CLONE_BUMP = 25.0


@query(
    "table_clone_shallow",
    sql=f"""
    WITH src AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {dsum_sql(f"CASE WHEN event_id % {DELTA_MOD} = 0"
                         f" THEN value + {DELTA_BUMP} ELSE value END")}
                   AS sum_value
        FROM events
    ), cl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {dsum_sql(
                   f"CASE WHEN event_id % {CLONE_MOD} = 0"
                   f" THEN (CASE WHEN event_id % {DELTA_MOD} = 0"
                   f"       THEN value + {DELTA_BUMP} ELSE value END)"
                   f"      + {CLONE_BUMP}"
                   f" WHEN event_id % {DELTA_MOD} = 0"
                   f" THEN value + {DELTA_BUMP} ELSE value END")}
                   AS sum_value
        FROM events
    )
    SELECT 'source_after_clone_write' AS snapshot, n_rows, sum_value,
           CAST(0 AS INT) AS n_new_data_dirs FROM src
    UNION ALL
    SELECT 'clone_evolved' AS snapshot, n_rows, sum_value,
           CAST(1 AS INT) AS n_new_data_dirs FROM cl
    """,
    tables=("events",),
    scale_note=(
        "Zero-copy SHALLOW CLONE (Delta's CLONE, Iceberg's snapshot "
        "ref): the clone is a new manifest chain whose entries point "
        "at the SOURCE's data files — metadata-sized regardless of "
        "table size, no data movement.  Writes to the clone append "
        "clone-local files + manifests; the source chain is never "
        "touched, so the two tables evolve independently while "
        "sharing history bytes (the oracle pins both: the source "
        "still resolves to its pre-clone state after the clone has "
        "written, and the clone's new commit layers its own delta on "
        "the shared base).  Vacuum safety across clones needs "
        "cross-table reference counting — exactly why production "
        "formats gate vacuum on a retention window."
    ),
)
def table_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone the 2-commit versioned table by manifest copy (shared
    data files), write a clone-only delta, and prove independent
    evolution with per-table resolved stats."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh("events_clone")
    src_root = os.path.join(root, "src")
    clone_root = os.path.join(root, "clone")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = e.select(*cols, F.lit(0).alias("commit"))
    delta = (
        e.filter(F.col("event_id") % DELTA_MOD == 0)
        .withColumn("value", F.col("value") + F.lit(DELTA_BUMP))
        .select(*cols, F.lit(1).alias("commit"))
    )
    base.write.mode("overwrite").parquet(os.path.join(src_root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(src_root, "delta1"))
    src_man = os.path.join(src_root, "_manifests")
    os.makedirs(src_man, exist_ok=True)
    commit_next(src_man, ["base"])
    commit_next(src_man, ["base", "delta1"])

    # SHALLOW CLONE: copy the manifest chain only; entries point back
    # into the source root via relative paths.  No data bytes move.
    clone_man = os.path.join(clone_root, "_manifests")
    os.makedirs(clone_man, exist_ok=True)
    for f in sorted(os.listdir(src_man)):
        with open(os.path.join(src_man, f)) as fh:
            man = json.load(fh)
        commit_version(
            clone_man,
            man["version"],
            [os.path.join("..", "src", p) for p in man["files"]],
        )

    # Snapshot both roots' data-dir sets at the clone point: the
    # zero-copy proof below reports dirs ADDED after this point.
    def data_dirs(table_root: str) -> set[str]:
        return {
            d for d in os.listdir(table_root) if d != "_manifests"
        }

    dirs_at_clone = {
        src_root: data_dirs(src_root),
        clone_root: data_dirs(clone_root),
    }

    # Clone-only evolution: a commit-2 delta written into the CLONE
    # root; the source chain is untouched.
    clone_delta = (
        e.filter(F.col("event_id") % CLONE_MOD == 0)
        .withColumn(
            "value",
            F.when(
                F.col("event_id") % DELTA_MOD == 0,
                F.col("value") + F.lit(DELTA_BUMP),
            ).otherwise(F.col("value"))
            + F.lit(CLONE_BUMP),
        )
        .select(*cols, F.lit(2).alias("commit"))
    )
    clone_delta.write.mode("overwrite").parquet(
        os.path.join(clone_root, "delta2")
    )
    commit_next(clone_man, ["..%ssrc%sbase" % (os.sep, os.sep),
                            "..%ssrc%sdelta1" % (os.sep, os.sep),
                            "delta2"])

    rows = []
    for name, troot in (
        ("source_after_clone_write", src_root),
        ("clone_evolved", clone_root),
    ):
        snap = read_as_of(spark, troot, newest_version(troot), base.schema)
        r = snap.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum("value").alias("sum_value"),
        ).collect()[0]
        n_new = len(data_dirs(troot) - dirs_at_clone[troot])
        rows.append((name, r["n_rows"], r["sum_value"], n_new))
    return local_frame(
        spark,
        rows,
        "snapshot string, n_rows bigint, sum_value double, "
        "n_new_data_dirs int",
    )


# ---- table statistics collection (round 7) ---------------------------
# ANALYZE TABLE in miniature: the per-column statistics a cost-based
# optimizer plans from (row count, null count, exact NDV, min/max,
# average length) computed in ONE pass over the table and emitted as a
# stats row per column — the artifact engines persist to choose
# broadcast vs shuffle joins and estimate selectivity.  Everything is
# exact integers / strings; no sampling, no sketches (the sketch
# versions are agg_hll_sketch / agg_kmv_distinct — this is the exact
# planning-stats pass a nightly ANALYZE job runs).
_ANALYZE_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderkey")


@query(
    "table_analyze_stats",
    sql="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val,
           CAST(SUM(len(CAST(o_custkey AS VARCHAR))) AS BIGINT)
               AS total_len
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR),
           CAST(SUM(len(o_orderstatus)) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR),
           CAST(SUM(len(o_orderpriority)) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(MIN(o_orderkey) AS VARCHAR),
           CAST(MAX(o_orderkey) AS VARCHAR),
           CAST(SUM(len(CAST(o_orderkey AS VARCHAR))) AS BIGINT)
    FROM orders
    """,
    tables=("orders",),
    scale_note=(
        "The nightly ANALYZE pass: per-column (rows, nulls, exact "
        "NDV, min/max, total length) — Spark computes all columns in "
        "one unpivoted scan (explode over the column set, then one "
        "two-phase agg keyed by column name; NDV is count_distinct "
        "inside the same agg, i.e. one expand + shuffle keyed by "
        "(column, value) — the standard exact-NDV plan).  Output is "
        "columns-sized.  At 100 TB a real deployment samples or "
        "swaps NDV to the registered HLL/KMV sketches; the stats "
        "SHAPE and its consumers (broadcast-vs-shuffle choice, "
        "selectivity estimates) are what this key certifies."
    ),
)
def table_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact planning statistics (rows/nulls/NDV/min/max/total length)
    for four orders columns, one row per column."""
    o = load(spark, sf_dir, "orders")
    # One aggregation over the base table computes every column's
    # stats on NATIVE types (min/max before any stringify — a string
    # max of "99" vs 149 is the classic ANALYZE bug), then the 1-row
    # result unpivots to columns-sized output.
    aggs = []
    for c in _ANALYZE_COLS:
        aggs += [
            F.count("*").cast("bigint").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nn"),
            F.count_distinct(c).cast("bigint").alias(f"{c}__ndv"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.sum(F.length(F.col(c).cast("string")))
            .cast("bigint")
            .alias(f"{c}__len"),
        ]
    one = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__ndv, {c}__min, {c}__max, {c}__len"
        for c in _ANALYZE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_ANALYZE_COLS)}, {stack}) AS "
            "(column_name, n_rows, n_nulls, ndv, min_val, max_val, "
            "total_len)"
        )
    )


# ---- RESTORE to an earlier version (round-7 continuation) -------------
# The missing lifecycle verb beside time-travel/compact/vacuum/clone:
# RESTORE VERSION AS OF — roll the table back to a prior snapshot by
# committing a NEW manifest that references the old version's file
# set.  Restore is metadata-only (zero data files rewritten — the
# Delta/Iceberg semantics): history is preserved (the bad version
# stays readable), and the restored head resolves identically to the
# restored-to version.


@query(
    "table_restore_version",
    sql=f"""
    SELECT 0 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql('value')} AS sum_value,
           CAST(0 AS BIGINT) AS n_from_delta
    FROM events
    UNION ALL
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql(f"CASE WHEN event_id % {DELTA_MOD} = 0"
                     f" THEN value + {DELTA_BUMP} ELSE value END")}
               AS sum_value,
           CAST(SUM(CASE WHEN event_id % {DELTA_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta
    FROM events
    UNION ALL
    SELECT 2 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql('value')} AS sum_value,
           CAST(0 AS BIGINT) AS n_from_delta
    FROM events
    """,
    tables=("events",),
    scale_note=(
        "RESTORE VERSION AS OF: commit a NEW manifest whose file "
        "list is the restored-to version's — metadata-sized work "
        "regardless of table size, zero data files rewritten, and "
        "the rolled-back version stays readable (history preserved, "
        "the Delta/Iceberg contract).  The oracle recomputes v0/v1 "
        "from source and states v2 == v0, proving the restore "
        "resolves byte-identically through the same merge-on-read "
        "reader as every other versioned key."
    ),
)
def table_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-commit versioned table: base, bad delta, then RESTORE to
    v0 as v2 (metadata-only rollback); per-version resolved stats."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh("events_restore")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = e.select(*cols, F.lit(0).alias("commit"))
    delta = (
        e.filter(F.col("event_id") % DELTA_MOD == 0)
        .withColumn("value", F.col("value") + F.lit(DELTA_BUMP))
        .select(*cols, F.lit(1).alias("commit"))
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(root, "delta1"))
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    # v2 IS the restore: same file set as v0, committed as new history.
    for files in (["base"], ["base", "delta1"], ["base"]):
        commit_next(man_dir, files)

    rows = []
    for v in (0, 1, 2):
        snap = read_as_of(spark, root, v, base.schema)
        rows.append(
            snap.agg(
                F.count("*").cast("bigint").alias("n_rows"),
                dsum("value").alias("sum_value"),
                F.sum("commit").cast("bigint").alias("n_from_delta"),
            )
            .select(F.lit(v).alias("version"), "*")
            .collect()[0]
        )
    return local_frame(
        spark,
        rows,
        "version int, n_rows bigint, sum_value double, n_from_delta bigint",
    )


# ---- schema evolution ACROSS commits (round-7 continuation) -----------
# scan_schema_evolution proves mergeSchema over two plain directories;
# this key proves it through the VERSIONED reader: commit 1 appends
# rows carrying a NEW column (score_cents), and the merge-on-read
# resolve must (a) surface the column with NULLs for pre-evolution
# rows, (b) leave v0 reads untouched — the add-a-column migration
# every lakehouse table eventually performs.


@query(
    "table_schema_evolution_versioned",
    sql=f"""
    SELECT 0 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_scored,
           CAST(0 AS BIGINT) AS sum_score_cents
    FROM events
    UNION ALL
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_id % {DELTA_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN event_id % {DELTA_MOD} = 0
                         THEN CAST(floor(value * 100) AS BIGINT) + 1000
                         ELSE 0 END) AS BIGINT) AS sum_score_cents
    FROM events
    """,
    tables=("events",),
    scale_note=(
        "Add-a-column migration through the versioned merge-on-read "
        "reader: the evolved commit's files carry the new column, "
        "mergeSchema resolves base rows to NULL, and v0 stays "
        "byte-identical (history untouched) — commit cost is still "
        "delta + manifest, no base rewrite.  The oracle recomputes "
        "both versions' stats from source, proving the NULL-fill "
        "and the keep-highest-commit resolve compose."
    ),
)
def table_schema_evolution_versioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-commit versioned table where commit 1 ADDS a column;
    per-version row/score stats read through mergeSchema."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh("events_evolve")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = e.select(*cols, F.lit(0).alias("commit"))
    delta = (
        e.filter(F.col("event_id") % DELTA_MOD == 0)
        .withColumn(
            "score_cents",
            F.floor(F.col("value") * 100).cast("bigint") + 1000,
        )
        .select(*cols, "score_cents", F.lit(1).alias("commit"))
    )
    base.write.mode("overwrite").parquet(os.path.join(root, "base"))
    delta.write.mode("overwrite").parquet(os.path.join(root, "delta1"))
    man_dir = os.path.join(root, "_manifests")
    os.makedirs(man_dir, exist_ok=True)
    for files in (["base"], ["base", "delta1"]):
        commit_next(man_dir, files)

    rows = []
    # Each version reads with the schema of the newest writer it names:
    # v0 never saw score_cents; v1's base rows read it as NULL.
    for v, schema in ((0, base.schema), (1, delta.schema)):
        snap = read_as_of(spark, root, v, schema)
        has_score = "score_cents" in snap.columns
        score = (
            F.col("score_cents") if has_score else F.lit(None).cast("bigint")
        )
        rows.append(
            snap.agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.count(score).cast("bigint").alias("n_scored"),
                F.coalesce(F.sum(score), F.lit(0))
                .cast("bigint")
                .alias("sum_score_cents"),
            )
            .select(F.lit(v).alias("version"), "*")
            .collect()[0]
        )
    return local_frame(
        spark,
        rows,
        "version int, n_rows bigint, n_scored bigint, sum_score_cents bigint",
    )
