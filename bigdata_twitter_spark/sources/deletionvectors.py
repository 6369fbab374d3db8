"""Merge-on-read DELETEs via positional deletion vectors (round 6) —
the lakehouse capability the versioned-table family (time travel /
compact / vacuum / change feed) doesn't yet model: deleting rows
WITHOUT rewriting a single data file.

Delta deletion vectors / Iceberg positional delete files both store
(data_file, row_position) pairs in a sidecar; readers apply them as an
anti-join at scan time, and a later compaction folds them into
rewritten files.  This operator does exactly that on plain parquet
using Spark's ``_metadata`` scan columns:

* base table written once (range-clustered, never touched again);
* DELETE pass scans with ``_metadata.file_path``/``row_index``,
  evaluates the delete predicate, and writes ONLY the matched
  positions as the sidecar (bytes written ∝ deleted rows, not table);
* read path re-scans with the same metadata columns and LEFT-ANTI
  joins the broadcast sidecar — positions are stable because parquet
  row order within a file is immutable.

The run record (``obs.last("table_deletion_vectors")``) holds the
audit a lakehouse user checks: whether the data files present
before/after are identical (nothing rewritten), and sidecar bytes vs
table bytes.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import obs, scratch
from ..registry import query
from ..tables import load

DV_DELETE_MOD = 7
DV_DELETE_RESIDUE = 3
N_DV_FILES = 8


@query(
    "table_deletion_vectors",
    sql=f"""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE NOT (event_id % {DV_DELETE_MOD} = {DV_DELETE_RESIDUE})
    """,
    tables=("events",),
    scale_note=(
        "Positional deletion vectors (Delta DV / Iceberg positional "
        "deletes): a DELETE writes only (file, row_position) pairs to "
        "a sidecar — bytes ∝ deleted rows, data files untouched "
        "(the run record pins identical file sets before/after and "
        "the sidecar/table byte ratio) — and the read path applies them "
        "as a LEFT-ANTI join on the broadcast sidecar against the "
        "_metadata scan columns.  Positions are stable because "
        "parquet row order within an immutable file never changes.  "
        "At 100 TB this is what makes GDPR-style deletes O(deleted) "
        "instead of O(table); compaction (sink_compact_small_files' "
        "shape) later folds vectors into rewritten files.  The oracle "
        "is the plain anti-predicate — equality proves the "
        "sidecar/anti-join loop drops exactly the deleted rows."
    ),
)
def table_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE event_id % 7 == 3 as a positional deletion-vector
    sidecar over an untouched base table; return the merge-on-read
    view."""
    tag = scratch.tag(sf_dir)
    base = scratch.fresh(f"dv_base_{tag}")
    sidecar = scratch.fresh(f"dv_sidecar_{tag}")
    cols = ["event_id", "user_id", "event_type", "value"]
    e = load(spark, sf_dir, "events").select(*cols)
    (
        e.repartitionByRange(N_DV_FILES, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(base)
    )

    def _files() -> list[str]:
        return sorted(glob.glob(os.path.join(base, "*.parquet")))

    files_before = _files()
    meta = spark.read.parquet(base).select(
        *cols,
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    # The DELETE: only matched positions leave the executors.  One
    # sidecar file per commit (coalesce of an O(deleted)-row set) —
    # at scale, shard the sidecar per DATA file instead
    # (repartition("_file")), which is Delta's on-disk DV shape.
    (
        meta.filter(F.col("event_id") % DV_DELETE_MOD == DV_DELETE_RESIDUE)
        .select("_file", "_pos")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(sidecar)
    )
    dv = spark.read.schema("_file string, _pos bigint").parquet(sidecar)
    files_after = _files()
    side_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(sidecar, "*.parquet"))
    )
    base_bytes = sum(os.path.getsize(f) for f in files_before)
    obs.record(
        "table_deletion_vectors",
        data_files_untouched=files_before == files_after,
        n_data_files=len(files_before),
        sidecar_bytes=side_bytes,
        base_bytes=base_bytes,
    )
    # Merge-on-read: anti-join the broadcast sidecar at scan time.
    return (
        spark.read.parquet(base)
        .select(
            *cols,
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
        )
        .join(F.broadcast(dv), ["_file", "_pos"], "left_anti")
        .select(*cols)
    )
