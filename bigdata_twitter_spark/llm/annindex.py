"""ANN index build/serve split (SURVEY.md §2.N, round 13 — VERDICT
r12 "Next round" #5): persist the IVF index as a versioned on-disk
table, then SERVE top-k queries by reading only the probed buckets of
that index — never rescanning or re-clustering the corpus.

Every production ANN deployment splits this way: an expensive offline
BUILD (cluster the corpus, write a re-clustered copy bucketed by
nearest centroid + a tiny codebook) and a cheap online SERVE (rank
codebook centroids against the query, read ~P/K of the index files,
exact-score only those candidates).  The in-repo sim_ivf_topk computes
the same restriction inline each call; these two keys materialize it.

The index layout reuses the lakehouse substrate (sources/versioned.py
commit_next CAS manifests): one immutable data dir per build attempt
(``v{N}-{token}/codebook`` + ``v{N}-{token}/buckets/clabel=X/``) plus
a JSON manifest naming the version's files and a meta file carrying
the staleness pin.  Two disciplines (ADVICE r13 #1/#2):

* **Unique staging dirs.**  Every build attempt writes into its own
  ``v{N}-{token}`` directory and the manifest records that exact
  name, so a CAS loser's cleanup (rmtree of its OWN staging dir) can
  never touch a path any committed manifest names — the
  immutable-unique-data-files discipline of the lakehouse substrate.
* **Content fingerprint, not row count.**  The index root is keyed by
  (corpus path, corpus CONTENT fingerprint — file sizes + mtimes of
  the embeddings parquet), and the meta re-pins the fingerprint.  A
  corpus regenerated in place with the same row count but different
  bytes maps to a DIFFERENT root and rebuilds from v0; a serve can
  never silently answer from an index of a different corpus.

Index definition is llm/ivf.ivf_index — ONE definition shared with
sim_ivf_topk and ann_recall_eval, so the served buckets are exactly
the buckets the recall metric evaluates.

Scale posture: BUILD is one corpus scan (broadcast codebook, map-side
assignment, one shuffle into the partitioned write — sink_partitioned_
parquet's shape).  SERVE touches the KB-sized codebook, ONE point
lookup for the query vector (pushed filter), and the P probed bucket
directories listed EXPLICITLY in the read path — reading a non-probed
bucket is physically impossible, not merely pruned; the run record
(``obs.last("ann_index_search")``) lists the probed dirs so tests pin
that.  At 100 TB the build is the
nightly job and serve cost is independent of corpus growth except
through bucket size (K scales with sqrt(N) like the kmeans two-tier).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import obs
from ..registry import query
from ..tables import load, local_frame
from ..sources.versioned import CommitConflict, commit_version
from .ivf import _CENTROID_SQL, ivf_index
from .vectors import duck_cosine, spark_cosine

ANN_PROBES = 3
ANN_TOP_K = 12
ANN_QUERY_ID = 7

INDEX_BASE = "/tmp/bdt_spark_ann_index"
_KEEP_ROOTS = 8  # newest index roots kept; older corpora reclaimed


def _path_digest(sf_dir: str) -> str:
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def _corpus_fingerprint(sf_dir: str) -> str:
    """Content pin for the embeddings corpus: md5 over the sorted
    (relative path, size, mtime_ns) of every file under the parquet
    path.  Pure filesystem metadata — no data scan — yet any in-place
    regeneration (same row count, different bytes) changes it."""
    target = os.path.join(sf_dir, "embeddings.parquet")
    entries = []
    if os.path.isdir(target):
        for dirpath, _dirs, files in os.walk(target):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, target), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(target):
        st = os.stat(target)
        entries.append((os.path.basename(target), st.st_size, st.st_mtime_ns))
    entries.sort()
    return hashlib.md5(repr(entries).encode()).hexdigest()[:16]


def _index_root(sf_dir: str, fingerprint: str) -> str:
    """Index root keyed by (path, content fingerprint): a regenerated
    corpus at the same path maps to a fresh root and rebuilds from v0
    — staleness is structural, not a mutable-pin comparison."""
    return os.path.join(
        INDEX_BASE, f"{_path_digest(sf_dir)}-{fingerprint}"
    )


def _reclaim_old_roots(current_root: str) -> None:
    if not os.path.isdir(INDEX_BASE):
        return
    roots = [
        os.path.join(INDEX_BASE, d)
        for d in os.listdir(INDEX_BASE)
        if os.path.isdir(os.path.join(INDEX_BASE, d))
        and os.path.join(INDEX_BASE, d) != current_root
    ]
    roots.sort(key=os.path.getmtime, reverse=True)
    for stale in roots[_KEEP_ROOTS - 1 :]:
        shutil.rmtree(stale, ignore_errors=True)


def _latest_manifest(man_dir: str) -> dict | None:
    if not os.path.isdir(man_dir):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(man_dir)
        if f.startswith("v") and f.endswith(".json")
    ]
    if not versions:
        return None
    with open(os.path.join(man_dir, f"v{max(versions)}.json")) as fh:
        return json.load(fh)


def _read_meta(root: str, manifest: dict) -> dict:
    meta_rel = next(f for f in manifest["files"] if f.endswith("meta.json"))
    with open(os.path.join(root, meta_rel)) as fh:
        return json.load(fh)


def _manifest_data_dir(base: str, manifest: dict) -> str:
    """The unique data dir a committed manifest names (its files all
    share one ``v{N}-{token}`` prefix)."""
    return os.path.join(base, manifest["files"][0].split("/", 1)[0])


def ensure_versioned_artifact(
    sf_dir: str,
    family: str,
    build_fn,
) -> tuple[str, int, bool, str]:
    """Build-or-reuse a persisted, versioned, fingerprint-pinned
    artifact derived from the embeddings corpus.

    ``family`` selects a sibling artifact under the shared
    fingerprint-keyed root ("" = the flat IVF index at the top level;
    "pq"/"ivfpq" = the quantized codebook+codes artifacts).
    ``build_fn(data_dir) -> (files, meta_extra)`` writes the artifact
    parts into the unique staging dir and returns the relative part
    names to record in the manifest plus any extra meta fields.

    Returns ``(root, version, rebuilt, data_dir)``.  Freshness pin:
    the root is keyed by the corpus CONTENT fingerprint (file sizes +
    mtimes), and the committed meta re-pins that fingerprint — a
    corpus regenerated in place maps to a different root and rebuilds
    from v0.  Every build attempt stages into its own unique
    ``v{N}-{token}`` dir recorded in the manifest; a CAS loser removes
    only ITS OWN staging dir and adopts the winner's committed
    artifact (no rmtree can ever name a committed manifest's data).
    """
    fingerprint = _corpus_fingerprint(sf_dir)
    root = _index_root(sf_dir, fingerprint)
    base = os.path.join(root, family) if family else root
    man_dir = os.path.join(base, "manifests")
    os.makedirs(man_dir, exist_ok=True)
    _reclaim_old_roots(root)

    manifest = _latest_manifest(man_dir)
    if manifest is not None:
        meta = _read_meta(base, manifest)
        if meta.get("fingerprint") == fingerprint:
            return (
                root,
                manifest["version"],
                False,
                _manifest_data_dir(base, manifest),
            )

    while True:
        existing = [
            int(f[1:-5].split("-", 1)[0])
            for f in os.listdir(man_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        version = (max(existing) + 1) if existing else 0
        data_name = f"v{version}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(base, data_name)

        parts, meta_extra = build_fn(data_dir)
        with open(os.path.join(data_dir, "meta.json"), "w") as fh:
            json.dump(
                {
                    "version": version,
                    "fingerprint": fingerprint,
                    **meta_extra,
                },
                fh,
            )

        files = [f"{data_name}/meta.json"]
        files += [f"{data_name}/{p}" for p in parts]
        try:
            commit_version(man_dir, version, files)
            return root, version, True, data_dir
        except CommitConflict:
            # A concurrent builder won the slot: drop OUR unique
            # staging dir (no committed manifest can name it), adopt
            # the winner's artifact if fresh, else retry at N+1.
            shutil.rmtree(data_dir, ignore_errors=True)
            manifest = _latest_manifest(man_dir)
            if manifest is not None:
                meta = _read_meta(base, manifest)
                if meta.get("fingerprint") == fingerprint:
                    return (
                        root,
                        manifest["version"],
                        False,
                        _manifest_data_dir(base, manifest),
                    )


def ensure_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int, bool, str]:
    """Build the flat IVF index for ``sf_dir`` if absent or stale
    (see :func:`ensure_versioned_artifact` for the commit protocol)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def build(data_dir: str):
        n_vectors = e.count()
        cvec, assign = ivf_index(e)
        cvec.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(data_dir, "codebook")
        )
        (
            e.join(assign, "vec_id")
            .select("clabel", "vec_id", "label", "embedding")
            .repartition("clabel")
            .write.mode("overwrite")
            .partitionBy("clabel")
            .parquet(os.path.join(data_dir, "buckets"))
        )
        parts = ["codebook"]
        parts += [
            f"buckets/{d}"
            for d in sorted(os.listdir(os.path.join(data_dir, "buckets")))
            if d.startswith("clabel=")
        ]
        return parts, {"n_vectors": n_vectors}

    return ensure_versioned_artifact(sf_dir, "", build)


@query(
    "ann_index_build",
    sql=f"""
    WITH {_CENTROID_SQL},
    assign AS (
        SELECT vec_id, clabel FROM (
            SELECT e.vec_id, cl.clabel,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_cosine('e.embedding', 'cl.cvec')} DESC,
                                cl.clabel) AS rnk
            FROM embeddings e, cl
        ) WHERE rnk = 1
    )
    SELECT clabel, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(vec_id) AS BIGINT) AS vec_id_sum
    FROM assign GROUP BY 1
    """,
    tables=("embeddings",),
    scale_note=(
        "The offline half of the ANN build/serve split: one corpus "
        "scan (broadcast codebook -> map-side nearest-centroid "
        "assignment -> rank window on vec_id), then a partitioned "
        "write CLUSTERED BY bucket (sink_partitioned_parquet's "
        "shape) plus a KB-sized codebook and a CAS-committed "
        "manifest (the versioned-table substrate).  Idempotent: a "
        "fresh index at this corpus fingerprint is reused, never "
        "rebuilt, so repeated builds cost one footer-metadata count. "
        "Output is the bucket-size audit (K rows, aggregate-sized) "
        "read back FROM THE INDEX FILES — verifying what was "
        "persisted, not what was computed.  The persisted version "
        "number is deliberately NOT in the certified output (it "
        "depends on /tmp index-root history, not on the data); tests "
        "pin it through the run record instead."
    ),
)
def ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or reuse) the persisted IVF index; return the
    per-bucket audit summary (clabel, n_vectors, vec_id_sum) read
    back from the index files."""
    root, version, rebuilt, data_dir = ensure_index(spark, sf_dir)
    buckets_dir = os.path.join(data_dir, "buckets")
    bucket_dirs = (
        sorted(
            os.path.join(buckets_dir, d)
            for d in os.listdir(buckets_dir)
            if d.startswith("clabel=")
        )
        if os.path.isdir(buckets_dir)
        else []
    )
    obs.record(
        "ann_index_build",
        op="build",
        root=root,
        version=version,
        rebuilt=rebuilt,
        bucket_dirs=bucket_dirs,
    )
    # Nullability mirrors the non-empty plan exactly (count/lit are
    # non-nullable) so the empty-corpus schema is bit-identical.
    schema = StructType(
        [
            StructField("clabel", IntegerType(), True),
            StructField("n_vectors", LongType(), False),
            StructField("vec_id_sum", LongType(), True),
        ]
    )
    if not bucket_dirs:  # empty corpus: no bucket files were written
        return local_frame(spark, [], schema)
    return (
        spark.read.option("basePath", buckets_dir)
        .parquet(*bucket_dirs)
        .groupBy("clabel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("vec_id_sum"),
        )
        .select(
            F.col("clabel").cast("int").alias("clabel"),
            "n_vectors",
            "vec_id_sum",
        )
    )


@query(
    "ann_index_search",
    sql=f"""
    WITH {_CENTROID_SQL},
    assign AS (
        SELECT vec_id, clabel FROM (
            SELECT e.vec_id, cl.clabel,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_cosine('e.embedding', 'cl.cvec')} DESC,
                                cl.clabel) AS rnk
            FROM embeddings e, cl
        ) WHERE rnk = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings
          WHERE vec_id = {ANN_QUERY_ID}),
    probes AS (
        SELECT clabel FROM (
            SELECT cl.clabel,
                   row_number() OVER (
                       ORDER BY {duck_cosine('q.qv', 'cl.cvec')} DESC,
                                cl.clabel) AS rnk
            FROM cl, q
        ) WHERE rnk <= {ANN_PROBES}
    )
    SELECT e.vec_id, e.label,
           {duck_cosine('e.embedding', 'q.qv')} AS cosine
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN probes p ON p.clabel = a.clabel
    CROSS JOIN q
    WHERE e.vec_id <> {ANN_QUERY_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {ANN_TOP_K}
    """,
    tables=("embeddings",),
    scale_note=(
        "The online half: serve top-k FROM THE PERSISTED INDEX.  "
        "Reads the KB codebook, ranks centroids against the query "
        "vector (one pushed-filter point lookup), then reads ONLY "
        "the probed bucket directories — they are passed as explicit "
        "paths, so scanning a non-probed bucket is physically "
        "impossible (stronger than partition pruning; the run record "
        "pins the dirs read).  Exact cosine + TakeOrdered(k) over "
        "~P/K of the index.  Staleness pin: the index root is keyed "
        "by the corpus CONTENT fingerprint (file sizes + mtimes, "
        "re-checked per serve from filesystem metadata) and the "
        "committed meta re-pins it — a corpus regenerated in place "
        "maps to a different root and rebuilds first, so a serve can "
        "never silently answer from an index of a different corpus."
    ),
)
def ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k ANN serving read: probe the P nearest index buckets for
    the query vector, exact-score only those candidates."""
    root, version, rebuilt, data_dir = ensure_index(spark, sf_dir)
    buckets_dir = os.path.join(data_dir, "buckets")

    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("label", IntegerType(), True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    # An empty corpus has an empty index (no buckets dir).
    all_buckets = (
        sorted(d for d in os.listdir(buckets_dir) if d.startswith("clabel="))
        if os.path.isdir(buckets_dir)
        else []
    )
    qrows = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == ANN_QUERY_ID)
        .select("embedding")
        .collect()
        if all_buckets
        else []
    )
    probed: list[str] = []
    if qrows:  # else: query id absent from this corpus
        emb = qrows[0]["embedding"]
        qv = f"array({', '.join(repr(float(x)) for x in emb)})"
        codebook = spark.read.parquet(os.path.join(data_dir, "codebook"))
        probe_rows = (
            codebook.select("clabel", spark_cosine("cvec", qv).alias("q_cos"))
            .orderBy(F.col("q_cos").desc(), "clabel")
            .limit(ANN_PROBES)
            .collect()
        )
        probed = [
            os.path.join(buckets_dir, f"clabel={r['clabel']}")
            for r in probe_rows
            if f"clabel={r['clabel']}" in all_buckets
        ]
    obs.record(
        "ann_index_search",
        op="search",
        root=root,
        version=version,
        rebuilt=rebuilt,
        probed_dirs=probed,
        bucket_dirs_total=len(all_buckets),
    )
    if not probed:
        return local_frame(spark, [], schema)

    cand = spark.read.option("basePath", buckets_dir).parquet(*probed)
    return (
        cand.where(F.col("vec_id") != ANN_QUERY_ID)
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("label").cast("int").alias("label"),
            spark_cosine("embedding", qv).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(ANN_TOP_K)
    )
