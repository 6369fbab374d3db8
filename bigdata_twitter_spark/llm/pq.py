"""Product quantization (PQ) with asymmetric-distance (ADC) top-k
search — the memory-bounded ANN serving path (SURVEY.md §2.N extras;
reference checkout empty — §0.1; design from the public PQ literature:
Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

The engine decomposition: a D=64 vector splits into M=8 contiguous
8-dim subspaces; each subspace is quantized to one of K=16 codewords,
so a vector's PQ code is 8 nibbles (4 bytes vs 256 — the 64× storage
collapse that makes a 100-TB embedding corpus RAM-resident).  Query
time never reconstructs vectors: a per-query LOOKUP TABLE of
query-to-codeword distances (M×K = 128 entries) is broadcast, and a
corpus vector's approximate distance is the sum of 8 table lookups —
the ADC estimate.

Hash-grade determinism: every element is int-scaled once
(``floor(x·10⁶ + 0.5)`` — the quantize.py rounding convention), after
which codeword assignment, the LUT, ADC sums, and the returned
``exact_dist`` audit column are EXACT bigint arithmetic end to end —
no float ever accumulates, so assignment ties (broken toward the
lowest codeword id) and result ranking (adc asc, vec_id asc) are
engine-deterministic at any partitioning.

Codebook provenance: the K codewords per subspace are the sub-vectors
of the K lowest-vec_id rows — a deterministic training STAND-IN (a
production pipeline would k-means each subspace exactly as
cluster_kmeans_lloyd does corpus-wide; the search-side plumbing —
encode join, LUT broadcast, ADC sum, two-level top-k — is identical
for any codebook, which is what this key certifies).  ann_recall_eval
is the registered acceptance gate for any learned codebook swap.

Build/serve split (round 14, VERDICT r13 "Next round" #2): the
codebook AND the encoded corpus (the PQ code table — vec_id → M
codes, the expensive corpus×M×K assignment pass) are persisted
through the :mod:`annindex` versioned-artifact substrate (fingerprint
-keyed root, unique staging dirs, CAS manifests) under the ``pq``
family.  A query call READS the committed codebook/codes parquet and
never re-trains or re-encodes; staleness falls out of the fingerprint
key exactly as for the flat IVF index.  At 100 TB this turns every
query batch from one full-corpus encode into a broadcast-LUT join
against a 4-byte-per-vector code table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import obs
from ..registry import query
from ..tables import load
from .annindex import ensure_versioned_artifact
from .vectors import DIMS

PQ_M = 8              # subspaces
PQ_SUB = DIMS // PQ_M  # dims per subspace
PQ_K = 16             # codewords per subspace
PQ_NQ = 5             # query vectors (ranks 17..21 by vec_id)
PQ_TOPK = 10
PQ_SCALE = 1_000_000  # int scaling: floor(x*1e6 + 0.5)
_TOPK_BUCKETS = 64    # two-level top-k fan-in


def _sqdist_sql(a: str, b: str, dims: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _sqdist(a, b):
    """Exact bigint squared distance between two int-scaled arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _int_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v) with v int-scaled once: floor(x*1e6 + 0.5)."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * PQ_SCALE + 0.5).cast(
                "bigint"
            ),
        ).alias("v"),
    )


def ensure_pq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int, bool, str]:
    """Build-or-reuse the persisted PQ artifact: ``codebook`` (M×K
    codeword rows) + ``codes`` (the encoded corpus, vec_id → one code
    per subspace).  The encode pass — corpus × M×K exact-int distance
    evaluations — runs ONCE per corpus fingerprint; every subsequent
    query reads the committed parquet."""
    iv = _int_vectors(spark, sf_dir)

    def build(data_dir: str):
        seed = (
            iv.orderBy("vec_id")
            .limit(PQ_K + PQ_NQ)
            .withColumn(
                "rn", F.row_number().over(Window.orderBy("vec_id"))
            )
        )
        ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
        cb = (
            seed.filter(F.col("rn") <= PQ_K)
            .crossJoin(F.broadcast(ms))
            .select(
                "m",
                (F.col("rn") - 1).alias("k"),
                F.slice(
                    "v", F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB)
                ).alias("c"),
            )
        )
        cb.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(data_dir, "codebook")
        )
        # Re-read the COMMITTED codebook for the encode join so the
        # codes are derived from exactly the artifact a serve reads.
        cb_p = spark.read.parquet(os.path.join(data_dir, "codebook"))
        sub = iv.crossJoin(F.broadcast(ms)).select(
            "vec_id",
            "m",
            F.slice("v", F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB)).alias(
                "sv"
            ),
        )
        enc = (
            sub.join(F.broadcast(cb_p), "m")
            .select(
                "vec_id",
                "m",
                "k",
                _sqdist(F.col("sv"), F.col("c")).alias("d"),
            )
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "k")).alias("best"))
            .select("vec_id", "m", F.col("best.k").alias("k"))
        )
        enc.write.mode("overwrite").parquet(
            os.path.join(data_dir, "codes")
        )
        return ["codebook", "codes"], {}

    return ensure_versioned_artifact(sf_dir, "pq", build)


@query(
    "embed_pq_adc_topk",
    sql=f"""
    WITH iv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    seed AS (
        SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        FROM iv
    ),
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    cb AS (
        SELECT ms.m, s.rn - 1 AS k,
               list_slice(s.v, ms.m * {PQ_SUB} + 1,
                          ms.m * {PQ_SUB} + {PQ_SUB}) AS c
        FROM seed s JOIN ms ON TRUE
        WHERE s.rn <= {PQ_K}
    ),
    q AS (
        SELECT s.vec_id AS query_id, s.v
        FROM seed s WHERE s.rn BETWEEN {PQ_K + 1} AND {PQ_K + PQ_NQ}
    ),
    sub AS (
        SELECT i.vec_id, ms.m,
               list_slice(i.v, ms.m * {PQ_SUB} + 1,
                          ms.m * {PQ_SUB} + {PQ_SUB}) AS sv
        FROM iv i JOIN ms ON TRUE
    ),
    enc AS (
        SELECT vec_id, m, k FROM (
            SELECT s.vec_id, s.m, c.k,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_sqdist_sql('s.sv', 'c.c', PQ_SUB)}, c.k
                   ) AS r
            FROM sub s JOIN cb c ON c.m = s.m
        ) WHERE r = 1
    ),
    qsub AS (
        SELECT q.query_id, ms.m,
               list_slice(q.v, ms.m * {PQ_SUB} + 1,
                          ms.m * {PQ_SUB} + {PQ_SUB}) AS qv
        FROM q JOIN ms ON TRUE
    ),
    lut AS (
        SELECT qs.query_id, c.m, c.k,
               {_sqdist_sql('qs.qv', 'c.c', PQ_SUB)} AS d
        FROM qsub qs JOIN cb c ON c.m = qs.m
    ),
    adc AS (
        SELECT l.query_id, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
        FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.k
        GROUP BY 1, 2
    ),
    top AS (
        SELECT query_id, vec_id, adc_dist,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_dist, vec_id
               ) AS rnk
        FROM adc
    )
    SELECT t.query_id, CAST(t.rnk AS INT) AS rnk, t.vec_id, t.adc_dist,
           {_sqdist_sql('qv.v', 'xv.v', DIMS)} AS exact_dist
    FROM top t
    JOIN q qv ON qv.query_id = t.query_id
    JOIN iv xv ON xv.vec_id = t.vec_id
    WHERE t.rnk <= {PQ_TOPK}
    """,
    tables=("embeddings",),
    scale_note=(
        "PQ/ADC, the RAM-resident ANN serving plan: codes are M=8 "
        "nibbles per vector (64× smaller than the raw floats), the "
        "per-query LUT is M×K=128 bigints broadcast to every "
        "executor, and the scoring pass is ONE scan of the code "
        "table — a broadcast-hash join on (m, code) plus a two-phase "
        "sum, no shuffle proportional to corpus×queries.  Encoding "
        "is a map-side join against the broadcast codebook (corpus × "
        "M×K candidate rows, all partial-aggregated before any "
        "exchange).  Top-k runs TWO-LEVEL (per-(query, hash-bucket) "
        "row_number over 64 buckets, then a final window over "
        "queries × 64×k rows), so no per-query data-sized partition "
        "exists — the oracle's plain window equals it exactly "
        "because all keys are exact integers.  The 21-row seed "
        "prefix (codebook + queries) comes from a global "
        "TakeOrderedAndProject, never a corpus-wide window.  "
        "exact_dist is an output-sized audit join (k×queries rows).  "
        "Build/serve split (r14): codebook + code table are persisted "
        "versioned artifacts (ensure_pq_index); a query call reads "
        "the committed parquet and NEVER re-trains or re-encodes — "
        "its run record pins the index files the serve plan scans."
    ),
)
def embed_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ANN per query via 8×16 product quantization with
    asymmetric-distance lookup tables, plus the exact int-scaled
    distance of each returned pair as an approximation audit.
    Serves from the persisted PQ artifact — see ensure_pq_index."""
    root, version, rebuilt, data_dir = ensure_pq_index(spark, sf_dir)
    cb_path = os.path.join(data_dir, "codebook")
    codes_path = os.path.join(data_dir, "codes")
    # The never-retrain contract: rebuilt=False plus the parquet paths
    # the serve plan actually reads.
    obs.record(
        "embed_pq_adc_topk",
        op="serve",
        family="pq",
        root=root,
        version=version,
        rebuilt=rebuilt,
        index_files=[cb_path, codes_path],
    )
    cb = spark.read.parquet(cb_path)
    enc = spark.read.parquet(codes_path)

    iv = _int_vectors(spark, sf_dir)
    # Query prefix: ranks 17..21 of the 21 lowest vec_ids (global
    # top-k, never a corpus-wide window); the 21-row window below is
    # constant-sized.
    seed = (
        iv.orderBy("vec_id")
        .limit(PQ_K + PQ_NQ)
        .withColumn("rn", F.row_number().over(Window.orderBy("vec_id")))
    )
    q = seed.filter(
        (F.col("rn") > PQ_K) & (F.col("rn") <= PQ_K + PQ_NQ)
    ).select(F.col("vec_id").alias("query_id"), "v")

    sqdist = _sqdist
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    qsub = q.crossJoin(F.broadcast(ms)).select(
        "query_id",
        "m",
        F.slice("v", F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB)).alias("qv"),
    )
    lut = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "k", sqdist(F.col("qv"), F.col("c")).alias("d")
    )
    adc = (
        enc.join(F.broadcast(lut), ["m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    # Two-level top-k: local k per (query, hash-bucket), then the
    # final window over queries × buckets×k rows only.
    bucketed = adc.withColumn(
        "b", F.pmod(F.col("vec_id"), F.lit(_TOPK_BUCKETS))
    )
    wloc = Window.partitionBy("query_id", "b").orderBy(
        "adc_dist", "vec_id"
    )
    cand = (
        bucketed.withColumn("r", F.row_number().over(wloc))
        .filter(F.col("r") <= PQ_TOPK)
        .drop("b", "r")
    )
    wfin = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    top = (
        cand.withColumn("rnk", F.row_number().over(wfin).cast("int"))
        .filter(F.col("rnk") <= PQ_TOPK)
    )
    qv = q.select("query_id", F.col("v").alias("qvec"))
    xv = iv.select("vec_id", F.col("v").alias("xvec"))
    return (
        top.join(F.broadcast(qv), "query_id")
        .join(xv, "vec_id")
        .select(
            "query_id",
            "rnk",
            "vec_id",
            "adc_dist",
            sqdist(F.col("qvec"), F.col("xvec")).alias("exact_dist"),
        )
    )
