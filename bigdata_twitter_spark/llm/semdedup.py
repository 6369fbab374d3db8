"""Semantic dedup via learned clusters (the SemDeDup recipe, Abbas et
al. 2023, arXiv:2303.09540 — public method): restrict the pairwise
similarity search to k-means cluster members instead of LSH buckets,
then apply the keep-first rule within each cluster.

This completes the dedup modality set: exact hash, shingle-Jaccard,
MinHash-LSH, SimHash, containment, SRP-LSH embedding dedup, and
connected-components clustering are the siblings; this one uses
LEARNED structure (cluster_kmeans_lloyd's centroids) rather than a
random hash family, which is what the published semantic-dedup
pipelines actually deploy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import drop_hot_groups, load, persist_fresh
from .kmeans import TARGET_CLUSTER_SIZE, kmeans_assign_cte
from .vectors import PAIR_COSINE_THRESHOLD, duck_cosine

# Hot-cluster cap, the cluster-keyed analog of bucketed.py's
# HOT_BUCKET_CAP: k-means targets ~TARGET_CLUSTER_SIZE occupancy, but
# a degenerate corpus (one tight mode) can still put an unbounded
# member count in one cluster, and the group-local verifier builds
# O(k²) matrices per group — so clusters past the cap are EXCLUDED
# from pair mining (members surface as is_kept=true, n_sem_dups=0),
# never silently: drop_hot_groups records the counts and a warning
# fires, matching the repo's no-silent-caps posture.  The oracle
# applies the identical cap.
CLUSTER_CAP = 20 * TARGET_CLUSTER_SIZE


def _semdedup_oracle_sql() -> str:
    """Hash-grade oracle (round 4, was rows-only): reuse the k-means
    oracle's unrolled fixed-point CTE chain (llm/kmeans.py — the two
    keys verify against the SAME assignment), then restate the
    in-cluster pair mining and keep-first rule.  Flat-regime valid,
    which covers every driver/parity scale; the numpy full-pipeline
    pin in tests/test_weak_ops.py still covers the two-tier regime."""
    return (
        kmeans_assign_cte()
        + f""",
    ok AS (
        SELECT cid FROM fa GROUP BY cid HAVING COUNT(*) <= {CLUSTER_CAP}
    ),
    pr AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM fa a
        JOIN ok ON a.cid = ok.cid
        JOIN fa b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {duck_cosine('a.e', 'b.e')} >= {PAIR_COSINE_THRESHOLD}
    ),
    sym AS (
        SELECT a_id AS vec_id, b_id AS nb FROM pr
        UNION ALL
        SELECT b_id AS vec_id, a_id AS nb FROM pr
    ),
    ng AS (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n, MIN(nb) AS mn
        FROM sym GROUP BY vec_id
    )
    SELECT fa.vec_id, CAST(fa.cid AS INT) AS cluster,
           CAST(COALESCE(ng.n, 0) AS BIGINT) AS n_sem_dups,
           (ng.mn IS NULL OR ng.mn > fa.vec_id) AS is_kept
    FROM fa LEFT JOIN ng ON fa.vec_id = ng.vec_id
    """
    )


@query(
    "dedup_semantic_cluster",
    sql=_semdedup_oracle_sql(),
    tables=("embeddings",),
    scale_note=(
        "SemDeDup shape: pair search bounded to k-means cluster "
        "members — candidates ≈ n²/K for balanced clusters, and K "
        "grows with n in production (K ≈ n/target_cluster_size keeps "
        "candidates ≈ n × target, linear — same argument as the LSH "
        "band-width adaptation in bucketed.py, but with LEARNED "
        "buckets that put paraphrases together far more often than "
        "random hyperplanes). Verification is CLUSTER-LOCAL: each "
        "vector ships once into its cluster group and exact cosines "
        "are computed inside the group by the shared vectorized Arrow "
        "UDF (bucketed.py) — shuffle ∝ n, never ∝ pairs × vector "
        "payload. One groupBy for the keep-first rule; centroids come "
        "from the shared cluster_kmeans_lloyd model pass."
    ),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP/DROP per embedding under cosine ≥ 0.4 within its k-means
    cluster, deterministic keep-first (min vec_id) rule; returns
    (vec_id, cluster, n_sem_dups, is_kept)."""
    # Lazily imported so this module never re-anchors the k-means /
    # bucketed-LSH registry positions.
    from .bucketed import _verify_bucket_capped
    from .kmeans import cluster_kmeans_lloyd

    assign = persist_fresh(
        "semdedup_assign",
        sf_dir,
        cluster_kmeans_lloyd(spark, sf_dir).select("vec_id", "cluster"),
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Hot-cluster cap (the HOT_BUCKET_CAP analog): cluster sizes are a
    # K-row aggregate.
    mine = drop_hot_groups(
        "dedup_semantic_cluster", assign, ["cluster"], CLUSTER_CAP
    )
    # CLUSTER-LOCAL verification (round-4, same fix as bucketed.py):
    # each vector ships once into its cluster group and cosines are
    # computed inside the group — shuffle ∝ n, never ∝ candidate
    # pairs with vector payloads attached per pair.  The cluster cap
    # is ALSO enforced GROUP-LOCALLY by the capped verifier (a >cap
    # group emits no pairs) — defense in depth behind the keep-filter
    # above, and the only enforcement the clean path pays for (no
    # join, no build job; the audit keeps the cap visible).
    pairs = (
        mine.join(emb, "vec_id")
        .groupBy("cluster")
        .applyInPandas(
            _verify_bucket_capped(CLUSTER_CAP),
            schema="a_id long, b_id long, cosine double",
        )
        .select("a_id", "b_id")
    )
    sym = pairs.select(
        F.col("a_id").alias("vec_id"), F.col("b_id").alias("nb")
    ).unionAll(
        pairs.select(F.col("b_id").alias("vec_id"), F.col("a_id").alias("nb"))
    )
    neigh = sym.groupBy("vec_id").agg(
        F.count("*").alias("n_sem_dups"), F.min("nb").alias("mn")
    )
    return (
        assign.join(neigh, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_sem_dups", F.lit(0).cast("bigint")).alias(
                "n_sem_dups"
            ),
            (F.col("mn").isNull() | (F.col("mn") > F.col("vec_id"))).alias(
                "is_kept"
            ),
        )
    )
