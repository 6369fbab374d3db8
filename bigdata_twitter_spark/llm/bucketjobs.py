"""Bucket-sharded cross-JOB similarity mining (round 6) — the 100-TB
prescription that ``sim_pairs_sharded_jobs``'s scale note names but
round 5 shipped only as prose (VERDICT r5 "Next round" #5).

``sim_pairs_sharded_jobs`` shards by ``vec_id % S``: every vector can
pair with every other, so ALL S(S+1)/2 shard-pair jobs must run — the
job count is quadratic in S.  This module shards by **LSH band-bucket**
instead: a candidate pair exists ONLY inside a single (band, value)
bucket, and every bucket is owned by exactly one shard, so a pair of
DISTINCT shards shares no bucket and is **provably empty — skipped by
construction, not by probing**.  The job loop runs at most S jobs
(minus shards that own no minable bucket), measured linear in S by
``tests/test_round6_ops.py`` against the mod-shard loop's S(S+1)/2.

Relationship to the two round-5 siblings:

* geometry and bucket-local verification are ``sim_pairs_bucketed``'s
  (same nested SRP planes, same adaptive ``bits_for`` width, same
  hot-bucket cap, same Arrow verifier) — one definition, so the job
  loop cannot desynchronize from the single-job miner;
* orchestration (parquet handoff, _SUCCESS-marker resume, failed jobs
  retried alone) is ``sim_pairs_sharded_jobs``'s (llm/orchestration.py)
  — the seam under test is the same, only the shard function changed.

Unlike ``sim_pairs_bucketed`` (rows-only by declared contract), this
key is **hash-grade**: the sign bits are taken on the 6dp-rounded
plane dot (house rounding rule, llm/vectors.py), which lets the DuckDB
oracle restate the ENTIRE pipeline — the plane set as literals, the
adaptive band width as SQL over count(*), bucket formation, the
occupancy window, and exact cosine verification.  The oracle embeds
planes for bit positions < ``ORACLE_BITS_MAX`` only (the driver/parity
scales use r ≤ 3); past that regime the operator fails fast under
declared exact-oracle intent, exactly like ``dedup_embedding``'s guard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import obs, scratch
from ..registry import query
from ..tables import (
    load,
    local_frame,
    log_hot_groups,
    persist_fresh,
    spread,
)
from .bucketed import (
    HOT_BUCKET_CAP,
    PLANES,
    SRP_BANDS,
    SRP_MAX_BITS,
    _plane_dot_sql,
    _verify_bucket_capped,
    bits_for,
)
from .embdedup import EXPECT_EXACT_ORACLE_ENV, ExactOracleRegimeExceeded
from .vectors import DIMS, PAIR_COSINE_THRESHOLD, duck_cosine

BUCKET_JOB_SHARDS = 4  # S — same default as orchestration.N_SHARDS

# The oracle SQL embeds plane literals for bit positions < this bound;
# bits_for picks r ≤ 3 up to n = 2000 vectors, so 6 covers every
# harness scale (sf0.1 = 5000 vectors → r = 5) with headroom.  Past it
# the operator is bench-only (regime guard below).
ORACLE_BITS_MAX = 6


def _band_values_rounded(r: int) -> F.Column:
    """Array of SRP_BANDS packed band values; sign bits taken on the
    6dp-ROUNDED plane dot so the oracle can restate them (the unrounded
    twin is bucketed._band_values — same planes, same nesting)."""
    bands = []
    for b in range(SRP_BANDS):
        bits = [
            f"(CASE WHEN round({_plane_dot_sql(PLANES[b * SRP_MAX_BITS + i])},"
            f" 6) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(r)
        ]
        bands.append(" + ".join(bits))
    return F.expr("array(" + ", ".join(bands) + ")")


def run_bucket_jobs(
    spark: SparkSession, sf_dir: str, run_dir: str, n_shards: int
) -> list[str]:
    """Execute (or RESUME) the bucket-sharded job loop into ``run_dir``;
    returns the job directories that hold output.

    Shard ownership: ``(band * 2^r + bval) % n_shards`` — every bucket
    in exactly one shard, so cross-shard jobs are provably empty and
    never materialize.  A shard owning no minable bucket (occupancy
    outside [2, cap]) is skipped entirely; the skip is recorded under
    ``"sim_pairs_bucket_jobs"`` (with the jobs mod-sharding would have
    run and the jobs this loop ran), never silent.  So are the buckets
    over the hot cap: their count and rows are recorded as
    ``dropped_groups``/``dropped_rows`` and logged, as
    ``tables.drop_hot_groups`` does for the single-job miners.  Resume
    semantics are orchestration.run_shard_jobs's: _SUCCESS-marked jobs
    are skipped, torn jobs overwritten."""
    e = load(spark, sf_dir, "embeddings")
    r = bits_for(e.count())
    if r > ORACLE_BITS_MAX and os.environ.get(EXPECT_EXACT_ORACLE_ENV):
        raise ExactOracleRegimeExceeded(
            f"bits_for(n) = {r} > ORACLE_BITS_MAX={ORACLE_BITS_MAX}: the "
            "registered oracle embeds plane literals only for the first "
            f"{ORACLE_BITS_MAX} bit positions, so it cannot restate this "
            "corpus's band geometry — downgrade to a rows-only check"
        )
    bands = spread(e, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.posexplode(_band_values_rounded(r)).alias("band", "bval")
    )
    # Persisted: consumed by the sizes aggregate AND every job's join.
    bands = persist_fresh("srp_bands_jobs", sf_dir, bands)
    sizes = bands.groupBy("band", "bval").agg(F.count("*").alias("occ"))
    # Buckets with ≥2 members and their owning shard; those over the
    # hot cap stay in, flagged, so the one summary read below also
    # counts what the cap drops.
    minable = sizes.filter(F.col("occ") >= 2).select(
        "band",
        "bval",
        "occ",
        (F.col("occ") > HOT_BUCKET_CAP).alias("hot"),
        ((F.col("band") * (1 << r) + F.col("bval")) % n_shards).alias("shard"),
    )
    minable = persist_fresh("srp_minable_jobs", sf_dir, minable)
    # ≤ 2 × n_shards rows — metadata-sized driver read.
    summary = (
        minable.groupBy("shard", "hot")
        .agg(F.count("*").alias("groups"), F.sum("occ").alias("rows"))
        .collect()
    )
    live = sorted(row["shard"] for row in summary if not row["hot"])
    dropped_groups = sum(row["groups"] for row in summary if row["hot"])
    dropped_rows = sum(row["rows"] for row in summary if row["hot"])
    if dropped_groups:
        log_hot_groups(
            "sim_pairs_bucket_jobs",
            HOT_BUCKET_CAP,
            dropped_groups,
            dropped_rows,
        )
    vecs = e.select("vec_id", "embedding")
    job_dirs: list[str] = []
    for s in live:
        job_dir = os.path.join(run_dir, f"job_{s}")
        job_dirs.append(job_dir)
        if os.path.exists(os.path.join(job_dir, "_SUCCESS")):
            continue  # completed job: never recomputed
        keep = minable.filter((F.col("shard") == s) & ~F.col("hot")).select(
            "band", "bval"
        )
        rows = bands.join(F.broadcast(keep), ["band", "bval"]).join(
            vecs, "vec_id"
        )
        # Groups are pre-capped by the ``hot`` flag above, so the
        # verifier's group-local cap never fires here; built at call
        # time so a monkeypatched cap stays consistent with the filter.
        pairs = rows.groupBy("band", "bval").applyInPandas(
            _verify_bucket_capped(HOT_BUCKET_CAP),
            schema="a_id long, b_id long, cosine double",
        )
        pairs.write.mode("overwrite").parquet(job_dir)
    obs.record(
        "sim_pairs_bucket_jobs",
        shards=n_shards,
        jobs_run=len(live),
        shards_skipped_empty=n_shards - len(live),
        mod_shard_jobs=n_shards * (n_shards + 1) // 2,
        band_bits=r,
        dropped_groups=dropped_groups,
        dropped_rows=dropped_rows,
    )
    return job_dirs


def _oracle_plane_rows() -> str:
    """DuckDB VALUES rows (band, bit, plane) for bits < ORACLE_BITS_MAX
    — repr() emits the shortest decimal that parses back to the exact
    same IEEE double, so the literal planes ARE the Python planes."""
    rows = []
    for b in range(SRP_BANDS):
        for i in range(ORACLE_BITS_MAX):
            p = PLANES[b * SRP_MAX_BITS + i]
            lit = ", ".join(repr(v) for v in p)
            rows.append(f"({b}, {i}, [{lit}]::DOUBLE[])")
    return ",\n        ".join(rows)


@query(
    "sim_pairs_bucket_jobs",
    sql=f"""
    WITH r AS (
        SELECT CASE WHEN count(*) <= 250 THEN 2
                    ELSE GREATEST(2, LEAST(16,
                         CAST(ceil(log2(count(*) / 250.0)) AS INTEGER)))
               END AS r
        FROM embeddings
    ),
    planes(band, bit, p) AS (VALUES
        {_oracle_plane_rows()}
    ),
    bands AS (
        SELECT e.vec_id, pl.band,
               CAST(SUM(CASE WHEN round(list_sum(list_transform(
                        range(1, {DIMS + 1}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i])), 6)
                             > 0
                        THEN (1 << pl.bit) ELSE 0 END) AS INTEGER) AS bval
        FROM embeddings e, planes pl, r
        WHERE pl.bit < r.r
        GROUP BY 1, 2
    ),
    keep AS (
        SELECT band, bval FROM bands GROUP BY 1, 2
        HAVING count(*) BETWEEN 2 AND {HOT_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a
        JOIN keep k ON k.band = a.band AND k.bval = a.bval
        JOIN bands b ON b.band = a.band AND b.bval = a.bval
                    AND a.vec_id < b.vec_id
    )
    SELECT c.a_id, c.b_id,
           {duck_cosine('ea.embedding', 'eb.embedding')} AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.a_id
    JOIN embeddings eb ON eb.vec_id = c.b_id
    WHERE {duck_cosine('ea.embedding', 'eb.embedding')}
          >= {PAIR_COSINE_THRESHOLD}
    """,
    tables=("embeddings",),
    scale_note=(
        "The bucket-sharded job loop: buckets (not vectors) are "
        "sharded across jobs, so cross-shard jobs share no bucket and "
        "are provably empty — job count ≤ S (measured linear in S on "
        "the probe) vs the mod-shard loop's S(S+1)/2, with the same "
        "parquet handoff / _SUCCESS resume seam.  Per-job working set "
        "= that shard's bucket rows (≈ n × bands / S), so S is the "
        "knob that fits a job in memory while total work stays "
        "linear.  Geometry is sim_pairs_bucketed's (adaptive r, "
        "nested planes, hot-bucket cap) but with sign bits on the "
        "6dp-rounded dot, which makes the whole pipeline restatable "
        "in SQL — the one LSH-family key whose driver check is "
        "hash-grade, planes embedded as literals (r ≤ 6 regime, "
        "guarded past it)."
    ),
)
def sim_pairs_bucket_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding pairs with cosine ≥ 0.4 mined as a loop of per-bucket-
    shard jobs; cross-shard jobs are provably empty and never run."""
    run_dir = scratch.fresh("bucketjobs")
    job_dirs = run_bucket_jobs(spark, sf_dir, run_dir, BUCKET_JOB_SHARDS)
    schema = "a_id long, b_id long, cosine double"
    if not job_dirs:
        return local_frame(spark, [], schema)
    # A true pair collides in several bands, possibly in buckets owned
    # by DIFFERENT shards; rows are identical (deterministic cosine),
    # so one aggregate-sized distinct over the union dedups.
    return spark.read.schema(schema).parquet(*job_dirs).distinct()
