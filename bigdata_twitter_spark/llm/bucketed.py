"""Bucketed (LSH) similarity pair mining — the 100-TB production path
whose exact-verification oracle is ``sim_pairs_threshold``.

Sign-random-projection LSH (SimHash-for-cosine, Charikar 2002): each
embedding is reduced to sign bits of dot products against a fixed set
of hyperplanes; bits are grouped into bands, vectors sharing any
(band, value) bucket become candidate pairs, and ONLY candidates get
an exact cosine score.  P(two vectors agree on one bit) = 1 − θ/π, so
a pair at cosine τ survives at least one of B bands of r bits with
probability 1 − (1 − p^r)^B.

**Adaptive band geometry (round-3 scale fix).**  With fixed r bits a
band has 2^r buckets, so bucket occupancy is n/2^r and candidate
count per band is Σ occ² ≈ n²/2^r — QUADRATIC in n.  The ×10 scale
probe measured exactly that (63× wall-time at 10× rows).  The fix is
textbook LSH tuning: choose r ≈ log2(n / target_occupancy), which
pins expected occupancy at the target and makes candidates ≈
n × target × bands — LINEAR in n.  Recall follows the LSH contract:
at the near-dup regime (τ ≥ 0.9, p ≥ 0.85) recall stays >99.9% even
at r = 8; at low τ (0.4, this fixture's mining regime) wider bands
necessarily trade recall for pruning — the correct behavior, stated
by the declared rows-only/recall-pinned contract.  At the fixture
scales (n ≤ 2000) r stays small enough that the empirical recall of
all ≥0.4 pairs remains 100% (pinned in tests/test_weak_ops.py).

A HOT-BUCKET CAP additionally skips degenerate buckets so no single
bucket can reintroduce the quadratic term.  Honest limitation: pairs
of IDENTICAL vectors share every band, so a >cap group of exact
copies is dropped entirely (the re-collide-in-other-bands recovery
only helps near-collisions).  That case belongs to exact dedup, which
runs BEFORE near-dup mining in any real pipeline (hash the vector
bytes — dedup_exact's shape on the embedding column); this operator's
contract is near-duplicate pair mining over an exact-deduped corpus.
When the cap fires it is NOT silent: every run records dropped
bucket/row counts (``obs.last("sim_pairs_bucketed")``) and logs a
warning, so a degenerate corpus is visible instead of inferred.

Scale posture: the plane set is a compile-time constant (seeded PRNG,
no runtime randomness), the sign/band computation is per-row JVM
codegen, and verification is BUCKET-LOCAL — each vector is shuffled
once per band into its (band, value) group and exact cosines are
computed inside the group by a vectorized Arrow UDF, so shuffle bytes
are ∝ vectors × bands, never ∝ candidate pairs (the round-4 ×100
probe measured the old pair-materializing plan at ~450× corpus bytes
before this change).  The corpus size that picks r comes from one
count() (at 100 TB: catalog row-count statistics, a metadata read).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import drop_hot_groups, load, persist_fresh, spread
from .vectors import DIMS, PAIR_COSINE_THRESHOLD

SRP_BANDS = 16
SRP_MIN_BITS = 2  # fixture-scale geometry (recall pinned at 100%)
# r clamps at 16 bits = linear candidate growth up to n ≈ 250 × 2^16
# ≈ 16M vectors per job (beyond that, shard the corpus).  The previous
# clamp of 8 reintroduced quadratic candidates past ~64k vectors — the
# ×100 probe (round 4) hit it: occupancy grew 4× past the clamp and
# the candidate distinct spilled >50 GB.  Same bug class as the r3
# fixed-width bands and the K=128 k-means clamp; the fix is the same:
# let the geometry keep adapting.  Recall trade-off is per-REGIME, not
# per-n: at the near-dup operating point (cosine ≥ ~0.85, the 100-TB
# dedup use) 16 bands × r≤16 bits keeps recall high; the fixture-scale
# τ=0.4 contract holds because r stays small at fixture n.  Mining
# τ=0.4 pairs at 16M vectors is NOT a supported operating point (no
# LSH family does that cheaply — bands needed grow exponentially in r).
SRP_MAX_BITS = 16
TARGET_BUCKET_OCC = 250  # expected vectors per (band, value) bucket
HOT_BUCKET_CAP = 20 * TARGET_BUCKET_OCC
_SRP_SEED = 20260813

# Fixed hyperplanes: deterministic across sessions/partitions (seeded
# PRNG at import time — never runtime randomness, so the operator is
# partition-order independent and resumable).  Planes are laid out
# with a fixed per-band stride of SRP_MAX_BITS so geometries NEST:
# band b at r bits always uses planes[b*SRP_MAX_BITS : b*SRP_MAX_BITS+r],
# making results at a given r independent of the r chosen elsewhere.
_rng = random.Random(_SRP_SEED)
PLANES: list[list[float]] = [
    [_rng.gauss(0.0, 1.0) for _ in range(DIMS)]
    for _ in range(SRP_BANDS * SRP_MAX_BITS)
]


def bits_for(n: int) -> int:
    """r ≈ log2(n / TARGET_BUCKET_OCC), clamped — keeps expected bucket
    occupancy at the target so candidates grow linearly with n."""
    if n <= TARGET_BUCKET_OCC:
        return SRP_MIN_BITS
    r = math.ceil(math.log2(n / TARGET_BUCKET_OCC))
    return max(SRP_MIN_BITS, min(SRP_MAX_BITS, r))


def _plane_dot_sql(plane: list[float]) -> str:
    """SQL for dot(embedding, literal plane) — JVM-side fold, no UDF."""
    arr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane) + ")"
    return (
        f"aggregate(zip_with(embedding, {arr},"
        f" (p, q) -> CAST(p AS DOUBLE) * q),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _band_values(r: int) -> F.Column:
    """Array of SRP_BANDS packed band values (each r sign bits)."""
    bands = []
    for b in range(SRP_BANDS):
        bits = [
            f"(CASE WHEN {_plane_dot_sql(PLANES[b * SRP_MAX_BITS + i])} > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(r)
        ]
        bands.append(" + ".join(bits))
    return F.expr("array(" + ", ".join(bands) + ")")


@query(
    "sim_pairs_bucketed",
    sql=None,  # hash-family specific — rows-only for the driver; the local
    # suite cross-checks pairs ⊇ sim_pairs_threshold's pairs (test_weak_ops).
    tables=("embeddings",),
    scale_note=(
        "SRP-LSH bucketed pair mining with BUCKET-LOCAL verification: "
        "band width ADAPTS to corpus size (r ≈ log2(n/250), planes "
        "nested by fixed stride) so bucket occupancy stays at the "
        "target; each vector ships ONCE per band into its bucket "
        "group (shuffle = n × bands rows — the ×100 probe showed the "
        "old materialize-candidate-pairs plan shuffling ~450× corpus "
        "bytes) and exact cosines are computed inside the group by a "
        "vectorized Arrow UDF whose dim-sequential fold is bit-equal "
        "to the JVM/DuckDB expression twins. A hot-bucket cap (5000) "
        "bounds degenerate collisions with a run-level audit. "
        "The scale-safe replacement for "
        "sim_pairs_threshold's O(n²) cross-join."
    ),
)
def sim_pairs_bucketed(
    spark: SparkSession, sf_dir: str, n: int | None = None
) -> DataFrame:
    """Embedding pairs with cosine ≥ 0.4, mined within LSH buckets only.

    ``n`` lets a caller that already counted the corpus this
    invocation (dedup_embedding's regime router) skip the second
    count job; the driver calls with two arguments and counts here.
    """
    e = load(spark, sf_dir, "embeddings")
    # One scalar count picks the band width (catalog stats at 100 TB).
    r = bits_for(e.count() if n is None else n)
    # 16×r plane dot-products × 64 dims per row — CPU-bound, spread the scan.
    bands = spread(e, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.posexplode(_band_values(r)).alias("band", "bval"),
    )
    # The plane-dot folds dominate; persist the 3-int band rows so the
    # self-join computes the projections once, not twice.
    bands = persist_fresh("srp_bands", sf_dir, bands)
    # Hot-bucket cap: bucket sizes are ≤ bands × 2^r rows, so the
    # over-cap list is metadata-sized.
    bands = drop_hot_groups(
        "sim_pairs_bucketed", bands, ["band", "bval"], HOT_BUCKET_CAP
    )
    # The cap is ALSO enforced GROUP-LOCALLY inside _verify_bucket (a
    # bucket with more than HOT_BUCKET_CAP members returns no pairs) —
    # defense in depth behind the keep-filter above, and the only
    # enforcement the clean path pays for (no join, no build job —
    # r14 optimization; the audit stays, so the cap is never silent).
    # BUCKET-LOCAL verification (round-4 scale fix): the previous plan
    # materialized candidate (a, b) pairs and then attached BOTH
    # embeddings per pair — ~2000 candidates/vector × 0.5 KB payload
    # made the verify shuffle ~450× the corpus size (the ×100 probe
    # filled an 80 GB disk with spill).  Instead each vector ships
    # ONCE per band into its bucket group (shuffle = n × bands rows,
    # vector payload once), and cosines are computed INSIDE the group
    # with a vectorized Arrow UDF.  The accumulation is dim-sequential
    # (64 outer-product updates), which is bit-identical to the
    # engine's aggregate/zip_with left fold and DuckDB's list_sum fold
    # — so results match the pure-JVM plan exactly; rounding emulates
    # Spark's BigDecimal HALF_UP (away from zero), not numpy's
    # half-even.
    grouped = bands.join(e.select("vec_id", "embedding"), "vec_id")
    # Verifier built at CALL time so the module-level cap is read per
    # run (tests monkeypatch it).
    pairs = grouped.groupBy("band", "bval").applyInPandas(
        _verify_bucket_capped(HOT_BUCKET_CAP),
        schema="a_id long, b_id long, cosine double",
    )
    # True pairs collide in several bands; output rows are identical
    # (deterministic cosine), so one aggregate-sized distinct dedups.
    return pairs.distinct()


def _verify_bucket_capped(cap: int):
    """Build the group-local exact-cosine verifier with an explicit
    occupancy cap: pairwise work on a >cap group is O(cap²) by
    definition, so such groups emit NO pairs (the caller records the
    run-level audit from its metadata-sized size aggregate — the cap
    is enforced here but never silent).  Each caller pins its own cap
    (sim_pairs_bucketed: HOT_BUCKET_CAP; dedup_semantic_cluster:
    CLUSTER_CAP) instead of paying a broadcast keep-join on the hot
    path."""

    def _verify(pdf):
        from decimal import Decimal, ROUND_HALF_UP

        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        k = len(ids)
        empty = pd.DataFrame(
            {"a_id": pd.Series(dtype="int64"),
             "b_id": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )
        if k < 2 or k > cap:
            return empty
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        dot = np.zeros((k, k))
        nrm = np.zeros(k)
        for d in range(m.shape[1]):
            col = m[:, d]
            dot += np.multiply.outer(col, col)
            nrm += col * col
        cos = dot / np.multiply.outer(np.sqrt(nrm), np.sqrt(nrm))
        ii, jj = np.triu_indices(k, 1)
        raw = cos[ii, jj]
        # Rounding must EXACTLY match Spark's F.round on double —
        # BigDecimal.valueOf(d) (shortest decimal repr) then setScale(6,
        # HALF_UP).  Python's repr is the same shortest-repr algorithm and
        # Decimal.quantize(HALF_UP) the same scaling, so the per-value loop
        # below is bit-identical; no vectorized emulation is (floor(x*1e6
        # + .5) diverges ~1 ulp from the shortest-repr path at x.xxxxx5
        # boundaries).  JDK caveat (ADVICE r4): Double.toString on JDK < 19
        # can emit a non-shortest decimal for rare values (JDK-4511638,
        # fixed by the Ryū rewrite in 19), which could flip a cosine
        # sitting exactly on a 6dp HALF_UP boundary; parity on the running
        # JVM is therefore PINNED by tests/test_weak_ops.py::
        # test_round6_parity_spark_vs_python_emulation, which feeds
        # adversarial boundary doubles through Spark's F.round and this
        # emulation side-by-side.  A 1e-6 guard band bounds the loop to
        # near-output size: values below τ − 1e-6 cannot round up to τ.
        cand = raw >= PAIR_COSINE_THRESHOLD - 1e-6
        if not cand.any():
            return empty
        q6 = Decimal("0.000001")
        r6 = np.fromiter(
            (
                float(Decimal(repr(float(x))).quantize(q6, rounding=ROUND_HALF_UP))
                for x in raw[cand]
            ),
            dtype=np.float64,
            count=int(cand.sum()),
        )
        keep = r6 >= PAIR_COSINE_THRESHOLD
        if not keep.any():
            return empty
        return pd.DataFrame(
            {"a_id": ids[ii[cand][keep]], "b_id": ids[jj[cand][keep]],
             "cosine": r6[keep]}
        )

    return _verify

