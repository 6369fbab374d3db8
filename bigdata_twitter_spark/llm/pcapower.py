"""Hash-grade PCA twin (round 6): power iteration over an EXACT
fixed-point covariance — the key that closes the last approx family
(`embed_pca_project`, rows-only by eigendecomposition) without a
driver-hash-verified algorithm check, the same role the md5 twins play
for MinHash/SimHash/HLL and the binned histogram plays for the
percentile sketch.

Why this is hash-checkable where eigh() is not:

* **quantization is exact**: q = floor(x · 2^16 + 0.5) — scaling by a
  power of two is exact in binary floating point, so the quantized
  integers are identical on every engine;
* **co-moments are exact integers**: n, Σq_i, Σq_i·q_j accumulate in
  int64 (products ≤ 4e10, exact to ~100M rows; past that the same
  partials widen to DECIMAL(38));
* **the iteration is a deterministic map on ROUNDED state**: each
  power step computes w = C·v and renormalizes with every fold in
  fixed dimension order (the duck_cosine left-fold equivalence both
  engines already verify), then rounds each component to 6dp — so the
  iteration state is reproducible bit-for-bit, and the DuckDB oracle
  restates the whole thing as a recursive CTE over a 64-element list;
* **sign is canonicalized** (largest-|loading| component positive,
  lowest index on ties) — the ±v ambiguity never reaches the hash.

Scale shape matches embed_pca_project: per-partition integer moments
via one Arrow pass (4k ints per partition), one metadata-sized fold,
driver sees a 64×64 matrix, and the projection is a codegen HOF dot
product over every row.  Numerically this computes PCA of the
2^-16-quantized corpus — a deliberately different (exactly specified)
operator from the float PCA; after 200 rounded power steps the
recovered direction has cosine ≥ 0.999 to numpy's eigh top component
and Rayleigh quotient ≥ 0.99998·λmax on the fixtures (pinned in
tests/test_round6_ops.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, local_frame

DIM = 64
SHIFT = 16  # fraction bits: floor(x * 2^16 + 0.5), exact scaling
SCALE = 1 << SHIFT
POWER_ITERS = 200
V0 = 0.125  # 1/sqrt(64) — exact in binary


def _r6(x: float) -> float:
    """The house 6dp rounding (shortest repr + HALF_UP) — the same
    F.round/DuckDB-round equivalence every cosine oracle stands on."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP
    ))


def _int_moments(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition EXACT integer (n, Σq, flattened ΣqqT)."""
    import numpy as np

    n = 0
    s = np.zeros(DIM, dtype=np.int64)
    g = np.zeros((DIM, DIM), dtype=np.int64)
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        q = np.floor(x * SCALE + 0.5).astype(np.int64)
        n += q.shape[0]
        s += q.sum(axis=0)
        g += q.T @ q
    if n:
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
        )


def power_iterate(n: int, s: list, g: list) -> list:
    """Driver-side top-eigenvector iteration on the exact moments —
    every fold in fixed dimension order, state rounded to 6dp per
    step; mirrors the oracle's recursive CTE token for token."""
    cov = [
        [
            (float(g[i * DIM + j]) - float(s[i]) * float(s[j]) / n) / (n - 1)
            for j in range(DIM)
        ]
        for i in range(DIM)
    ]
    v = [V0] * DIM
    for _ in range(POWER_ITERS):
        w = []
        for i in range(DIM):
            acc = 0.0
            for j in range(DIM):
                acc = acc + cov[i][j] * v[j]
            w.append(acc)
        acc = 0.0
        for i in range(DIM):
            acc = acc + w[i] * w[i]
        norm = acc ** 0.5
        if norm == 0.0:
            # Zero covariance (all vectors identical): no principal
            # direction exists — keep the current iterate instead of
            # dividing by zero (r10 degenerate-domain sweep; the
            # recursive-CTE oracle carries the same CASE).
            continue
        v = [_r6(w[i] / norm) for i in range(DIM)]
    # Sign canonicalization: largest |loading| (lowest index on ties)
    # must be positive.
    pivot = max(range(DIM), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-x for x in v]
    return v


def _oracle_sql() -> str:
    matvec = (
        f"list_transform(range(1, {DIM + 1}), i -> "
        f"list_sum(list_transform(range(1, {DIM + 1}), j -> "
        f"m.m[i][j] * it.v[j])))"
    )
    norm_of = (
        f"sqrt(list_sum(list_transform(range(1, {DIM + 1}), i -> "
        f"({matvec})[i] * ({matvec})[i])))"
    )
    return f"""
    WITH RECURSIVE q AS (
        SELECT vec_id, label,
               list_transform(range(1, {DIM + 1}), i ->
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * {SCALE} + 0.5)
                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    nrow AS MATERIALIZED (SELECT COUNT(*) AS n FROM q),
    s AS MATERIALIZED (
        SELECT i, CAST(SUM(qv[i]) AS BIGINT) AS si
        FROM q, range(1, {DIM + 1}) t(i) GROUP BY i
    ),
    gm AS MATERIALIZED (
        SELECT i, j, CAST(SUM(qv[i] * qv[j]) AS BIGINT) AS gij
        FROM q, range(1, {DIM + 1}) t1(i), range(1, {DIM + 1}) t2(j)
        GROUP BY i, j
    ),
    cov AS MATERIALIZED (
        SELECT gm.i, gm.j,
               (CAST(gm.gij AS DOUBLE)
                - CAST(a.si AS DOUBLE) * CAST(b.si AS DOUBLE) / nrow.n)
               / (nrow.n - 1) AS c
        FROM gm
        JOIN s a ON a.i = gm.i
        JOIN s b ON b.i = gm.j
        CROSS JOIN nrow
    ),
    crows AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS ci FROM cov GROUP BY i),
    m AS MATERIALIZED (SELECT list(ci ORDER BY i) AS m FROM crows),
    it AS (
        -- seed MUST be CAST to DOUBLE: a bare 0.125 literal types the
        -- recursive column DECIMAL(4,3) and silently truncates every
        -- subsequent step to 3 decimals (measured)
        SELECT 0 AS k,
               list_transform(range(1, {DIM + 1}),
                              i -> CAST({V0} AS DOUBLE)) AS v
        UNION ALL
        -- w computed ONCE per step via LATERAL (inlining the matvec
        -- into each element's lambda re-evaluated it 192x per step —
        -- measured 200 s for the 200-step recursion; this shape is
        -- ~1 ms/step)
        -- the one-element list_transform is a LET binding: matvec
        -- evaluates ONCE per step and the lambda reuses it for both
        -- the normalization and the rounding (a lateral cannot see
        -- the recursive table in DuckDB's binder)
        SELECT it.k + 1,
               list_transform([{matvec}], w ->
                   CASE WHEN list_sum(list_transform(w, y -> y * y)) = 0.0
                        THEN it.v
                        ELSE list_transform(w, x ->
                            round(x / sqrt(list_sum(
                                list_transform(w, y -> y * y))), 6))
                   END)[1]
        FROM it, m
        WHERE it.k < {POWER_ITERS}
    ),
    vec AS (SELECT v FROM it WHERE k = {POWER_ITERS}),
    piv AS (
        SELECT i FROM vec, range(1, {DIM + 1}) t(i)
        ORDER BY abs(v[i]) DESC, i LIMIT 1
    ),
    final AS (
        SELECT list_transform(
                   vec.v,
                   x -> CASE WHEN vec.v[piv.i] < 0 THEN -x ELSE x END) AS v
        FROM vec, piv
    )
    SELECT q.vec_id, q.label,
           round(list_sum(list_transform(range(1, {DIM + 1}), i ->
                 (CAST(q.qv[i] AS DOUBLE) - sv.sl[i] / nrow.n) * f.v[i]))
                 / {SCALE}, 6) AS pc1
    FROM q
    CROSS JOIN final f
    CROSS JOIN nrow
    CROSS JOIN (SELECT list(CAST(si AS DOUBLE) ORDER BY i) AS sl
                FROM s) sv
    """


@query(
    "embed_pca_power_exact",
    sql=_oracle_sql(),
    tables=("embeddings",),
    scale_note=(
        "The hash-grade PCA twin: power iteration over an EXACT "
        "fixed-point covariance.  Quantization floor(x·2^16+0.5) is "
        "exact (power-of-two scaling); per-partition integer moments "
        "(one Arrow pass, 4k ints) fold to ONE metadata row, so the "
        "driver sees a 64×64 matrix at any corpus size; the 200-step "
        "iteration rounds its state to 6dp per step, making it a "
        "deterministic map both engines replay identically (every "
        "fold in fixed dimension order — the duck_cosine left-fold "
        "equivalence), restated by the oracle as a recursive CTE; "
        "sign canonicalized; the per-row projection is a codegen HOF "
        "dot product.  Recovers eigh's top component to cosine ≥ 0.999 "
        "(pinned) — the algorithm-level driver-hash check "
        "embed_pca_project's contract cannot give."
    ),
)
def embed_pca_power_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top principal component of the
    2^-16-quantized corpus (exact co-moments + rounded power steps)."""
    emb = load(spark, sf_dir, "embeddings")
    partials = emb.select("embedding").mapInPandas(
        _int_moments, schema="n long, s array<long>, g array<long>"
    )
    folded = partials.agg(
        F.sum("n").alias("n"),
        F.aggregate(
            F.collect_list("s"),
            F.array_repeat(F.lit(0).cast("long"), DIM),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("s"),
        F.aggregate(
            F.collect_list("g"),
            F.array_repeat(F.lit(0).cast("long"), DIM * DIM),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("g"),
    ).first()  # ONE metadata-sized row (n + 64 + 4096 ints).
    n = folded["n"]
    if not n or n < 2:
        return local_frame(spark, [], "vec_id bigint, label int, pc1 double")
    v = power_iterate(n, folded["s"], folded["g"])
    mu = [float(si) / n for si in folded["s"]]  # quantized-unit means
    q_expr = (
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE}"
        f" + 0.5) AS BIGINT))"
    )
    mu_col = F.array(*[F.lit(m) for m in mu])
    v_col = F.array(*[F.lit(x) for x in v])
    centered = F.zip_with(
        F.expr(q_expr), mu_col, lambda a, b: a.cast("double") - b
    )
    dot = F.aggregate(
        F.zip_with(centered, v_col, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id", "label", F.round(dot / SCALE, 6).alias("pc1")
    )
