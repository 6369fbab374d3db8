"""Maximal Marginal Relevance diversification (SURVEY.md §2.N growth,
similarity family) — the re-rank step between ANN retrieval and
serving/training-subset selection: from the top-POOL retrieved
vectors, greedily pick K that trade relevance against redundancy,

    score(d) = λ·rel(d) − (1−λ)·max_{s ∈ selected} cos(d, s)

with λ = 1/2 so the score is the division-exact (rel − maxsim) / 2.

Determinism contract (what makes this hash-grade where textbook MMR
is not): every cosine is the shared 6dp-rounded left-fold
(llm/vectors.py), ties break by vec_id, and K/POOL are fixed — so the
greedy trajectory is a pure function of the corpus and the oracle can
replay it as K unrolled CTEs.

Scale posture: the corpus-sized work is the ONE retrieval scan
(broadcast query, TakeOrdered top-POOL — sim_cosine_topk's plan); the
greedy loop then operates on the POOL-row persisted table only, K
iterations of (isin-filter + literal-inlined cosine max + top-1), each
pick a single collected row that gates the next step's plan — the
kmeans literal-inlined-model pattern; every per-step input is
pool-sized, independent of corpus size.  At 100 TB the retrieval scan
is replaced by any ANN key (sim_ivf_topk / sim_pairs_bucket_jobs) and
this loop re-ranks its candidates unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, local_frame, persist_fresh
from .vectors import duck_cosine, spark_cosine

MMR_QUERY_ID = 0
MMR_POOL = 20
MMR_K = 5


def _mmr_oracle_sql() -> str:
    """K unrolled greedy steps over the top-POOL pool — the exact
    trajectory the engine loop walks, stated in DuckDB SQL."""
    cos_ps = duck_cosine("p.embedding", "s.embedding")
    sql = f"""
    WITH q AS (SELECT embedding AS qv
               FROM embeddings WHERE vec_id = {MMR_QUERY_ID}),
    rel AS (
        SELECT e.vec_id, e.embedding,
               {duck_cosine('e.embedding', 'q.qv')} AS rel
        FROM embeddings e, q
        WHERE e.vec_id <> {MMR_QUERY_ID}
    ),
    pool AS (
        SELECT vec_id, embedding, rel FROM rel
        ORDER BY rel DESC, vec_id ASC LIMIT {MMR_POOL}
    ),
    s1 AS (
        SELECT vec_id, embedding, rel, rel AS score FROM pool
        ORDER BY rel DESC, vec_id ASC LIMIT 1
    )"""
    picked = "SELECT vec_id, embedding FROM s1"
    for k in range(2, MMR_K + 1):
        sql += f""",
    c{k} AS (
        SELECT p.vec_id, p.embedding, p.rel,
               round((p.rel - MAX({cos_ps})) / 2, 6) AS score
        FROM pool p, ({picked}) s
        WHERE p.vec_id NOT IN (SELECT vec_id FROM ({picked}))
        GROUP BY p.vec_id, p.embedding, p.rel
    ),
    s{k} AS (
        SELECT vec_id, embedding, rel, score FROM c{k}
        ORDER BY score DESC, vec_id ASC LIMIT 1
    )"""
        picked += f" UNION ALL SELECT vec_id, embedding FROM s{k}"
    parts = [
        f"SELECT {k} AS rank, vec_id, rel AS relevance, score AS mmr_score"
        f" FROM s{k}"
        for k in range(1, MMR_K + 1)
    ]
    sql += "\n    " + "\n    UNION ALL ".join(parts)
    return sql


@query(
    "embed_mmr_diverse",
    sql=_mmr_oracle_sql(),
    tables=("embeddings",),
    scale_note=(
        "MMR re-rank, λ=1/2: one corpus-sized retrieval scan "
        "(broadcast query + TakeOrdered top-POOL, sim_cosine_topk's "
        "plan) feeds a persisted POOL-row table; the K-step greedy "
        "loop then runs entirely on pool-sized inputs, each pick a "
        "1-row collect whose embedding is literal-inlined into the "
        "next step's scoring (the kmeans pattern — model state gates "
        "the next plan; r15: the former all-lazy nested-union plan "
        "replayed every earlier step's subtree, 362 Exchange nodes "
        "of pure planning overhead).  Every cosine is the shared 6dp "
        "fold and ties break by vec_id, so the greedy trajectory is "
        "engine-independent and the oracle replays it as K unrolled "
        "CTEs.  At 100 TB the scan swaps for any ANN candidate key; "
        "the re-rank loop is unchanged (pool stays POOL rows)."
    ),
)
def embed_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 MMR-diversified selection from the top-20 retrieval pool
    of the vec_id=0 query (rank, relevance, and MMR score per pick)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    rel = (
        e.filter(F.col("vec_id") != MMR_QUERY_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            spark_cosine("embedding", "qv").alias("rel"),
        )
    )
    pool = persist_fresh(
        "mmr_pool",
        sf_dir,
        rel.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(
            MMR_POOL
        ),
    )
    # Greedy loop with LITERAL-INLINED selections (r15 optimization,
    # guide §3.3/§7.2): the former all-lazy loop kept the selected set
    # as a nested union of Catalyst plans, so step k's plan replayed
    # every earlier step's subtree — the final plan carried 362
    # Exchange nodes and its cost was planning, not data.  Instead
    # each pick is ONE collected row (the kmeans pattern: literal-
    # inlined model state gates the next plan; a 1-row collect is not
    # driver data work at any scale) and the next step scores the
    # pool against the picked embeddings inlined as array literals.
    # Bit-identity with the old plan: the selected-side self-dot is
    # the same left fold over the same widened doubles (computed once
    # in Python — IEEE ops match the JVM fold exactly, pinned in
    # tests), sqrt/products/rounding all stay JVM-side, and
    # greatest() over the per-pick cosine columns equals MAX(sim)
    # over selected rows (max of doubles is order-independent and
    # both treat NaN as greatest).
    def _self_dot(vals: list[float]) -> float:
        acc = 0.0
        for x in vals:
            acc += float(x) * float(x)
        return acc

    picked = (
        pool.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(1)
        .collect()
    )
    rows = [
        (1, r["vec_id"], float(r["rel"]), float(r["rel"]), r["embedding"])
        for r in picked[:1]
    ]
    for k in range(2, MMR_K + 1):
        if not rows:
            break
        sims = []
        for _, _, _, _, s_emb in rows:
            lit_arr = F.array(*[F.lit(float(x)) for x in s_emb])
            dot_ab = F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    lit_arr,
                    lambda p, q: p.cast("double") * q,
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
            dot_aa = F.expr(
                "aggregate(zip_with(embedding, embedding,"
                " (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            sims.append(
                F.round(
                    dot_ab
                    / (
                        F.sqrt(dot_aa)
                        * F.sqrt(F.lit(_self_dot(s_emb)))
                    ),
                    6,
                )
            )
        max_sim = sims[0] if len(sims) == 1 else F.greatest(*sims)
        nxt = (
            pool.filter(
                ~F.col("vec_id").isin([r[1] for r in rows])
            )
            .select(
                "vec_id",
                "embedding",
                "rel",
                F.round((F.col("rel") - max_sim) / 2, 6).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not nxt:  # pool exhausted: later steps would score nothing
            break
        r = nxt[0]
        rows.append(
            (k, r["vec_id"], float(r["rel"]), float(r["score"]), r["embedding"])
        )
    id_type = dict(pool.dtypes)["vec_id"]
    return local_frame(
        spark,
        [(rk, vid, rel, sc) for rk, vid, rel, sc, _ in rows],
        f"rank int, vec_id {id_type}, relevance double, mmr_score double",
    )
