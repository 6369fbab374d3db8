"""IVF + residual product quantization (IVFADC) top-k search — the
composed ANN index that serves web-scale corpora (SURVEY.md §2.N
extras; reference checkout empty — §0.1; design from the public
IVFADC construction in Jégou/Douze/Schmid, TPAMI 2011, §IV).

Composition of the two registered building blocks: ``sim_ivf_topk``'s
inverted-file restriction (probe only the P nearest coarse cells) and
``embed_pq_adc_topk``'s lookup-table scoring — but over RESIDUALS
(v − coarse_centroid), which is what makes the shared 4-bit-per-
subspace codebook accurate enough to rank within a cell: residuals
concentrate near zero, so the same 16 codewords cover every cell.

Determinism contract (same as pq.py): one int-scaling up front
(``floor(x·10⁶ + 0.5)``), after which coarse assignment, residuals,
codeword assignment, LUTs, ADC sums, and the exact-distance audit are
bigint arithmetic end to end; all ties break to the lowest id.  The
seed prefix provides the deterministic training stand-in (ranks 1–4 =
coarse centroids, 5–20 = residual codewords, 21–25 = queries);
production would k-means both levels, and ann_recall_eval audits any
such swap.

Build/serve split (round 14, VERDICT r13 "Next round" #2): the coarse
centroids, residual codebook AND encoded corpus (vec_id → cell + M
residual codes) persist through the :mod:`annindex` versioned-
artifact substrate under the ``ivfpq`` family; a query call reads the
committed parquet and never re-assigns or re-encodes the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import obs
from ..registry import query
from .annindex import ensure_versioned_artifact
from .pq import PQ_SUB, _int_vectors, _sqdist, _sqdist_sql, PQ_SCALE
from .vectors import DIMS

IVFPQ_CELLS = 4       # coarse centroids (seed ranks 1..4)
IVFPQ_K = 16          # residual codewords per subspace (ranks 5..20)
IVFPQ_M = DIMS // PQ_SUB
IVFPQ_NQ = 5          # queries (ranks 21..25)
IVFPQ_PROBES = 2
IVFPQ_TOPK = 10
_SEEDS = IVFPQ_CELLS + IVFPQ_K + IVFPQ_NQ
_TOPK_BUCKETS = 64


def ensure_ivfpq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int, bool, str]:
    """Build-or-reuse the persisted IVFADC artifact: ``coarse`` (cell
    centroids), ``codebook`` (shared residual codewords) and ``codes``
    (the encoded corpus: vec_id → cell + one residual code per
    subspace).  The corpus-sized assignment + encode passes run ONCE
    per corpus fingerprint."""
    iv = _int_vectors(spark, sf_dir)

    def build(data_dir: str):
        seed = (
            iv.orderBy("vec_id")
            .limit(_SEEDS)
            .withColumn(
                "rn", F.row_number().over(Window.orderBy("vec_id"))
            )
        )
        coarse = seed.filter(F.col("rn") <= IVFPQ_CELLS).select(
            (F.col("rn") - 1).alias("cell"), F.col("v").alias("cv")
        )
        coarse.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(data_dir, "coarse")
        )
        coarse_p = spark.read.parquet(os.path.join(data_dir, "coarse"))

        # Coarse assignment: two-phase min_by (map-side combine — no
        # corpus×cells window shuffle); (cd, cell) is unique per
        # struct so the lexicographic min is the (dist, cell) tiebreak.
        assign = (
            iv.join(F.broadcast(coarse_p))
            .select(
                "vec_id",
                "cell",
                "v",
                "cv",
                _sqdist(F.col("v"), F.col("cv")).alias("cd"),
            )
            .groupBy("vec_id")
            .agg(F.min(F.struct("cd", "cell", "v", "cv")).alias("b"))
            .select(
                "vec_id",
                F.col("b.cell").alias("cell"),
                F.col("b.v").alias("v"),
                F.col("b.cv").alias("cv"),
            )
        )
        res = assign.select(
            "vec_id",
            "cell",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("rv"),
        )
        ms = spark.range(IVFPQ_M).select(
            F.col("id").cast("int").alias("m")
        )
        cb = (
            seed.filter(
                (F.col("rn") > IVFPQ_CELLS)
                & (F.col("rn") <= IVFPQ_CELLS + IVFPQ_K)
            )
            .select("vec_id", (F.col("rn") - IVFPQ_CELLS - 1).alias("k"))
            .join(res, "vec_id")
            .crossJoin(F.broadcast(ms))
            .select(
                "m",
                "k",
                F.slice(
                    "rv", F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB)
                ).alias("cw"),
            )
        )
        cb.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(data_dir, "codebook")
        )
        cb_p = spark.read.parquet(os.path.join(data_dir, "codebook"))

        sub = res.crossJoin(F.broadcast(ms)).select(
            "vec_id",
            "cell",
            "m",
            F.slice("rv", F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB)).alias(
                "sv"
            ),
        )
        enc = (
            sub.join(F.broadcast(cb_p), "m")
            .select(
                "vec_id",
                "cell",
                "m",
                "k",
                _sqdist(F.col("sv"), F.col("cw")).alias("d"),
            )
            .groupBy("vec_id", "cell", "m")
            .agg(F.min(F.struct("d", "k")).alias("best"))
            .select("vec_id", "cell", "m", F.col("best.k").alias("k"))
        )
        enc.write.mode("overwrite").parquet(
            os.path.join(data_dir, "codes")
        )
        return ["coarse", "codebook", "codes"], {}

    return ensure_versioned_artifact(sf_dir, "ivfpq", build)


@query(
    "embed_ivfpq_topk",
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
    coarse AS (
        SELECT rn - 1 AS cell, v AS cv FROM seed WHERE rn <= {IVFPQ_CELLS}
    ),
    assign AS (
        SELECT vec_id, cell, v FROM (
            SELECT i.vec_id, c.cell, i.v,
                   row_number() OVER (
                       PARTITION BY i.vec_id
                       ORDER BY {_sqdist_sql('i.v', 'c.cv', DIMS)}, c.cell
                   ) AS r
            FROM iv i JOIN coarse c ON TRUE
        ) WHERE r = 1
    ),
    res AS (
        SELECT a.vec_id, a.cell,
               list_transform(range(1, {DIMS + 1}),
                              i -> a.v[i] - c.cv[i]) AS rv
        FROM assign a JOIN coarse c ON c.cell = a.cell
    ),
    ms AS (SELECT unnest(range(0, {IVFPQ_M})) AS m),
    cb AS (
        SELECT ms.m, s.rn - {IVFPQ_CELLS + 1} AS k,
               list_slice(r.rv, ms.m * {PQ_SUB} + 1,
                          ms.m * {PQ_SUB} + {PQ_SUB}) AS cw
        FROM seed s
        JOIN res r ON r.vec_id = s.vec_id
        JOIN ms ON TRUE
        WHERE s.rn BETWEEN {IVFPQ_CELLS + 1} AND {IVFPQ_CELLS + IVFPQ_K}
    ),
    enc AS (
        SELECT vec_id, cell, m, k FROM (
            SELECT r.vec_id, r.cell, s.m, c.k,
                   row_number() OVER (
                       PARTITION BY r.vec_id, s.m
                       ORDER BY {_sqdist_sql(
                           f"list_slice(r.rv, s.m * {PQ_SUB} + 1,"
                           f" s.m * {PQ_SUB} + {PQ_SUB})", 'c.cw', PQ_SUB)},
                           c.k
                   ) AS rr
            FROM res r JOIN ms s ON TRUE JOIN cb c ON c.m = s.m
        ) WHERE rr = 1
    ),
    q AS (
        SELECT s.vec_id AS query_id, s.v
        FROM seed s
        WHERE s.rn BETWEEN {_SEEDS - IVFPQ_NQ + 1} AND {_SEEDS}
    ),
    probes AS (
        SELECT query_id, cell, pr FROM (
            SELECT q.query_id, c.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sqdist_sql('q.v', 'c.cv', DIMS)}, c.cell
                   ) AS pr
            FROM q JOIN coarse c ON TRUE
        ) WHERE pr <= {IVFPQ_PROBES}
    ),
    qres AS (
        SELECT p.query_id, p.cell,
               list_transform(range(1, {DIMS + 1}),
                              i -> q.v[i] - c.cv[i]) AS qr
        FROM probes p
        JOIN q ON q.query_id = p.query_id
        JOIN coarse c ON c.cell = p.cell
    ),
    lut AS (
        SELECT qr.query_id, qr.cell, c.m, c.k,
               {_sqdist_sql(
                   f"list_slice(qr.qr, c.m * {PQ_SUB} + 1,"
                   f" c.m * {PQ_SUB} + {PQ_SUB})", 'c.cw', PQ_SUB)} AS d
        FROM qres qr JOIN cb c ON TRUE
    ),
    adc AS (
        SELECT l.query_id, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
        FROM enc e
        JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.k = e.k
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
    WHERE t.rnk <= {IVFPQ_TOPK}
    """,
    tables=("embeddings",),
    scale_note=(
        "IVFADC, the index that serves billion-vector corpora: the "
        "probe restriction means a query scores ~P/C of the corpus "
        "(inverted-list equi-join on cell id — the join IS the "
        "index), and scoring within a probed cell is 8 LUT lookups "
        "per vector exactly as embed_pq_adc_topk (LUTs are "
        "queries×P×M×K rows, broadcast).  Assignment and encoding "
        "are map-side joins against broadcast 4-row/128-row "
        "codebooks with the residual transform fused per row; no "
        "shuffle anywhere is corpus×queries.  Residual codewords "
        "make the SHARED codebook per-cell accurate (residuals "
        "concentrate near zero — the IVFADC argument).  Top-k runs "
        "two-level over 64 hash buckets.  Every quantity after the "
        "single int-scaling is exact bigint, ties to lowest id, so "
        "the full index + search pipeline is hash-grade on both "
        "engines.  Build/serve split (r14): coarse centroids + "
        "residual codebook + code table persist as a versioned "
        "artifact (ensure_ivfpq_index); a query call reads the "
        "committed parquet and never re-assigns or re-encodes."
    ),
)
def embed_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ANN per query via a 4-cell IVF with shared 8×16
    residual-PQ codebook, 2-probe ADC search, exact-distance audit.
    Serves from the persisted artifact — see ensure_ivfpq_index."""
    root, version, rebuilt, data_dir = ensure_ivfpq_index(spark, sf_dir)
    paths = {
        p: os.path.join(data_dir, p) for p in ("coarse", "codebook", "codes")
    }
    obs.record(
        "embed_ivfpq_topk",
        op="serve",
        family="ivfpq",
        root=root,
        version=version,
        rebuilt=rebuilt,
        index_files=sorted(paths.values()),
    )
    coarse = spark.read.parquet(paths["coarse"])
    cb = spark.read.parquet(paths["codebook"])
    enc = spark.read.parquet(paths["codes"])

    sqdist = _sqdist
    iv = _int_vectors(spark, sf_dir)
    seed = (
        iv.orderBy("vec_id")
        .limit(_SEEDS)
        .withColumn("rn", F.row_number().over(Window.orderBy("vec_id")))
    )
    q = seed.filter(F.col("rn") > _SEEDS - IVFPQ_NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    wq = Window.partitionBy("query_id").orderBy("cd", "cell")
    probes = (
        q.join(F.broadcast(coarse))
        .select(
            "query_id", "cell", "v", "cv",
            sqdist(F.col("v"), F.col("cv")).alias("cd"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVFPQ_PROBES)
    )
    qres = probes.select(
        "query_id",
        "cell",
        F.zip_with("v", "cv", lambda a, b: a - b).alias("qr"),
    )
    lut = (
        qres.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "cell",
            "m",
            "k",
            sqdist(
                F.slice("qr", F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB)),
                F.col("cw"),
            ).alias("d"),
        )
    )
    adc = (
        enc.join(F.broadcast(lut), ["cell", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    bucketed = adc.withColumn(
        "b", F.pmod(F.col("vec_id"), F.lit(_TOPK_BUCKETS))
    )
    wloc = Window.partitionBy("query_id", "b").orderBy("adc_dist", "vec_id")
    cand = (
        bucketed.withColumn("r", F.row_number().over(wloc))
        .filter(F.col("r") <= IVFPQ_TOPK)
        .drop("b", "r")
    )
    wfin = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    top = cand.withColumn(
        "rnk", F.row_number().over(wfin).cast("int")
    ).filter(F.col("rnk") <= IVFPQ_TOPK)
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
