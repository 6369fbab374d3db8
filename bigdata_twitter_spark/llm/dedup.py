"""Deduplication operators (SURVEY.md §2.L) — the LLM-pipeline mandate:
exact hash dedup, exact n-gram Jaccard, MinHash-LSH, SimHash.

The driver's documents fixture contains planted near-duplicate pairs
(token-trigram Jaccard ≈ 0.98, differing by an inserted rare token),
so these operators have real positives to find.

Scale posture (100 TB): exact dedup is a single hash shuffle; exact
Jaccard's inverted-index self-join is quadratic in hot-shingle bucket
size, so at scale it runs ONLY on LSH candidates — dedup_minhash_lsh
is the scale path (shuffle ∝ docs × bands, never docs²), and the exact
Jaccard re-scores its candidates.  All hash families are value-derived
and seed-fixed (xxhash64 with literal seeds): partition-order
independent by construction, never monotonically_increasing_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import (
    drop_hot_groups,
    load,
    local_frame,
    persist_fresh,
    spread,
)
from .params import (  # noqa: F401  (re-exported for compatibility)
    JACCARD_THRESHOLD,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_SEEDS,
    SHINGLE_DF_CAP,
    SIMHASH_MAX_HAMMING,
)


def _shingles_expr() -> F.Column:
    """Distinct token 3-gram shingles per document (text pre-lowered).

    Guarded for short docs: ``sequence(1, size-2)`` DESCENDS when
    size(toks) < 3 (Spark generates [1, 0] for sequence(1, 0)) and
    ``element_at(toks, 0)`` then throws; DuckDB's ``range`` returns
    empty for the same doc, so the guard mirrors oracle semantics.
    """
    return F.array_distinct(
        F.expr(
            "CASE WHEN size(toks) >= 3 THEN"
            " transform(sequence(1, size(toks) - 2),"
            "  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),"
            "                 element_at(toks, i + 2)))"
            " ELSE CAST(array() AS array<string>) END"
        )
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread by doc_id BEFORE the shingle/hash pipeline: the exchange
    # is reused by every downstream groupBy("doc_id"), and the scan is
    # otherwise a single split locally (no-op at real scan widths).
    d = spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    ).withColumn("toks", F.split(F.lower(F.col("text")), " "))
    return d.select("doc_id", F.explode(_shingles_expr()).alias("s"))


@query(
    "dedup_exact",
    sql="""
    SELECT md5(lower(text)) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tables=("documents",),
    scale_note=(
        "Exact dedup = one hash-partitioned aggregate on the content hash; "
        "no sort, no driver state. The canonical 100 TB first-pass dedup."
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by normalized-content hash, deterministic keeper."""
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.md5(F.lower(F.col("text"))))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@query(
    "dedup_fuzzy_jaccard",
    sql=f"""
    WITH sh_all AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(lower(text), ' ')) - 1),
                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                        string_split(lower(text), ' ')[i + 1] || ' ' ||
                        string_split(lower(text), ' ')[i + 2]))) AS s
        FROM documents
    ),
    sh AS (
        SELECT doc_id, s FROM sh_all
        QUALIFY COUNT(*) OVER (PARTITION BY s) <= {SHINGLE_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, inter,
           sa.n + sb.n - inter AS uni,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
    """,
    tables=("documents",),
    scale_note=(
        "Exact 3-gram Jaccard via inverted-index self-join, with a "
        f"doc-frequency cap (df ≤ {SHINGLE_DF_CAP}) dropping stop-shingles "
        "BEFORE the join — the worst bucket is bounded at cap·(cap−1)/2 "
        "pairs, so the join is linear in shingle volume, never docs². "
        "The DAG references the capped shingle index from three branches "
        "keyed differently (s-join, doc-sizes, df-agg): at 100 TB persist "
        "or checkpoint that index once (MEMORY_AND_DISK) instead of the "
        "~3 recomputed corpus passes Spark's lazy plan implies; and "
        "restrict to LSH candidates (dedup_minhash_lsh), re-scoring only "
        "those."
    ),
)
def dedup_fuzzy_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs with exact token-3-gram Jaccard ≥ 0.8
    (Jaccard over the df-capped shingle universe, both engines)."""
    sh_all = _doc_shingles(spark, sf_dir)
    # Stop-shingle guard: one extra two-phase agg, bounded join buckets.
    df_ok = (
        sh_all.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("s")
    )
    # NOT persisted, deliberately: unlike the signature tables below,
    # the capped index is DATA-sized (string shingles), and caching it
    # measured SLOWER than recomputation locally (2.45 → 3.34 s best-of-2
    # at sf0.1) — the deserialized string cache costs more than the
    # explosion it saves. At 100 TB with a disk cache tier the
    # scale_note's persist/checkpoint advice applies; at memory scale,
    # recompute wins.
    sh = sh_all.join(df_ok, "s")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("inter")
    )
    return (
        pairs.join(sa, F.col("a_id") == F.col("sa.doc_id"))
        .join(sb, F.col("b_id") == F.col("sb.doc_id"))
        .select(
            "a_id",
            "b_id",
            "inter",
            (F.col("sa.n") + F.col("sb.n") - F.col("inter")).alias("uni"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# Band-bucket occupancy cap (round 5, found by the docs ×100 probe).
# The pair-listing self-join is Σ c·(c−1)/2 over bucket occupancies c,
# so one degenerate clique (boilerplate, empty docs, canonicalized
# bags-of-words) makes output and shuffle quadratic in the clique.
# Buckets above the cap are excluded from PAIR ENUMERATION, counted
# and logged by drop_hot_groups — never dropped silently.  Contract
# mirrors sim_pairs_bucketed's HOT_BUCKET_CAP: a >cap bucket means the members
# are so mutually similar that pairwise listing is the wrong output
# shape (dedup_components / dedup_exact resolve such cliques in O(c));
# fixture scales never reach the cap (max occupancy 4 at sf0.1).
LSH_HOT_BUCKET_CAP = 500


@query(
    "dedup_minhash_lsh",
    sql=None,  # hash-family specific — rows-only for the driver; the local
    # test suite cross-validates candidates ⊇ planted Jaccard pairs.
    tables=("documents",),
    scale_note=(
        "THE scale path for near-dedup: 32 minhashes → 8 bands × 4 rows; "
        "candidate generation is a groupBy on (band, signature) — shuffle "
        "∝ docs × bands, never docs². Hash family is xxhash64(shingle, seed) "
        "with literal seeds: deterministic and partition-order independent. "
        "All 32 minhashes come from ONE pass over (doc, shingle) rows — 32 "
        "min-aggregates in a single groupBy — so shuffle input stays at "
        "docs×shingles and partial aggregation reduces it to 32 longs/doc "
        "(the previous explode×32 plan multiplied shuffle input 32×). "
        f"Degenerate cliques: buckets above {LSH_HOT_BUCKET_CAP} members "
        "are excluded from pair listing with a visible audit — "
        "pairwise output on a c-clique is O(c²) "
        "by definition and belongs to the component/exact-hash "
        "resolvers, keeping this operator's output ∝ true near-dup "
        "pairs, never clique²."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate near-duplicate pairs (banded signatures)."""
    sh = _doc_shingles(spark, sf_dir)
    # One pass: hash each shingle under all 32 seeds via a single
    # transform lambda (ONE codegen'd expression, not 32 inlined hash
    # calls — 32 separate xxhash64 aggregates cost ~5 s of whole-stage
    # codegen compile alone), then take 32 parallel min-aggregates.
    # Shuffle input stays docs×shingles; partial aggregation reduces it
    # to 32 longs per doc before the exchange.
    sh = sh.withColumn(
        "h",
        F.expr(f"transform(sequence(0, {MINHASH_SEEDS - 1}), i -> xxhash64(s, i))"),
    )
    sig = sh.groupBy("doc_id").agg(
        F.array(
            *[F.min(F.col("h")[i]) for i in range(MINHASH_SEEDS)]
        ).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}),"
                f" b -> xxhash64(concat_ws(',', slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS}))))"
            )
        ).alias("band", "band_sig"),
    )
    # Two-phase bucket grouping (VERDICT r14 item 1): the r14 single
    # groupBy collected EVERY bucket's ids and applied the occupancy
    # cap afterwards, so a degenerate >cap clique built an unbounded
    # collect_list buffer (one aggregation row holding ~n doc_ids)
    # before the size filter could drop it.  Instead persist the
    # 3-long band rows once, take a partial-aggregatable occupancy
    # count (bounded buffers at every scale), collect the >cap bucket
    # LIST (metadata-sized, empty on normal corpora) for the audit,
    # and keep-filter hot buckets BEFORE the collect_list — the
    # grouped rows are now ≤ cap ids by construction.  Costs one
    # extra exchange of (band, band_sig, partial-count) rows over the
    # r14 plan; identical pairs (a<b over the same capped buckets).
    bands = persist_fresh("lsh_bands", sf_dir, bands)
    bands = drop_hot_groups(
        "dedup_minhash_lsh", bands, ["band", "band_sig"], LSH_HOT_BUCKET_CAP
    )
    grouped = bands.groupBy("band", "band_sig").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    return (
        grouped.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    " y -> struct(x AS a_id, y AS b_id))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a_id"), F.col("p.b_id"))
        .distinct()
    )


@query(
    "dedup_simhash",
    sql=None,  # hash-family specific — rows-only; locally cross-validated.
    tables=("documents",),
    scale_note=(
        "64-bit SimHash per doc computed entirely with nested higher-order "
        "functions (no Python); near-dup candidates via 8-bit band "
        "matching, verified by hamming distance ≤ 7 (the 8×8-bit banding "
        "pigeonhole guarantee). 8-bit banding keeps "
        "the self-join linear in band-bucket sizes."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate candidate pairs with hamming distance."""
    # 64 majority-vote folds per row — CPU-bound, so spread the scan.
    d = spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    ).withColumn("toks", F.split(F.lower(F.col("text")), " "))
    # Per-token 64-bit hashes, then per-bit majority vote → simhash bits.
    hashed = d.withColumn("th", F.expr("transform(toks, t -> xxhash64(t))"))
    simhash = F.expr(
        "aggregate(sequence(0, 63), 0L, (acc, b) -> acc + "
        " (CASE WHEN aggregate(th, 0L,"
        "       (a, h) -> a + (CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)"
        "      ) > 0 THEN shiftleft(1L, b) ELSE 0L END))"
    )
    sh = hashed.select("doc_id", simhash.alias("simhash"))
    # Band on 8-bit chunks: docs sharing any chunk are candidates
    # (pigeonhole: hamming <= 7 always leaves one of 8 bands intact).
    quarters = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 7),"
                " q -> (simhash >> (q * 8)) & 255)"
            )
        ).alias("q", "qval"),
    )
    # The 64×majority-vote SimHash is the expensive subtree; persist the
    # small (doc, band, value) table so the self-join computes it once.
    quarters = persist_fresh("simhash_quarters", sf_dir, quarters)
    a = quarters.alias("a")
    b = quarters.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qval") == F.col("b.qval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("a_hash"),
            F.col("b.simhash").alias("b_hash"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash")))
    return pairs.select(
        "a_id", "b_id", hamming.alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


# Portable-hash MinHash twin (round 5): seeds/bands for the md5 family.
# Half the seed budget of the xxhash64 fast path — the twin's job is
# to drive-verify the ALGORITHM (signature → bands → bucket join →
# cap) with a hash family both engines implement bit-identically, not
# to chase the fast path's recall curve.
MD5_MINHASH_SEEDS = 16
MD5_LSH_BANDS = 4
MD5_LSH_ROWS = MD5_MINHASH_SEEDS // MD5_LSH_BANDS


@query(
    "dedup_minhash_md5",
    sql=f"""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(lower(text), ' ')) - 1),
                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                        string_split(lower(text), ' ')[i + 1] || ' ' ||
                        string_split(lower(text), ' ')[i + 2]))) AS s
        FROM documents
    ), hh AS (
        SELECT doc_id, u.seed AS seed,
               min(md5(CAST(u.seed AS VARCHAR) || ':' || s)) AS mh
        FROM sh, UNNEST(range(0, {MD5_MINHASH_SEEDS})) AS u(seed)
        GROUP BY doc_id, u.seed
    ), sig AS (
        SELECT doc_id, list(mh ORDER BY seed) AS sig FROM hh GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, u.band AS band,
               md5(array_to_string(
                   list_slice(sig, u.band * {MD5_LSH_ROWS} + 1,
                              u.band * {MD5_LSH_ROWS} + {MD5_LSH_ROWS}),
                   ',')) AS band_sig
        FROM sig, UNNEST(range(0, {MD5_LSH_BANDS})) AS u(band)
    ), keep AS (
        SELECT doc_id, band, band_sig FROM bands
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_sig)
                <= {LSH_HOT_BUCKET_CAP}
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM keep a JOIN keep b
      ON a.band = b.band AND a.band_sig = b.band_sig
     AND a.doc_id < b.doc_id
    """,
    tables=("documents",),
    scale_note=(
        "Hash-grade twin of dedup_minhash_lsh: the SAME banded-"
        "signature pipeline (per-seed min over shingle hashes → band "
        "signatures → bucket self-join → occupancy cap) run with an "
        "md5-string hash family that DuckDB reproduces bit-"
        "identically, so the driver value-hashes the ALGORITHM end to "
        "end — the xxhash64 sibling stays the fast path (integer "
        "hashes, 32 seeds) and keeps its rows-only contract for the "
        "hash-specific outputs.  Same plan shape and shuffle "
        "economics: one (doc, shingle) pass with partial min-"
        "aggregation, bands table ∝ docs × bands, never docs².  "
        "minhash-over-md5-strings is lexicographic min over lowercase "
        "hex — identical comparison semantics in both engines."
    ),
)
def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs under a portable md5 hash family —
    the driver-hash-verifiable twin of dedup_minhash_lsh."""
    sh = _doc_shingles(spark, sf_dir)
    sh = sh.withColumn(
        "h",
        F.expr(
            f"transform(sequence(0, {MD5_MINHASH_SEEDS - 1}),"
            " i -> md5(concat(cast(i as string), ':', s)))"
        ),
    )
    sig = sh.groupBy("doc_id").agg(
        F.array(
            *[F.min(F.col("h")[i]) for i in range(MD5_MINHASH_SEEDS)]
        ).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {MD5_LSH_BANDS - 1}),"
                f" b -> md5(concat_ws(',',"
                f" slice(sig, b * {MD5_LSH_ROWS} + 1, {MD5_LSH_ROWS}))))"
            )
        ).alias("band", "band_sig"),
    )
    bands = persist_fresh("md5_lsh_bands", sf_dir, bands)
    occ = bands.groupBy("band", "band_sig").agg(
        F.count("*").alias("occ")
    )
    keep = bands.join(
        occ.filter(F.col("occ") <= LSH_HOT_BUCKET_CAP).select(
            "band", "band_sig"
        ),
        ["band", "band_sig"],
    )
    a = keep.alias("a")
    b = keep.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )


# Portable-hash SimHash twin: 64-bit simhash from the first 16 hex
# chars of md5(token); 8 bands × 8 bits ⇒ pigeonhole guarantee
# hamming ≤ 7 — the SAME geometry as the xxhash64 fast path, so the
# twin differs ONLY in hash family (a 32-bit first cut missed one
# planted jaccard-0.95 pair at sf0.01 — narrower sketches are noisier;
# the pin below enforces the full-width recall).
MD5_SIMHASH_BITS = 64
MD5_SIMHASH_BANDS = 8
MD5_SIMHASH_MAX_HAMMING = MD5_SIMHASH_BANDS - 1


@query(
    "dedup_simhash_md5",
    sql=f"""
    WITH t AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), th AS (
        SELECT doc_id, substring(md5(tok), 1, 16) AS h8 FROM t
    ), votes AS (
        SELECT doc_id, u.b AS b,
               SUM(CASE WHEN
                   ((strpos('0123456789abcdef',
                            substring(h8, u.b // 4 + 1, 1)) - 1)
                    >> (u.b % 4)) & 1 = 1
                   THEN 1 ELSE -1 END) AS v
        FROM th, UNNEST(range(0, {MD5_SIMHASH_BITS})) AS u(b)
        GROUP BY doc_id, u.b
    ), sh AS (
        -- bit 63 contributes the two's-complement minimum directly:
        -- DuckDB's checked 1<<63 overflows, while Spark's shiftleft
        -- wraps to -2^63; stating the wrapped value keeps the engines
        -- bit-identical (sum accumulates in HUGEINT, cast back fits).
        SELECT doc_id,
               CAST(SUM(CASE WHEN v <= 0 THEN 0
                        WHEN b = 63
                        THEN CAST(-9223372036854775808 AS BIGINT)
                        ELSE (CAST(1 AS BIGINT) << b)
                        END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    ), q AS (
        SELECT doc_id, simhash, u.q AS q,
               (simhash >> (u.q * 8)) & 255 AS qval
        FROM sh, UNNEST(range(0, {MD5_SIMHASH_BANDS})) AS u(q)
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM q a JOIN q b
      ON a.q = b.q AND a.qval = b.qval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash))
          <= {MD5_SIMHASH_MAX_HAMMING}
    """,
    tables=("documents",),
    scale_note=(
        "Hash-grade twin of dedup_simhash (same pattern as "
        "dedup_minhash_md5): the identical majority-vote → band-match "
        "→ hamming-verify pipeline run over md5-derived token bits "
        "that DuckDB reproduces exactly, so the SimHash ALGORITHM "
        "carries a driver value-hash check while the 64-bit xxhash64 "
        "sibling remains the fast path.  Same economics: the vote "
        "fold is one nested-HOF map pass (md5 computed ONCE per "
        "token, bits extracted per fold step), candidates via the "
        "band self-join, never docs².  Bit extraction is hex-nibble "
        "arithmetic — locate/strpos on a 16-char alphabet — identical "
        "integer semantics in both engines."
    ),
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate pairs (hamming ≤ 7 over 64 md5-derived bits)
    — the driver-hash-verifiable twin of dedup_simhash."""
    d = spread(
        load(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    ).withColumn("toks", F.split(F.lower(F.col("text")), " "))
    hashed = d.withColumn(
        "th", F.expr("transform(toks, t -> substring(md5(t), 1, 16))")
    )
    simhash = F.expr(
        f"aggregate(sequence(0, {MD5_SIMHASH_BITS - 1}), 0L, (acc, b) -> acc + "
        " (CASE WHEN aggregate(th, 0L,"
        "       (a, h) -> a + (CASE WHEN"
        "         ((locate(substring(h, (b div 4) + 1, 1),"
        "                  '0123456789abcdef') - 1)"
        "          >> (b % 4)) & 1 = 1"
        "         THEN 1 ELSE -1 END)"
        "      ) > 0 THEN shiftleft(1L, b) ELSE 0L END))"
    )
    sh = hashed.select("doc_id", simhash.alias("simhash"))
    quarters = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {MD5_SIMHASH_BANDS - 1}),"
                " q -> (simhash >> (q * 8)) & 255)"
            )
        ).alias("q", "qval"),
    )
    quarters = persist_fresh("md5_simhash_quarters", sf_dir, quarters)
    a = quarters.alias("a")
    b = quarters.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qval") == F.col("b.qval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("a_hash"),
            F.col("b.simhash").alias("b_hash"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash"))).cast(
        "int"
    )
    return (
        pairs.select("a_id", "b_id", hamming.alias("hamming"))
        .filter(F.col("hamming") <= MD5_SIMHASH_MAX_HAMMING)
    )


# ---- LSH recall evaluation (round-7 continuation) ----------------------
# The dedup analog of ann_recall_eval: measure what fraction of the
# EXACT Jaccard>=tau pairs the banded-minhash candidate generation
# actually surfaces (recall), and how selective the candidate set is
# at the tau cut (precision proxy).  Both sides are registered,
# hash-verified keys — this eval composes their plans and the oracle
# restates BOTH pipelines in one statement, so the quality metric is
# itself hash-verified end to end (the ann_recall_eval pattern).


@query(
    "dedup_lsh_recall_eval",
    sql=f"""
    WITH jsh_all AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(lower(text), ' ')) - 1),
                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                        string_split(lower(text), ' ')[i + 1] || ' ' ||
                        string_split(lower(text), ' ')[i + 2]))) AS s
        FROM documents
    ),
    jsh AS (
        SELECT doc_id, s FROM jsh_all
        QUALIFY COUNT(*) OVER (PARTITION BY s) <= {SHINGLE_DF_CAP}
    ),
    jsizes AS (SELECT doc_id, COUNT(*) AS n FROM jsh GROUP BY 1),
    jpairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        FROM jsh a JOIN jsh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT a_id, b_id FROM jpairs
        JOIN jsizes sa ON sa.doc_id = a_id
        JOIN jsizes sb ON sb.doc_id = b_id
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)
                  >= {JACCARD_THRESHOLD}
    ),
    msh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(lower(text), ' ')) - 1),
                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                        string_split(lower(text), ' ')[i + 1] || ' ' ||
                        string_split(lower(text), ' ')[i + 2]))) AS s
        FROM documents
    ),
    mhh AS (
        SELECT doc_id, u.seed AS seed,
               min(md5(CAST(u.seed AS VARCHAR) || ':' || s)) AS mh
        FROM msh, UNNEST(range(0, {MD5_MINHASH_SEEDS})) AS u(seed)
        GROUP BY doc_id, u.seed
    ),
    msig AS (
        SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mhh GROUP BY doc_id
    ),
    mbands AS (
        SELECT doc_id, u.band AS band,
               md5(array_to_string(
                   list_slice(sig, u.band * {MD5_LSH_ROWS} + 1,
                              u.band * {MD5_LSH_ROWS} + {MD5_LSH_ROWS}),
                   ',')) AS band_sig
        FROM msig, UNNEST(range(0, {MD5_LSH_BANDS})) AS u(band)
    ),
    mkeep AS (
        SELECT doc_id, band, band_sig FROM mbands
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_sig)
                <= {LSH_HOT_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM mkeep a JOIN mkeep b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    hit AS (
        SELECT t.a_id FROM truth t
        JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
    ),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit
    )
    SELECT n_true, n_cand, n_hit,
           CASE WHEN n_true = 0 THEN 1.0
                ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
           END AS recall,
           CASE WHEN n_cand = 0 THEN 1.0
                ELSE CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
           END AS precision_at_tau
    FROM counts
    """,
    tables=("documents",),
    scale_note=(
        "Dedup-quality acceptance gate: composes the EXACT Jaccard "
        "miner (df-capped inverted-index self-join — linear in "
        "shingle volume) and the banded md5-minhash candidate "
        "generator (docs x bands shuffle), then two pair-keyed "
        "joins and a 1-row reduce.  On a real corpus the truth side "
        "runs on a SAMPLE (recall estimation does not need the full "
        "corpus — the ann_recall_eval QUERY_MOD design); the "
        "candidate side is the production path unchanged.  Both "
        "composed pipelines are independently driver-hash-verified "
        "keys, and the oracle restates them end to end."
    ),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall (and tau-cut precision) of banded md5-minhash candidate
    pairs against exact 3-gram Jaccard >= 0.8 truth pairs."""
    # Persist BOTH pair tables (aggregate-sized: id pairs only): each
    # side is consumed twice — its own count and the hit join — and
    # without the persist Spark re-executed the full shingle/Jaccard
    # and md5-minhash pipelines once per consumer (38 jobs/run,
    # VERDICT r14 item 3; the subtree recompute is the whole cost).
    truth = persist_fresh(
        "lsh_recall_truth",
        sf_dir,
        dedup_fuzzy_jaccard(spark, sf_dir).select("a_id", "b_id"),
    )
    cand = persist_fresh(
        "lsh_recall_cand",
        sf_dir,
        dedup_minhash_md5(spark, sf_dir).select("a_id", "b_id"),
    )
    n_true = truth.count()
    n_cand = cand.count()
    n_hit = truth.join(cand, ["a_id", "b_id"]).count()
    recall = 1.0 if n_true == 0 else float(n_hit) / float(n_true)
    prec = 1.0 if n_cand == 0 else float(n_hit) / float(n_cand)
    return local_frame(
        spark,
        [(n_true, n_cand, n_hit, recall, prec)],
        "n_true bigint, n_cand bigint, n_hit bigint, "
        "recall double, precision_at_tau double",
    )
