"""Operators whose entire point is the 100-TB posture (SURVEY.md §2.N):
reproducible hash-based sampling and mergeable HLL sketches — the two
primitives a training-data pipeline leans on when exact passes over the
full corpus stop being affordable.

Why hash sampling and not ``df.sample()``: RNG sampling is
partition-order dependent and unrepeatable across retries/re-runs; a
content-hash predicate is a pure function of the row, so the same rows
are selected on every run, on any cluster layout, and the predicate
pushes down to the scan like any other filter.  md5 over the
stringified key is computed identically by Spark and DuckDB (verified
byte-equal), which is what makes the sample oracle-checkable.

Why sketches: a per-partition HLL sketch is a few KB regardless of
input size and sketches MERGE, so distinct-counting 100 TB becomes a
two-phase agg whose shuffle carries kilobytes per group — same shape
Spark already uses for partial aggregation, made explicit here at the
(group × day) granularity so rollups across days reuse daily sketches
instead of rescanning raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..numerics import wide_dbl_sql
from ..registry import query
from ..tables import load, local_frame

# Keep 2 of 16 md5 first-nibble buckets ⇒ a deterministic 12.5% sample.
SAMPLE_NIBBLES = ("0", "1")
BOOSTED_TYPE = "error"  # rare class kept at 100% (training-data rebalance)


@query(
    "sample_hash_stratified",
    sql=f"""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type = '{BOOSTED_TYPE}'
       OR substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
          IN {SAMPLE_NIBBLES!r}
    """,
    tables=("events",),
    scale_note=(
        "Deterministic stratified sampling: rare class kept at 100%, the "
        "rest by a content-hash predicate (md5 nibble) — reproducible "
        "across runs/retries/cluster layouts, pushes down as a plain "
        "filter, no RNG state. The standard reproducible-subset recipe "
        "for 100-TB training-data curation."
    ),
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep all 'error' events plus a deterministic 12.5% hash-sample of
    everything else."""
    e = load(spark, sf_dir, "events")
    nibble = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    keep = F.when(F.col("event_type") == BOOSTED_TYPE, F.lit(True)).otherwise(
        nibble.isin(*SAMPLE_NIBBLES)
    )
    return e.filter(keep).select("event_id", "event_type", "value")


@query(
    "agg_hll_sketch",
    sql=None,  # DataSketches HLL binary sketches have no DuckDB twin;
    # the local suite pins the estimate within 5% of the exact count.
    tables=("events",),
    scale_note=(
        "Mergeable distinct-count sketches: per-(type, day) HLL sketches "
        "(KBs each) built in one pass, then UNIONED to per-type totals — "
        "the shuffle carries sketches, not user ids. At 100 TB the daily "
        "sketch layer is materialized once and every rollup window "
        "(7d/30d/all-time) is a sketch merge, never a rescan."
    ),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via daily HLL sketches
    merged with hll_union_agg (exact twin: agg_count_distinct)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )


SAMPLE_K = 20


@query(
    "sample_exact_k_stratified",
    sql=f"""
    SELECT event_id, event_type, value FROM (
        SELECT event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rn
        FROM events
    ) WHERE rn <= {SAMPLE_K}
    """,
    tables=("events",),
    scale_note=(
        "Exact-k-per-stratum sampling: rank rows inside each stratum by "
        "their content hash (md5 of the key — a deterministic, "
        "layout-independent permutation) and keep the first k. The "
        "fraction-based twin is sample_hash_stratified; exact-k is what "
        "eval-set construction needs (same k per class regardless of "
        "class skew). One shuffle on the stratum key; the per-stratum "
        "top-k never materializes more than k rows per group past the "
        "window."
    ),
)
def sample_exact_k_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=20 events per event_type, chosen by content-hash rank
    (reproducible across runs and cluster layouts)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        e.select("event_id", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K)
        .drop("rn")
    )


# K-minimum-values sketch size for the portable distinct-count twin.
KMV_K = 64
# 16^15 = 2^60 as an exact double: the hash-prefix value space.
KMV_SPACE = float(1 << 60)


@query(
    "agg_kmv_distinct",
    # constants interpolated from KMV_K so the oracle can never
    # silently desynchronize from the Spark side (ADVICE r5)
    sql=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               md5(CAST(user_id AS VARCHAR)) AS hv
        FROM events
    ), ranked AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv)
                   AS rn
        FROM h
    ), sk AS (
        SELECT event_type,
               CAST(MAX(rn) AS BIGINT) AS n_seen,
               MAX(hv) AS kth
        FROM ranked WHERE rn <= {KMV_K}
        GROUP BY event_type
    )
    SELECT event_type, n_seen,
           CASE WHEN n_seen < {KMV_K} THEN CAST(n_seen AS DOUBLE)
                ELSE ({KMV_K} - 1)
                     / (CAST((((((((((((((((CAST(0 AS BIGINT) * 16 + (strpos('0123456789abcdef', substring(kth, 1, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 4, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 5, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 6, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 7, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 8, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 9, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 10, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 11, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 12, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 13, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 14, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 15, 1)) - 1)) AS DOUBLE)
                        / 1152921504606846976.0)
           END AS est_users
    FROM sk
    """,
    tables=("events",),
    scale_note=(
        "Distinct-count SKETCH with a driver value-hash check -- the "
        "portable twin of agg_approx_count_distinct/agg_hll_sketch "
        "(whose HLL internals are engine-specific by nature): "
        "K-minimum-values over md5(user). The estimator (k-1)/v_k "
        "needs only the k-th smallest hash per group, so sketch state "
        "is k hashes per group (mergeable by union+truncate -- the "
        "same partial/final split HLL enjoys; the declared per-group "
        "rank window is the semantic spec, and at 100 TB the rank is "
        "replaced by a per-partition top-k merge so no full per-group "
        "sort happens). Small groups (n<k) report exactly. The hash "
        "prefix value is recovered by a 15-digit Horner fold in "
        "BIGINT (exact: 16^15 < 2^63) so both engines divide the "
        "same two numbers."
    ),
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via a k-minimum-
    values sketch (k=64) under a portable md5 hash family."""
    e = load(spark, sf_dir, "events")
    h = e.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.max("rn").cast("bigint").alias("n_seen"),
            F.max("hv").alias("kth"),
        )
    )
    val = F.expr("(((((((((((((((CAST(0 AS BIGINT) * 16 + (locate(substring(kth, 1, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 2, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 3, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 4, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 5, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 6, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 7, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 8, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 9, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 10, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 11, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 12, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 13, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 14, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 15, 1), '0123456789abcdef') - 1))")
    return sk.select(
        "event_type",
        "n_seen",
        F.when(
            F.col("n_seen") < KMV_K, F.col("n_seen").cast("double")
        )
        .otherwise(
            (KMV_K - 1) / (val.cast("double") / F.lit(KMV_SPACE))
        )
        .alias("est_users"),
    )


@query(
    "agg_bitmap_distinct",
    sql="""
    WITH words AS (
        -- bit 63 contributes the two's-complement minimum directly:
        -- DuckDB's checked 1<<63 overflows where Spark's shiftleft
        -- wraps (same dialect note as dedup_simhash_md5's oracle).
        SELECT event_type, user_id // 64 AS word_idx,
               bit_or(CASE WHEN user_id % 64 = 63
                      THEN CAST(-9223372036854775808 AS BIGINT)
                      ELSE CAST(1 AS BIGINT)
                           << CAST(user_id % 64 AS INT) END) AS word
        FROM events
        GROUP BY event_type, user_id // 64
    )
    SELECT event_type,
           CAST(SUM(bit_count(word)) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM words
    GROUP BY event_type
    """,
    tables=("events",),
    scale_note=(
        "EXACT distinct counting without shuffling raw values — the "
        "bitmap-index pattern (Druid/ClickHouse groupBitmap): ids "
        "pack into 64-bit words (word = id div 64, bit = id mod 64), "
        "the per-(group, word) bit_or partial-aggregates map-side, "
        "and the count is a sum of popcounts.  Shuffle carries one "
        "word per (group, occupied word) — for a dictionary-encoded "
        "or domain-bounded id column that is |domain|/64 longs per "
        "group REGARDLESS of row count, and the words are mergeable "
        "by bit_or (rollups never rescan).  The complement of "
        "agg_kmv_distinct: exact when the domain is bounded, sketch "
        "when it is not.  Requires dense-ish ids; at 100 TB the "
        "dictionary-encoding pass that produces them is the standard "
        "prerequisite (same as Druid ingestion)."
    ),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via 64-bit bitmap words
    (mergeable popcount aggregation, no raw-value shuffle)."""
    e = load(spark, sf_dir, "events")
    words = (
        e.groupBy(
            "event_type",
            # integer floor division (`div`), matching the oracle's
            # `//` for ALL id domains — float division truncates
            # toward zero and loses exactness above 2^53
            F.expr("user_id div 64").alias("word_idx"),
        )
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
            ).alias("word")
        )
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_words"),
    )



@query(
    "agg_kmv_union_intersect",
    sql=f"""
    WITH f AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS b
        FROM events GROUP BY user_id
    ), u AS (
        SELECT md5(CAST(user_id AS VARCHAR)) AS hv, a, b
        FROM f WHERE a = 1 OR b = 1
    ), ranked AS (
        SELECT hv, a, b, row_number() OVER (ORDER BY hv) AS rn FROM u
    ), sk AS (
        SELECT CAST(MAX(rn) AS BIGINT) AS n_seen,
               MAX(hv) AS kth,
               CAST(SUM(a * b) AS BIGINT) AS n_both
        FROM ranked WHERE rn <= {KMV_K}
    )
    SELECT n_seen, n_both,
           CASE WHEN n_seen < {KMV_K} THEN CAST(n_seen AS DOUBLE)
                ELSE ({KMV_K} - 1)
                     / (CAST((((((((((((((((CAST(0 AS BIGINT) * 16 + (strpos('0123456789abcdef', substring(kth, 1, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 4, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 5, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 6, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 7, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 8, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 9, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 10, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 11, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 12, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 13, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 14, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 15, 1)) - 1)) AS DOUBLE)
                        / 1152921504606846976.0)
           END AS est_union,
           CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE)
               AS jaccard_est,
           (CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE))
           * CASE WHEN n_seen < {KMV_K} THEN CAST(n_seen AS DOUBLE)
                  ELSE ({KMV_K} - 1)
                       / (CAST((((((((((((((((CAST(0 AS BIGINT) * 16 + (strpos('0123456789abcdef', substring(kth, 1, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 4, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 5, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 6, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 7, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 8, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 9, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 10, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 11, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 12, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 13, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 14, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 15, 1)) - 1)) AS DOUBLE)
                          / 1152921504606846976.0)
             END AS est_intersect
    FROM sk
    """,
    tables=("events",),
    scale_note=(
        "Audience-overlap estimation from KMV sketches — the "
        "set-OPERATION capability HLL lacks without per-pair unions: "
        "the k smallest hashes of A UNION B form an unbiased uniform "
        "sample of the union, so |A INTERSECT B| / |A UNION B| is "
        "estimated by the fraction of those k members flagged in "
        "BOTH sets, and the intersection size is that fraction times "
        "the KMV union estimate.  The per-user flag pass is one "
        "partial agg; the global k-min is computed in two bounded "
        "levels — a per-nibble-bucket top-k window (16 hash-uniform "
        "buckets, each keeps <= k rows, partitioned exchange) and a "
        "final rank over the <= 16*k surviving candidates (an "
        "aggregate-sized window, like a sketch merge, NOT a "
        "data-sized sort: every global top-k member is a bucket-"
        "local top-k member, so the two-level cut is exact).  All "
        "estimate arithmetic is the same ordered IEEE expression on "
        "both engines over exact BIGINT inputs."
    ),
)
def agg_kmv_union_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV union/Jaccard/intersection estimates for the click-user vs
    purchase-user audience pair (k=64, md5 hash family)."""
    e = load(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("b"),
    )
    u = f.filter((F.col("a") == 1) | (F.col("b") == 1)).select(
        F.md5(F.col("user_id").cast("string")).alias("hv"), "a", "b"
    )
    from pyspark.sql import Window

    # Two-level global k-min (no data-sized single-partition sort):
    # level 1 keeps the k smallest hashes within each of the 16
    # first-nibble buckets (hash-uniform, partitioned exchange); any
    # global top-k hash is necessarily a top-k hash of its own bucket,
    # so level 2 only ranks the <= 16*k survivors — a bounded,
    # aggregate-sized window, the same shape as a sketch merge.
    wb = Window.partitionBy("bucket").orderBy("hv")
    cand = (
        u.withColumn("bucket", F.substring("hv", 1, 1))
        .withColumn("brn", F.row_number().over(wb))
        .filter(F.col("brn") <= KMV_K)
        .drop("bucket", "brn")
    )
    w = Window.orderBy("hv")
    sk = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .agg(
            F.max("rn").cast("bigint").alias("n_seen"),
            F.max("hv").alias("kth"),
            F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n_both"),
        )
    )
    val = F.expr("(((((((((((((((CAST(0 AS BIGINT) * 16 + (locate(substring(kth, 1, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 2, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 3, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 4, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 5, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 6, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 7, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 8, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 9, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 10, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 11, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 12, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 13, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 14, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 15, 1), '0123456789abcdef') - 1))")
    est_union = F.when(
        F.col("n_seen") < KMV_K, F.col("n_seen").cast("double")
    ).otherwise((KMV_K - 1) / (val.cast("double") / F.lit(KMV_SPACE)))
    jac = F.col("n_both").cast("double") / F.col("n_seen").cast("double")
    return sk.select(
        "n_seen",
        "n_both",
        est_union.alias("est_union"),
        jac.alias("jaccard_est"),
        (jac * est_union).alias("est_intersect"),
    )



# Pane sketch size for the sliding-distinct merge (smaller than KMV_K:
# the point is the MERGE mechanics, and panes x windows multiply).
PANE_K = 32
SLIDE_HOURS = 3  # each window covers [h-2, h]


@query(
    "ts_sliding_distinct_kmv",
    sql=f"""
    WITH h AS (
        SELECT DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               md5(CAST(user_id AS VARCHAR)) AS hv
        FROM events
    ), ranked AS (
        SELECT hr, hv,
               row_number() OVER (PARTITION BY hr ORDER BY hv) AS rn
        FROM h
    ), pane AS (
        SELECT hr, list(hv ORDER BY hv) AS mins
        FROM ranked WHERE rn <= {PANE_K}
        GROUP BY hr
    ), hours AS (SELECT DISTINCT hr FROM pane
    ), win AS (
        SELECT w.hr AS win_end,
               list_sort(list_distinct(flatten(list(p.mins)))) AS u
        FROM hours w
        JOIN pane p
          ON p.hr >= w.hr - INTERVAL ({SLIDE_HOURS} - 1) HOUR AND p.hr <= w.hr
        GROUP BY w.hr
    ), sk AS (
        SELECT win_end,
               CAST(least(len(u), {PANE_K}) AS BIGINT) AS n_seen,
               u[CAST(least(len(u), {PANE_K}) AS BIGINT)] AS kth
        FROM win
    )
    SELECT win_end, n_seen,
           CASE WHEN n_seen < {PANE_K} THEN CAST(n_seen AS DOUBLE)
                ELSE ({PANE_K} - 1)
                     / (CAST((((((((((((((((CAST(0 AS BIGINT) * 16 + (strpos('0123456789abcdef', substring(kth, 1, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 4, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 5, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 6, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 7, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 8, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 9, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 10, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 11, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 12, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 13, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 14, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substring(kth, 15, 1)) - 1)) AS DOUBLE)
                        / 1152921504606846976.0)
           END AS est_users
    FROM sk
    """,
    tables=("events",),
    scale_note=(
        "Sliding-window distinct counting WITHOUT rescanning panes -- "
        "the end-to-end proof of the sketch-merge claim the HLL/KMV "
        "scale notes make: each hour keeps only its k smallest user "
        "hashes (pane state = k strings, built once), and every "
        "sliding window is a MERGE of its panes' lists (distinct-"
        "union, sort, truncate to k) followed by the same (k-1)/v_k "
        "estimate -- union-then-truncate of k-min sets is exactly the "
        "KMV of the union, so merging loses nothing.  Shuffle "
        "carries k hashes per pane; the window join fans each pane "
        "into <= W windows (W = 3 here) -- at 100 TB that is "
        "panes x W x k strings, independent of row count.  Windows "
        "with fewer than k distinct users report exactly."
    ),
)
def ts_sliding_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per 3-hour sliding window from
    merged hourly KMV panes (k=32, md5 hash family)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    h = e.select(
        F.date_trunc("hour", "ts").alias("hr"),
        F.md5(F.col("user_id").cast("string")).alias("hv"),
    ).distinct()
    w = Window.partitionBy("hr").orderBy("hv")
    pane = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PANE_K)
        .groupBy("hr")
        .agg(F.sort_array(F.collect_list("hv")).alias("mins"))
    )
    hours = pane.select(F.col("hr").alias("win_end")).distinct()
    joined = hours.join(
        pane,
        (F.col("hr") >= F.col("win_end") - F.expr(
            f"INTERVAL {SLIDE_HOURS - 1} HOURS"
        ))
        & (F.col("hr") <= F.col("win_end")),
    )
    win = joined.groupBy("win_end").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("mins")))
        ).alias("u")
    )
    n_seen = F.least(F.size("u"), F.lit(PANE_K)).cast("bigint")
    sk = win.select(
        "win_end",
        n_seen.alias("n_seen"),
        F.element_at("u", n_seen.cast("int")).alias("kth"),
    )
    val = F.expr("(((((((((((((((CAST(0 AS BIGINT) * 16 + (locate(substring(kth, 1, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 2, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 3, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 4, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 5, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 6, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 7, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 8, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 9, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 10, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 11, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 12, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 13, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 14, 1), '0123456789abcdef') - 1)) * 16 + (locate(substring(kth, 15, 1), '0123456789abcdef') - 1))")
    return sk.select(
        "win_end",
        "n_seen",
        F.when(
            F.col("n_seen") < PANE_K, F.col("n_seen").cast("double")
        )
        .otherwise(
            (PANE_K - 1) / (val.cast("double") / F.lit(KMV_SPACE))
        )
        .alias("est_users"),
    )


SAMPLE_PPS_K = 20  # picks per group


@query(
    "sample_weighted_pps",
    sql=f"""
    WITH h AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(o_totalprice AS DECIMAL(12,2)) AS w,
               md5(CAST(o_orderkey AS VARCHAR)) AS hv
        FROM orders
    ),
    c AS (
        SELECT o_orderkey, o_orderpriority, w,
               CAST(SUM(w * 100) OVER (PARTITION BY o_orderpriority
                                       ORDER BY hv, o_orderkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS wi,
               CAST(SUM(w * 100) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS tot
        FROM h
    ),
    j AS (
        SELECT *,
               (wi * {SAMPLE_PPS_K}) // tot AS ji,
               ((wi - CAST(w * 100 AS BIGINT)) * {SAMPLE_PPS_K}) // tot
                   AS jprev
        FROM c
    )
    SELECT o_orderpriority, o_orderkey,
           CAST(w AS DOUBLE) AS weight,
           CAST(ji - jprev AS BIGINT) AS n_slots
    FROM j WHERE ji > jprev
    """,
    tables=("orders",),
    scale_note=(
        "Weighted sampling WITHOUT transcendentals: systematic "
        "PPS (probability-proportional-to-size) over the md5-hash "
        "order — a row is selected when its exact-decimal cumulative "
        "weight crosses a multiple of W/k, tested as the INTEGER "
        "comparison (Σw·100·k) div (W·100), so selection is exact on "
        "both engines at any scale (the A-ES u^(1/w) key would rank "
        "by pow/ln, which neither engine rounds identically).  The "
        "cumulative weight is computed the DISTRIBUTED way — the "
        "nibble-bucket + broadcast-offsets rank train_shuffle_shard "
        "uses: intra-(group, hash-nibble) window (16 hash-uniform "
        "partitions per group) plus an aggregate-sized bucket-offset "
        "join; the hash-prefix bucket keeps global order, so wi "
        "equals the single-window value exactly, without any "
        "data-sized per-group sort (the oracle restates the plain "
        "window — identical integers).  A row's predecessor cumsum "
        "is wi − w·100 by construction, so no lag pass.  Inclusion "
        "probability ∝ weight by the systematic-PPS theorem; heavy "
        "rows (w ≥ W/k) report multiplicity in n_slots.  The hash "
        "order is the deterministic stand-in for the random "
        "permutation — same reproducibility contract as "
        "sample_hash_stratified."
    ),
)
def sample_weighted_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=20 orders per priority, selected with probability ∝
    o_totalprice via exact-integer systematic PPS over md5 order —
    cumulative weights computed two-level (nibble buckets + broadcast
    offsets), never a data-sized per-group window."""
    from pyspark.sql import Window

    from ..numerics import dec

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        dec("o_totalprice").alias("w"),
        F.md5(F.col("o_orderkey").cast("string")).alias("hv"),
    ).withColumn("bucket", F.substring("hv", 1, 1))
    # Level 1: cumulative weight within each (group, hash-nibble)
    # bucket — 16 hash-uniform partitions per group, so no partition
    # is data-sized at any scale.
    wseq = (
        Window.partitionBy("o_orderpriority", "bucket")
        .orderBy("hv", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = o.withColumn(
        "wi_local", F.sum(F.col("w") * 100).over(wseq).cast("bigint")
    )
    # Level 2: per-bucket totals → cumulative offsets across the 16
    # buckets in bucket order (aggregate-sized: groups × 16 rows) +
    # per-group grand totals; broadcast back.  bucket = hv[0] makes
    # (bucket, hv) order ≡ global hv order, so offset + local cumsum
    # equals the single-window cumulative EXACTLY.
    btot = local.groupBy("o_orderpriority", "bucket").agg(
        F.sum(F.col("w") * 100).cast("bigint").alias("bt")
    )
    woff = (
        Window.partitionBy("o_orderpriority")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("o_orderpriority")
    offsets = btot.select(
        "o_orderpriority",
        "bucket",
        F.coalesce(F.sum("bt").over(woff), F.lit(0)).alias("off"),
        F.sum("bt").over(wall).alias("tot"),
    )
    c = local.join(
        F.broadcast(offsets), ["o_orderpriority", "bucket"]
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "w",
        (F.col("wi_local") + F.col("off")).alias("wi"),
        "tot",
    )
    j = c.select(
        "o_orderkey",
        "o_orderpriority",
        "w",
        F.expr(f"(wi * {SAMPLE_PPS_K}) div tot").alias("ji"),
        F.expr(
            f"((wi - CAST(w * 100 AS BIGINT)) * {SAMPLE_PPS_K}) div tot"
        ).alias("jprev"),
    )
    return j.filter(F.col("ji") > F.col("jprev")).select(
        "o_orderpriority",
        "o_orderkey",
        F.col("w").cast("double").alias("weight"),
        (F.col("ji") - F.col("jprev")).cast("bigint").alias("n_slots"),
    )


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 64  # buckets per row
CMS_PROBE_USERS = tuple(range(10))  # fixed probe set for the readout


def _cms_bucket_sql(d: str, item: str) -> str:
    """Bucket of ``item`` in hash row ``d``: first two hex digits of
    md5(d || ':' || item) mod width — engine-portable (the same
    hex-nibble Horner fold the KMV family uses)."""
    hexd = f"md5(CAST({d} AS VARCHAR) || ':' || CAST({item} AS VARCHAR))"
    nib = "0123456789abcdef"
    return (
        f"(((strpos('{nib}', substring({hexd}, 1, 1)) - 1) * 16"
        f" + (strpos('{nib}', substring({hexd}, 2, 1)) - 1))"
        f" % {CMS_WIDTH})"
    )


def _cms_bucket_spark(d: str, item: str) -> str:
    hexd = f"md5(concat(CAST({d} AS STRING), ':', CAST({item} AS STRING)))"
    return (
        f"(CAST(conv(substring({hexd}, 1, 2), 16, 10) AS BIGINT)"
        f" % {CMS_WIDTH})"
    )


@query(
    "agg_heavy_hitters_cms",
    sql=f"""
    WITH d AS (SELECT unnest(range({CMS_DEPTH})) AS d),
    cells AS (
        SELECT d.d, {_cms_bucket_sql('d.d', 'e.user_id')} AS bucket,
               COUNT(*) AS c
        FROM events e, d
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT p.user_id, d.d,
               {_cms_bucket_sql('d.d', 'p.user_id')} AS bucket
        FROM (VALUES {", ".join(f"({u})" for u in CMS_PROBE_USERS)})
             p(user_id), d
    ),
    est AS (
        SELECT p.user_id, MIN(COALESCE(c.c, 0)) AS cms_est
        FROM probe p
        LEFT JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
        GROUP BY 1
    ),
    truth AS (
        SELECT user_id, COUNT(*) AS true_n
        FROM events GROUP BY 1
    )
    SELECT e.user_id,
           CAST(COALESCE(t.true_n, 0) AS BIGINT) AS true_n,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           e.cms_est >= COALESCE(t.true_n, 0) AS never_underestimates
    FROM est e LEFT JOIN truth t ON t.user_id = e.user_id
    """,
    tables=("events",),
    scale_note=(
        "Count-min sketch with a PORTABLE hash family (md5 bucket per "
        "depth row — the same hex-Horner trick as the KMV twins), so "
        "the whole sketch is hash-grade instead of the engine-binary "
        "F.count_min_sketch: cell counts are exact integers built in "
        "ONE grouped pass over an explode-by-depth (shuffle = "
        "depth×width cells, 256 rows, regardless of input size — the "
        "sketch IS the shuffle bound), estimates are min-over-rows, "
        "and the one-sided guarantee (never underestimates, "
        "overestimate ≤ εN with ε=e/width) is emitted as a column the "
        "oracle checks row by row.  Mergeable by cell-wise addition — "
        "at 100 TB daily cell tables merge into any window without "
        "rescans, the same rollup story as the KMV/bitmap keys."
    ),
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-count estimates for a fixed probe set from a
    4×64 count-min sketch (exact integer cells, portable hashes)."""
    e = load(spark, sf_dir, "events")
    d = spark.range(CMS_DEPTH).select(F.col("id").alias("d"))
    cells = (
        e.join(F.broadcast(d))
        .select("d", F.expr(_cms_bucket_spark("d", "user_id")).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("c"))
    )
    probe = local_frame(
        spark, [(u,) for u in CMS_PROBE_USERS], "user_id bigint"
    ).join(F.broadcast(d)).select(
        "user_id",
        "d",
        F.expr(_cms_bucket_spark("d", "user_id")).alias("bucket"),
    )
    est = (
        probe.join(F.broadcast(cells), ["d", "bucket"], "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )
    truth = e.groupBy("user_id").agg(F.count("*").alias("true_n"))
    return (
        est.join(truth, "user_id", "left")
        .select(
            "user_id",
            F.coalesce(F.col("true_n"), F.lit(0)).cast("bigint").alias("true_n"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") >= F.coalesce(F.col("true_n"), F.lit(0))).alias(
                "never_underestimates"
            ),
        )
    )


# ---- Neyman-allocation stratified sampling (round 7) -----------------
# sample_exact_k_stratified takes the SAME k from every stratum;
# survey statistics says that wastes budget — under a fixed total
# budget n, variance of the estimated total is minimized by n_h ∝
# N_h·σ_h (Neyman 1934).  This operator computes the optimal
# allocation from exact per-stratum moments and then draws it with
# the house md5-rank selection, reporting per stratum: population
# size, σ, the allocation, and checksums of the drawn sample.
# Determinism: moments are exact (decimal sums bridged with wide_dbl,
# the r6 co-moment idiom); σ is one identical IEEE expression; the
# allocation itself is EXACT INTEGER arithmetic (cent-quantized
# weights, round-half-up division (2·n·w + W) div (2·W)), so no
# float ever crosses rows and the drawn sample is hash-stable.
NEYMAN_N = 100
_TP = "CAST(o_totalprice AS DECIMAL(12,2))"


@query(
    "sample_stratified_neyman",
    sql=f"""
    WITH m AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_pop,
               {wide_dbl_sql(f'SUM({_TP})')} AS sx,
               {wide_dbl_sql(f'SUM({_TP} * {_TP})')} AS sxx
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT o_orderpriority, n_pop,
               sqrt(n_pop * sxx - sx * sx) / n_pop AS sigma,
               CAST(floor(n_pop * (sqrt(n_pop * sxx - sx * sx) / n_pop)
                          * 100 + 0.5) AS BIGINT) AS wq
        FROM m
    ),
    tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot FROM s),
    alloc AS (
        SELECT s.o_orderpriority, s.n_pop, s.sigma,
               CASE WHEN t.wtot = 0 THEN 0
                    ELSE (2 * {NEYMAN_N} * s.wq + t.wtot) // (2 * t.wtot)
               END AS n_alloc
        FROM s, tot t
    ),
    ranked AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(o_totalprice AS DECIMAL(12,2)) AS tp,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
               ) AS rn
        FROM orders
    ),
    drawn AS (
        SELECT r.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(r.o_orderkey) AS BIGINT) AS id_checksum,
               CAST(SUM(r.tp) AS DOUBLE) AS sample_total
        FROM ranked r JOIN alloc a USING (o_orderpriority)
        WHERE r.rn <= a.n_alloc
        GROUP BY 1
    )
    SELECT a.o_orderpriority, a.n_pop, a.sigma,
           CAST(a.n_alloc AS BIGINT) AS n_alloc,
           d.n_sampled, d.id_checksum, d.sample_total
    FROM alloc a JOIN drawn d USING (o_orderpriority)
    """,
    tables=("orders",),
    scale_note=(
        "Optimal-allocation sampling in two passes: one two-phase "
        "moment aggregation (exact decimal sums, wide_dbl-bridged to "
        "identical doubles), then the md5-rank draw — one shuffle on "
        "the stratum key, per-stratum top-n_alloc never materializes "
        "more than n_alloc rows past the window (the "
        "sample_exact_k_stratified plan with a broadcast allocation "
        "join).  The allocation arithmetic is exact integers "
        "(cent-quantized weights, round-half-up integer division), "
        "so no cross-row float aggregation exists anywhere — the "
        "whole design, draw included, is hash-grade.  At 100 TB "
        "stratum moments are groups-sized; the draw's window is the "
        "standard stratified-sampling shuffle."
    ),
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (N_h·sigma_h-proportional) allocation of a 100-row budget
    across order priorities, drawn by md5 rank, with draw checksums."""
    from pyspark.sql import Window

    from ..numerics import dec, wide_dbl

    o = load(spark, sf_dir, "orders")
    m = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_pop"),
        wide_dbl(F.sum(dec("o_totalprice"))).alias("sx"),
        wide_dbl(F.sum(dec("o_totalprice") * dec("o_totalprice"))).alias(
            "sxx"
        ),
    )
    n, sx, sxx = F.col("n_pop"), F.col("sx"), F.col("sxx")
    sigma = F.sqrt(n * sxx - sx * sx) / n
    s = m.select(
        "o_orderpriority",
        "n_pop",
        sigma.alias("sigma"),
        F.floor(n * sigma * 100 + 0.5).cast("bigint").alias("wq"),
    )
    tot = s.agg(F.sum("wq").cast("bigint").alias("wtot"))
    # All-zero-variance strata (a constant price domain) zero the
    # weight total; Neyman allocation then needs no samples at all —
    # n_alloc 0 everywhere rather than an ANSI DIVIDE_BY_ZERO job
    # kill (r10 degenerate-domain sweep; oracle guarded identically).
    alloc = s.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n_pop",
        "sigma",
        F.when(F.col("wtot") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            (
                (2 * NEYMAN_N * F.col("wq") + F.col("wtot"))
                / (2 * F.col("wtot"))
            ).cast("bigint")
        )
        .alias("n_alloc"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    ranked = o.select(
        "o_orderpriority",
        "o_orderkey",
        dec("o_totalprice").alias("tp"),
    ).withColumn("rn", F.row_number().over(w))
    drawn = (
        ranked.join(
            F.broadcast(alloc.select("o_orderpriority", "n_alloc")),
            "o_orderpriority",
        )
        .filter(F.col("rn") <= F.col("n_alloc"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum("o_orderkey").cast("bigint").alias("id_checksum"),
            F.sum("tp").cast("double").alias("sample_total"),
        )
    )
    return alloc.join(drawn, "o_orderpriority").select(
        "o_orderpriority",
        "n_pop",
        "sigma",
        "n_alloc",
        "n_sampled",
        "id_checksum",
        "sample_total",
    )


# ---- class-balanced downsampling (round 7) ---------------------------
# The class-rebalance step before training a classifier on skewed
# labels: downsample every event-type class to the MINORITY class's
# size, deterministically (md5 rank — the house permutation stand-in).
# Unlike sample_exact_k_stratified's FIXED k, the quota here is
# data-derived (min class count via an aggregate-sized broadcast), so
# the output is exactly balanced at any scale without a config knob.


@query(
    "sample_balanced_classes",
    sql="""
    WITH sizes AS (
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
    ),
    quota AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM sizes),
    ranked AS (
        SELECT event_id, event_type,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rn
        FROM events
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(r.event_id) AS BIGINT) AS id_checksum
    FROM ranked r, quota q
    WHERE r.rn <= q.k
    GROUP BY 1
    """,
    tables=("events",),
    scale_note=(
        "Dynamic-quota balanced sampling: class sizes are one "
        "two-phase agg, the minority quota is a 1-row broadcast, and "
        "the draw is the per-class md5-rank window (one shuffle on "
        "the class key; at most k rows per class survive the "
        "window).  Deterministic, layout-independent, and exactly "
        "balanced at any scale with no tuning knob; the checksum "
        "output keeps the driver compare row-bounded while still "
        "hash-verifying the exact drawn set."
    ),
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every event-type class to the minority class's size
    by md5 rank; report per-class count + drawn-id checksum."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    quota = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").cast("bigint").alias("k"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    ranked = e.select("event_id", "event_type").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )
    )


# ---- deterministic bootstrap confidence interval (round 11 wave 4) -----
# The resampling workhorse of large-scale data quality reporting: a
# bootstrap CI on a mean without any RNG state.  Each (row, replicate)
# draw count is Poisson(1) — the standard Poisson-bootstrap
# approximation of multinomial resampling, EXACT for streaming/
# distributed execution because every row decides its own weight
# independently — inverted from an md5-uniform by comparing the first
# 8 hex chars AS A STRING against fixed hex thresholds (md5 hex is
# monotone in the underlying 32-bit value, and string comparison is
# byte-identical in both engines — no float CDF anywhere).
BOOT_REPLICATES = 32
# floor(CDF_Poisson(1)(k) * 2^32) in hex, k = 0..8 (generated offline;
# u >= last threshold draws weight 9, P ≈ 1.1e-6).
_BOOT_T = [
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f",
]


def _boot_weight_case(u: str) -> str:
    """CASE expression mapping an 8-hex-char uniform to Poisson(1)."""
    arms = " ".join(
        f"WHEN {u} < '{t}' THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"(CASE {arms} ELSE 9 END)"


@query(
    "sample_bootstrap_ci",
    sql=f"""
    WITH reps AS (SELECT unnest(range({BOOT_REPLICATES})) AS rep),
    drawn AS (
        SELECT o.o_orderpriority, reps.rep,
               {_boot_weight_case(
                   "substring(md5(CAST(o.o_orderkey AS VARCHAR) || ':' "
                   "|| CAST(reps.rep AS VARCHAR)), 1, 8)"
               )} AS w,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o, reps
    ),
    rep_means AS (
        -- DECIMAL(38,0) accumulation (house convention, ADVICE r11):
        -- per-(priority, rep) SUM(w*cents) approaches 2^63 at 100-TB
        -- group sizes, so int64 would abort under ANSI; 38 digits
        -- gives ~10^19 headroom over the worst case.
        SELECT o_orderpriority, rep,
               CAST(SUM(CAST(w * cents AS DECIMAL(38,0))) AS DOUBLE)
                   / (SUM(w) * 100.0) AS rep_mean
        FROM drawn GROUP BY 1, 2
        HAVING SUM(w) > 0
    ),
    sorted_means AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_reps,
               list(rep_mean ORDER BY rep_mean) AS ms
        FROM rep_means GROUP BY 1
    ),
    pt AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                             AS DECIMAL(38,0)))
                    AS DOUBLE) / (COUNT(*) * 100.0) AS point_mean
        FROM orders GROUP BY 1
    )
    SELECT s.o_orderpriority, pt.n_orders, pt.point_mean, s.n_reps,
           -- order-statistic indices are COUNT-RELATIVE: a tiny
           -- group can draw weight 0 in some replicates (dropped by
           -- the HAVING), so fewer than R means exist — a fixed
           -- ms[31] indexes past the array (one-row sweep, r11)
           s.ms[least(2, CAST(s.n_reps AS INT))] AS ci_lo,
           s.ms[greatest(CAST(s.n_reps AS INT) - 1, 1)] AS ci_hi
    FROM sorted_means s JOIN pt USING (o_orderpriority)
    """,
    tables=("orders",),
    scale_note=(
        "Poisson bootstrap (the distributed-systems bootstrap: each "
        "row draws its replicate weights independently, so resampling "
        "is ONE stateless map — no sampling with replacement across "
        "the cluster).  Explode ×R is map-side; the aggregate reduces "
        "to (groups × R) cells — constant per group at any corpus "
        "size; the CI is the 2nd/31st order statistic over EXACTLY R "
        "per-replicate means, computed by sorting an R-length array "
        "(order-pinned fold, never a data-sized sort).  All draw "
        "weights integer via hex-string threshold compare (no float "
        "CDF); replicate sums accumulate exact DECIMAL(38,0) cents on "
        "BOTH engines (int64 would saturate near 2^63 at 100-TB group "
        "sizes under ANSI — ADVICE r11); one IEEE division per "
        "(group, rep)."
    ),
)
def sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~94% bootstrap CI (2nd/31st of 32 Poisson-replicate means) for
    the mean order value per priority."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    reps = F.explode(
        F.array([F.lit(i) for i in range(BOOT_REPLICATES)])
    ).alias("rep")
    drawn = o.select("o_orderpriority", "o_orderkey", "o_totalprice", reps)
    u = (
        "substring(md5(concat(CAST(o_orderkey AS STRING), ':', "
        "CAST(rep AS STRING))), 1, 8)"
    )
    drawn = drawn.select(
        "o_orderpriority",
        "rep",
        F.expr(_boot_weight_case(u)).alias("w"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # DECIMAL(38,0) accumulation on the Spark side too (ADVICE r11):
    # the w*cents products are int64-safe per row, but their per-
    # (priority, rep) SUM is not at 100-TB group sizes.
    rep_means = (
        drawn.groupBy("o_orderpriority", "rep")
        .agg(
            F.sum(
                (F.col("w") * F.col("cents")).cast("decimal(38,0)")
            ).alias("wsum"),
            F.sum("w").alias("w"),
        )
        .where(F.col("w") > 0)
        .select(
            "o_orderpriority",
            (
                F.col("wsum").cast("double")
                / (F.col("w") * F.lit(100.0))
            ).alias("rep_mean"),
        )
    )
    sorted_means = rep_means.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_reps"),
        F.sort_array(F.collect_list("rep_mean")).alias("ms"),
    )
    pt = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100)
                .cast("bigint")
                .cast("decimal(38,0)")
            ).cast("double")
            / (F.count("*") * F.lit(100.0))
        ).alias("point_mean"),
    )
    # Count-relative order statistics: a tiny group can draw weight 0
    # in some replicates (dropped above), so fewer than R means exist
    # — a fixed index 31 walks off the array (one-row sweep, r11).
    n = F.col("n_reps").cast("int")
    return sorted_means.join(pt, "o_orderpriority").select(
        "o_orderpriority", "n_orders", "point_mean", "n_reps",
        F.element_at("ms", F.least(F.lit(2), n)).alias("ci_lo"),
        F.element_at("ms", F.greatest(n - 1, F.lit(1))).alias("ci_hi"),
    )
