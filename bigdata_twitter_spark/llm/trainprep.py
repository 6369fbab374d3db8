"""End-to-end training-data preparation pipeline (SURVEY.md §2.N,
round 4): the flagship composite that chains the curation family —
Gopher quality gate → repetition cut → corpus-LM perplexity filter →
source-mixture sampling → exact dedup → deterministic shuffle-shard —
into ONE Catalyst plan, ending in per-shard document/token accounting.

This is the "switch your pipeline to this engine" demonstration: every
stage is a registered operator reused AS the composition (the
functions below call the same code the individual keys run), and the
whole chain is restated in a single DuckDB WITH-chain, so the
composite is hash-verified end to end — filters, hashes, window
tiebreaks, shard arithmetic and all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

# Stage constants come FROM the stage operators' modules so a
# recalibration there cannot silently desynchronize this oracle from
# the Spark composite (which calls those operators).
from ..text.quality_rules import (  # noqa: E402
    MAX_MEAN_WORD_LEN,
    MAX_WORDS,
    MIN_DISTINCT_RATIO,
    MIN_MEAN_WORD_LEN,
    MIN_WORDS,
    STOPWORDS,
)
from .sharding import N_SHARDS, TIER_RATES  # noqa: E402

# Corpus-calibrated cut points (sf0.01 quantiles: dup_bigram_frac p90
# ≈ 0.065, avg_nll p95 ≈ 3.424): the repetition cut drops the most
# repetitive ~10-15%, the perplexity cut the most surprising ~5%.
REP_MAX_DUP = 0.06
NLL_MAX = 3.42


@query(
    "train_pipeline_e2e",
    sql=f"""
    WITH t AS (
        SELECT doc_id, source, lower(text) AS ltext,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), m AS (
        SELECT doc_id, source, ltext,
               CAST(len(toks) AS BIGINT) AS n_words,
               round(CAST(len(array_to_string(toks, '')) AS DOUBLE)
                     / greatest(len(toks), 1), 6) AS mwl,
               round(CAST(len(list_distinct(toks)) AS DOUBLE)
                     / greatest(len(toks), 1), 6) AS dr,
               len(list_filter(toks, x -> x IN {STOPWORDS!r})) AS sw
        FROM t
    ), g AS (
        SELECT doc_id, source, ltext, n_words FROM m
        WHERE n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
          AND mwl BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
          AND dr >= {MIN_DISTINCT_RATIO} AND sw >= 1
    ), gr AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS gram
        FROM documents WHERE len(string_split(text, ' ')) >= 2
    ), grc AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM gr GROUP BY 1, 2
    ), rep AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   round(CAST(SUM(cnt - 1) AS DOUBLE) / SUM(cnt), 6) AS dup
            FROM grc GROUP BY doc_id
        ) WHERE dup <= {REP_MAX_DUP}
    ), tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ), cnt AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tk
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
        FROM cnt
    ), lp AS (
        SELECT tk, round(-ln(CAST(c + 1 AS DOUBLE) / (n + v)), 8) AS nll
        FROM cnt, tot
    ), px AS (
        SELECT doc_id FROM (
            SELECT tok.doc_id, round(AVG(nll), 6) AS a
            FROM tok JOIN lp USING (tk) GROUP BY tok.doc_id
        ) WHERE a <= {NLL_MAX}
    ), mix AS (
        SELECT g.doc_id, g.ltext, g.n_words
        FROM g JOIN rep USING (doc_id) JOIN px USING (doc_id)
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                   AS INT)
              < CASE WHEN CAST(substr(source, 4) AS INT) <= 4
                     THEN {TIER_RATES["high"]}
                     WHEN CAST(substr(source, 4) AS INT) <= 9
                     THEN {TIER_RATES["mid"]}
                     ELSE {TIER_RATES["low"]} END
    ), ded AS (
        SELECT doc_id, n_words FROM (
            SELECT doc_id, n_words,
                   row_number() OVER (
                       PARTITION BY md5(ltext) ORDER BY doc_id) AS rn
            FROM mix
        ) WHERE rn = 1
    ), rk AS (
        SELECT n_words,
               CAST(row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
                   AS r
        FROM ded
    )
    SELECT CAST(r % {N_SHARDS} AS INT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens
    FROM rk GROUP BY 1
    """,
    tables=("documents",),
    scale_note=(
        "The whole curation chain is ONE Catalyst plan: three per-doc "
        "signal tables (gopher = map-only codegen; repetition = one "
        "(doc, gram) partial-agg shuffle; perplexity = vocab-sized "
        "model broadcast back onto tokens) inner-joined on doc_id, a "
        "map-side mixture filter, one content-hash window for exact "
        "dedup, and the distributed md5-rank for sharding. Selectivity "
        "compounds stage over stage, so the expensive later stages see "
        "only survivors; no stage materializes to disk between steps. "
        "At 100 TB each signal table is doc-keyed and co-shuffles on "
        "doc_id — AQE coalesces the three joins into one exchange "
        "reuse; the final accounting output is shard-count-sized."
    ),
)
def train_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality → repetition → perplexity → mixture → dedup → shard:
    per-shard (n_docs, n_tokens) accounting of the surviving corpus."""
    # Compose the REGISTERED stage operators.
    from .sharding import _md5_global_rank
    from ..text.quality_rules import (
        text_gopher_quality,
        text_perplexity_unigram,
        text_repetition_stats,
    )

    d = load(spark, sf_dir, "documents")
    g = (
        text_gopher_quality(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id", "n_words")
    )
    rep = (
        text_repetition_stats(spark, sf_dir)
        .filter(F.col("dup_bigram_frac") <= REP_MAX_DUP)
        .select("doc_id")
    )
    px = (
        text_perplexity_unigram(spark, sf_dir)
        .filter(F.col("avg_nll") <= NLL_MAX)
        .select("doc_id")
    )
    nib = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    src_num = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_num <= 4, F.lit(TIER_RATES["high"]))
        .when(src_num <= 9, F.lit(TIER_RATES["mid"]))
        .otherwise(F.lit(TIER_RATES["low"]))
    )
    mix = (
        d.select("doc_id", "source", F.lower("text").alias("ltext"))
        .join(g, "doc_id")
        .join(rep, "doc_id")
        .join(px, "doc_id")
        .filter(nib < rate)
    )
    w_dedup = Window.partitionBy(F.md5("ltext")).orderBy("doc_id")
    ded = (
        mix.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_words")
    )
    ranked = _md5_global_rank(ded, "doc_id").join(ded, "doc_id")
    return (
        ranked.groupBy(
            (F.col("rk") % N_SHARDS).cast("int").alias("shard_id")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
        )
    )


# ---- curriculum scheduling (round 7) ---------------------------------
# Curriculum learning's data-engineering half: order the corpus
# easy→hard so the loader streams stages in sequence.  Difficulty is
# an integer score of division-free quality tests (the Gopher-style
# band checks, stated as cross-multiplied integer comparisons), the
# stage is its inversion (stage 0 = passes all three), and positions
# are assigned md5-deterministically WITHIN each stage with the
# two-level nibble-bucket rank (no unpartitioned data-sized window);
# global curriculum position = broadcast stage offset + in-stage rank.
CURRICULUM_TESTS = 3


@query(
    "train_curriculum_schedule",
    sql="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks,
               md5(CAST(doc_id AS VARCHAR)) AS hv
        FROM documents
    ),
    f AS (
        SELECT doc_id, hv,
               len(toks) AS n_tok,
               len(list_distinct(toks)) AS n_uniq,
               CAST(list_sum(list_transform(toks, x -> len(x)))
                    AS BIGINT) AS n_chars
        FROM t
    ),
    s AS (
        SELECT doc_id, hv,
               CAST((CASE WHEN n_tok BETWEEN 50 AND 1000
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN 3 * n_tok <= n_chars
                           AND n_chars <= 8 * n_tok
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN 2 * n_uniq >= n_tok
                          THEN 1 ELSE 0 END) AS INT) AS points
        FROM f
    ),
    staged AS (
        SELECT doc_id, hv, 3 - points AS stage FROM s
    ),
    pos AS (
        SELECT doc_id, stage,
               CAST(row_number() OVER (PARTITION BY stage
                                       ORDER BY hv, doc_id)
                    - 1 AS BIGINT) AS pos_in_stage,
               CAST(row_number() OVER (ORDER BY stage, hv, doc_id)
                    - 1 AS BIGINT) AS global_pos
        FROM staged
    )
    SELECT doc_id, CAST(stage AS INT) AS stage, pos_in_stage, global_pos
    FROM pos
    """,
    tables=("documents",),
    scale_note=(
        "Curriculum ordering without a corpus-sized sort: difficulty "
        "scoring is per-row codegen (integer band tests, cross-"
        "multiplied — no division), in-stage positions use the "
        "two-level md5-nibble rank (16 hash-uniform partitions per "
        "stage + aggregate-sized broadcast offsets — "
        "train_shuffle_shard's idiom, equal to the plain window the "
        "oracle states), and global positions add a 4-row broadcast "
        "stage-offset table.  Everything is exact integers; at "
        "100 TB the only shuffles are the (stage, nibble) window "
        "exchange and two aggregate-sized offset builds."
    ),
)
def train_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order documents easy→hard (integer quality stages), with
    md5-deterministic in-stage and global curriculum positions."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    f = d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hv"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("n_chars"),
    )
    n_tok, n_uniq, n_chars = F.col("n_tok"), F.col("n_uniq"), F.col("n_chars")
    points = (
        F.when(n_tok.between(50, 1000), 1).otherwise(0)
        + F.when((3 * n_tok <= n_chars) & (n_chars <= 8 * n_tok), 1).otherwise(0)
        + F.when(2 * n_uniq >= n_tok, 1).otherwise(0)
    )
    staged = f.select(
        "doc_id", "hv", (F.lit(CURRICULUM_TESTS) - points).cast("int").alias("stage")
    ).withColumn(
        "bucket", F.conv(F.substring("hv", 1, 1), 16, 10).cast("int")
    )
    in_bucket = Window.partitionBy("stage", "bucket").orderBy("hv", "doc_id")
    local = staged.withColumn("lrk", F.row_number().over(in_bucket))
    sizes = staged.groupBy("stage", "bucket").agg(F.count("*").alias("bn"))
    over_buckets = (
        Window.partitionBy("stage")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.withColumn(
        "boff", F.coalesce(F.sum("bn").over(over_buckets), F.lit(0))
    ).select("stage", "bucket", "boff")
    stage_sizes = staged.groupBy("stage").agg(F.count("*").alias("sn"))
    over_stages = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, -1
    )
    stage_off = stage_sizes.withColumn(
        "soff", F.coalesce(F.sum("sn").over(over_stages), F.lit(0))
    ).select("stage", "soff")
    return (
        local.join(F.broadcast(offsets), ["stage", "bucket"])
        .join(F.broadcast(stage_off), "stage")
        .select(
            "doc_id",
            "stage",
            (F.col("boff") + F.col("lrk") - 1)
            .cast("bigint")
            .alias("pos_in_stage"),
            (F.col("soff") + F.col("boff") + F.col("lrk") - 1)
            .cast("bigint")
            .alias("global_pos"),
        )
    )
