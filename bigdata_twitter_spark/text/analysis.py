"""Text analysis (SURVEY.md §2.K): tokenize, n-grams, TF-IDF,
lexicon sentiment, language stats, plus language-ID, quality scoring,
token counting and fingerprinting for the LLM-pipeline mandate.

Reference parity: the reference genre's sentiment pipeline is
clean → tokenize → features → score → aggregate (SURVEY.md §3.1,
EDBT'16-shaped per PAPERS.md; reference checkout empty — §0.1).
Sentiment here is a lexicon join (broadcast), which keeps a strong SQL
oracle; TF-IDF is pure DataFrame algebra (no MLlib).

Scale posture: every operator is explode → two-phase agg → (broadcast)
join; the only wide shuffles key on token or doc_id.  Token-frequency
skew (stopwords) is the classic hot-key here — partial map-side
aggregation already absorbs it because the pre-shuffle combine reduces
each partition to vocab-sized output.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, local_frame

# Deterministic scoring lexicon over the fixture vocabulary (stands in
# for e.g. the AFINN/VADER word lists of the reference genre).
LEXICON: list[tuple[str, int]] = [
    ("fast", 2),
    ("slow", -2),
    ("big", 1),
    ("small", -1),
    ("spark", 2),
    ("dup", -3),
]


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.lower(F.col(col)), " ")


@query(
    "text_tokenize",
    sql="""
    SELECT doc_id,
           len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                           x -> x <> '')) AS n_tokens,
           len(list_distinct(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                                         x -> x <> ''))) AS n_uniq,
           array_to_string(list_slice(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                                                  x -> x <> ''), 1, 5), ' ') AS head5
    FROM documents
    """,
    tables=("documents",),
    scale_note="Per-row codegen normalization+tokenization; no shuffle at all.",
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize (lower, strip non-letters) and tokenize each document."""
    d = load(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    toks = F.filter(F.split(clean, " "), lambda x: x != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("head5"),
    )


@query(
    "text_ngrams",
    sql="""
    WITH t AS (SELECT string_split(lower(text), ' ') AS toks FROM documents)
    SELECT bigram, COUNT(*) AS n
    FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM t)
    GROUP BY bigram
    """,
    tables=("documents",),
    scale_note=(
        "Bigrams built per-row with a sequence transform (no positional "
        "self-join); count is a two-phase agg over ~vocab^2 keys."
    ),
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram counts."""
    d = load(spark, sf_dir, "documents").withColumn("toks", _tokens())
    # Guarded for 0/1-token docs: sequence(1, size-1) DESCENDS when
    # size(toks) < 2 and element_at(toks, 0) throws; DuckDB's range()
    # yields empty for the same doc, so emit an empty array to match.
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN"
        " transform(sequence(1, size(toks) - 1),"
        "           i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
        " ELSE CAST(array() AS array<string>) END"
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_tf_idf",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
           GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
           GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tf_idf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
    tables=("documents",),
    scale_note=(
        "Pure DataFrame TF-IDF: two aggs + one broadcast join (df table is "
        "vocab-sized) + one broadcast scalar (N). No MLlib, no collect."
    ),
)
def text_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): tf × ln(N/df), rounded 6dp for ln stability."""
    d = load(spark, sf_dir, "documents")
    # Examined for the single-split spread treatment (r14, guide §2.5)
    # and left alone: an interleaved A/B at sf0.1 read plain 0.71 s vs
    # spread 0.86 s best-of-6 — the explode+count work above this scan
    # is lighter than the extra exchange of text payloads.
    toks = d.select(
        "doc_id", F.explode(_tokens()).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # tf is already distinct on (doc_id, term), so document frequency
    # derives from it directly instead of a second distinct() pass over
    # the token explosion (Catalyst prunes the unused tf count from the
    # df branch, so the plans stay independent but equivalent-cost).
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tf_idf"),
        )
    )


@query(
    "text_sentiment_lexicon",
    sql="""
    WITH lex(term, score) AS (VALUES ('fast', 2), ('slow', -2), ('big', 1),
                                     ('small', -1), ('spark', 2), ('dup', -3)),
    toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             FROM documents),
    scored AS (
        SELECT t.doc_id, CAST(SUM(l.score) AS BIGINT) AS score_sum,
               COUNT(*) AS n_scored
        FROM toks t JOIN lex l ON t.term = l.term
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_scored, 0) AS n_scored,
           COALESCE(s.score_sum, 0) AS score_sum,
           CASE WHEN COALESCE(s.n_scored, 0) > 0
                THEN CAST(s.score_sum AS DOUBLE) / s.n_scored
                ELSE 0.0 END AS sentiment
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    tables=("documents",),
    scale_note=(
        "Lexicon is broadcast (KBs); per-doc aggregation shuffles doc-sized "
        "groups once. This is the reference's sentiment pipeline re-expressed "
        "with an exact integer lexicon (strong oracle, unlike a trained model)."
    ),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average lexicon sentiment per document (token-multiplicity weighted)."""
    d = load(spark, sf_dir, "documents")
    lex = local_frame(spark, LEXICON, "term string, score bigint")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    scored = (
        toks.join(F.broadcast(lex), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("score").cast("long").alias("score_sum"),
            F.count("*").alias("n_scored"),
        )
    )
    return d.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_scored", F.lit(0)).alias("n_scored"),
        F.coalesce("score_sum", F.lit(0)).alias("score_sum"),
        F.when(
            F.coalesce("n_scored", F.lit(0)) > 0,
            F.col("score_sum").cast("double") / F.col("n_scored"),
        )
        .otherwise(0.0)
        .alias("sentiment"),
    )


@query(
    "text_lang_stats",
    sql="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    tables=("documents",),
    scale_note="5-group agg; the lang filter analog of the reference's lang=='en'.",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document count and size stats per language."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_quality_score",
    sql="""
    SELECT doc_id,
           n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
                AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS uniq_ratio,
           (CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1 ELSE 0 END
            + CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / len(string_split(text, ' ')) > 0.2 THEN 1 ELSE 0 END
            + CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                             x -> x IN ('the', 'a'))) AS DOUBLE)
                        / len(string_split(text, ' ')) < 0.5 THEN 1 ELSE 0 END)
               AS quality
    FROM documents
    """,
    tables=("documents",),
    scale_note=(
        "LLM-pretraining quality heuristics (length / stopword ratio / "
        "lexical diversity) as pure per-row codegen — the shape of a C4/Gopher "
        "quality filter, zero shuffles."
    ),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring for training-data curation."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("double")
        / n_tokens
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    quality = (
        F.when(F.col("n_chars").between(50, 5000), 1).otherwise(0)
        + F.when(uniq_ratio > 0.2, 1).otherwise(0)
        + F.when(stop_ratio < 0.5, 1).otherwise(0)
    )
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tokens).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        quality.cast("int").alias("quality"),
    )


@query(
    "text_lang_id",
    sql="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(lower(text), ' '),
                               x -> x IN ('the', 'a'))) AS en_markers,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN CAST(en_markers AS DOUBLE) / n_tokens >= 0.05
                THEN 'en' ELSE 'other' END AS lang_pred,
           CAST(en_markers AS DOUBLE) / n_tokens AS marker_ratio
    FROM scored
    """,
    tables=("documents",),
    scale_note=(
        "N-gram/markers language-ID heuristic per row (the fixture corpus "
        "shares one vocabulary, so markers are illustrative); a real fastText "
        "LID would ride the same mapInPandas plumbing as multimodal_decode."
    ),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language identification heuristic."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    markers = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    ratio = markers.cast("double") / F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_pred"),
        ratio.alias("marker_ratio"),
    )


@query(
    "text_fingerprint",
    sql="""
    SELECT doc_id,
           md5(lower(text)) AS full_hash,
           md5(array_to_string(list_slice(string_split(lower(text), ' '), 1, 8), ' '))
               AS prefix_hash,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
    tables=("documents",),
    scale_note=(
        "Content fingerprints (full + prefix) per row; the join key for "
        "exact dedup and incremental re-crawl diffing."
    ),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprints (full-text and 8-token prefix)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("full_hash"),
        F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("prefix_hash"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


# GPT-2-style pre-tokenizer shape, ASCII-simplified so Java regex
# (Spark) and RE2 (DuckDB) agree byte-for-byte: letter runs, digit
# runs, single non-alphanumeric marks. Whitespace separates, never
# counts.  Deliberately passed through the column API (F.lit), not an
# SQL literal, so backslash classes survive both engines' escaping.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@query(
    "text_token_count_bpe",
    sql=r"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS n_bpe_tokens,
           len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
               AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS DOUBLE)
                 / greatest(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1), 6)
               AS bpe_per_word
    FROM documents
    """,
    tables=("documents",),
    scale_note=(
        "Per-row regex token counting (the LLM-pipeline budget/pricing "
        "column): pure codegen, no shuffle; the BPE-ish rate per "
        "whitespace word is the standard tokens-per-word cost estimate."
    ),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts per document."""
    d = load(spark, sf_dir, "documents")
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), F.lit(0))
    )
    ws = F.size(F.filter(_tokens(), lambda x: x != ""))
    return d.select(
        "doc_id",
        bpe.cast("long").alias("n_bpe_tokens"),
        ws.cast("long").alias("n_ws_tokens"),
        F.round(
            bpe.cast("double") / F.greatest(ws, F.lit(1)).cast("double"), 6
        ).alias("bpe_per_word"),
    )


KEYWORDS_TOPK = 3


@query(
    "text_keywords_topk",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
           GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
           GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                   AS tf_idf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tf_idf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf_idf DESC, term ASC)
                AS BIGINT) AS rank
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf_idf DESC, term ASC)
            <= {KEYWORDS_TOPK}
    """,
    tables=("documents",),
    scale_note=(
        "Per-document keyword extraction: text_tf_idf's plan (two aggs "
        "+ broadcast vocab join) plus ONE doc-keyed rank window — "
        "ranking on the 6dp-ROUNDED score with a term tiebreak keeps "
        "the cut deterministic on both engines. Tagging every doc with "
        "its top terms is the per-item twin of corpus-level trending."
    ),
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (deterministic tiebreak)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term")).filter(
        F.col("term") != ""
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.distinct().groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tf_idf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf_idf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KEYWORDS_TOPK)
    )


RARE_BIGRAM_MIN_COUNT = 2


@query(
    "text_bigram_familiarity",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
                   AS bigram
        FROM t
    ),
    counts AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN counts.n < {RARE_BIGRAM_MIN_COUNT}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare,
           CAST(SUM(CASE WHEN counts.n < {RARE_BIGRAM_MIN_COUNT}
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS rare_frac
    FROM bg JOIN counts USING (bigram)
    GROUP BY bg.doc_id
    """,
    tables=("documents",),
    scale_note=(
        "Corpus-LM fluency proxy (the n-gram cousin of perplexity "
        "filtering): score each doc by the fraction of its bigrams that "
        "are RARE corpus-wide — gibberish and boilerplate-mangled text "
        "scores high, fluent text low. Shapes: per-row bigram transform "
        "(no positional self-join), a vocab²-keyed two-phase count agg, "
        "one broadcast-joinable count table, one doc-keyed agg. All "
        "integer counts until a single final division, so the score is "
        "order-independent and engine-exact — no ln(), no float "
        "accumulation."
    ),
)
def text_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rare-bigram fraction against corpus bigram counts
    (docs with <2 tokens have no bigrams and drop out, same as oracle)."""
    d = load(spark, sf_dir, "documents").withColumn("toks", _tokens())
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN"
        " transform(sequence(1, size(toks) - 1),"
        "           i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
        " ELSE CAST(array() AS array<string>) END"
    )
    bg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    counts = bg.groupBy("bigram").agg(F.count("*").alias("n"))
    rare = F.when(F.col("n") < RARE_BIGRAM_MIN_COUNT, 1).otherwise(0)
    return (
        bg.join(F.broadcast(counts), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(rare).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_bigrams")).alias(
                "rare_frac"
            ),
        )
    )


@query(
    "text_lang_id_eval",
    sql="""
    WITH scored AS (
        SELECT lang = 'en' AS label_en,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x IN ('the', 'a'))) AS DOUBLE)
               / len(string_split(text, ' ')) >= 0.05 AS pred_en
        FROM documents
    ),
    conf AS (
        SELECT label_en, pred_en, COUNT(*) AS n
        FROM scored GROUP BY label_en, pred_en
    )
    SELECT label_en, pred_en, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE)
                 / (SELECT SUM(n) FROM conf), 6) AS share
    FROM conf
    """,
    tables=("documents",),
    scale_note=(
        "Classifier evaluation as an operator (the ann_recall_eval "
        "pattern for the text side): confusion matrix of the marker "
        "lang-id heuristic against the corpus's labeled lang column.  "
        "One map-side scoring pass + a two-phase count agg over ≤4 "
        "cells + a 1-row broadcast total — output size is constant at "
        "any corpus scale, so the quality gate a curation pipeline "
        "runs before trusting a filter costs one scan."
    ),
)
def text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix (counts + corpus shares) of the heuristic
    lang-id against the labeled lang column."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    markers = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    ratio = markers.cast("double") / F.size(F.split(F.col("text"), " "))
    conf = (
        d.select(
            (F.col("lang") == "en").alias("label_en"),
            (ratio >= 0.05).alias("pred_en"),
        )
        .groupBy("label_en", "pred_en")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = conf.agg(F.sum("n").alias("tot"))
    return conf.join(F.broadcast(total)).select(
        "label_en",
        "pred_en",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
    )


# ---- vocabulary growth / Heaps-law curve (round 7) -------------------
# The corpus-level curve a tokenizer/vocab designer reads before
# fixing a vocab size: distinct-token count vs cumulative token count
# at each decile of the corpus (doc_id order).  A token's first
# occurrence is an associative MIN — fully distributed — and the
# cumulative sums use the two-level bucket + broadcast-offset plan
# (sample_weighted_pps' idiom) with RANGE buckets on doc_id, so no
# data-sized single-partition window exists anywhere; the oracle
# restates the plain single window, which the two-level form equals
# exactly (integer sums, order-preserving bucketing).
VOCAB_DECILES = 10
VOCAB_BUCKETS = 16


@query(
    "text_vocab_growth",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, t AS term
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    firsts AS (SELECT term, MIN(doc_id) AS fd FROM tok GROUP BY term),
    newc AS (SELECT fd AS doc_id, COUNT(*) AS newv FROM firsts GROUP BY fd),
    dstat AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '),
                               x -> x <> '')) AS ntok
        FROM documents
    ),
    s AS (
        SELECT d.doc_id, d.ntok, COALESCE(n.newv, 0) AS newv
        FROM dstat d LEFT JOIN newc n USING (doc_id)
    ),
    c AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY doc_id) AS pos,
               CAST(SUM(ntok) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
               CAST(SUM(newv) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
               COUNT(*) OVER () AS n
        FROM s
    )
    SELECT CAST((pos * {VOCAB_DECILES}) // n AS INT) AS decile,
           CAST(pos AS BIGINT) AS doc_position,
           doc_id, cum_tokens, vocab_size,
           CASE WHEN cum_tokens = 0 THEN 0.0
                ELSE CAST(vocab_size AS DOUBLE)
                     / CAST(cum_tokens AS DOUBLE) END AS type_token_ratio
    FROM c
    WHERE (pos * {VOCAB_DECILES}) // n
          > ((pos - 1) * {VOCAB_DECILES}) // n
    """,
    tables=("documents",),
    scale_note=(
        "Heaps-law vocabulary curve, fully distributed: first "
        "occurrence is an associative MIN keyed by token (one "
        "shuffle, map-side combine over the (doc,token) stream); the "
        "corpus-order cumulatives (position, token count, vocab "
        "count) run TWO-LEVEL — intra-bucket windows over "
        f"{VOCAB_BUCKETS} order-preserving doc_id-range buckets plus "
        "an aggregate-sized bucket-offset broadcast — never one "
        "data-sized partition (the oracle's plain window equals the "
        "two-level integers exactly).  Output is decile-sized; the "
        "only floats are one guarded division per output row.  At "
        "100 TB the vocab MIN table is vocabulary-sized (the same "
        "contract as inverted_index), everything else two-phase."
    ),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size vs cumulative token count at each corpus decile
    (doc_id order) — the Heaps-law curve, with type-token ratio."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    newc = (
        tok.groupBy("term")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.col("fd").alias("doc_id"))
        .agg(F.count("*").alias("newv"))
    )
    dstat = d.select("doc_id", F.size(toks).alias("ntok"))
    s = dstat.join(newc, "doc_id", "left").select(
        "doc_id", "ntok", F.coalesce("newv", F.lit(0)).alias("newv")
    )
    # Order-preserving range buckets on doc_id (monotone in doc_id),
    # from a 1-row broadcast max — the two-level cumulative's level-0.
    mx = s.agg(F.max("doc_id").alias("mx"))
    b = s.crossJoin(F.broadcast(mx)).withColumn(
        "bucket",
        ((F.col("doc_id") * VOCAB_BUCKETS) / (F.col("mx") + 1))
        .cast("bigint"),
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.select(
        "doc_id",
        "bucket",
        F.row_number().over(Window.partitionBy("bucket").orderBy("doc_id"))
        .alias("pos_local"),
        F.sum("ntok").over(wloc).cast("bigint").alias("cumtok_local"),
        F.sum("newv").over(wloc).cast("bigint").alias("vocab_local"),
    )
    btot = b.groupBy("bucket").agg(
        F.count("*").alias("bn"),
        F.sum("ntok").cast("bigint").alias("btok"),
        F.sum("newv").cast("bigint").alias("bnew"),
    )
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("pos_off"),
        F.coalesce(F.sum("btok").over(woff), F.lit(0)).alias("tok_off"),
        F.coalesce(F.sum("bnew").over(woff), F.lit(0)).alias("new_off"),
        F.sum("bn").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    c = local.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        (F.col("pos_local") + F.col("pos_off")).alias("pos"),
        (F.col("cumtok_local") + F.col("tok_off")).alias("cum_tokens"),
        (F.col("vocab_local") + F.col("new_off")).alias("vocab_size"),
        "n",
    )
    pos, n = F.col("pos"), F.col("n")
    return (
        c.filter(
            F.floor(pos * VOCAB_DECILES / n)
            > F.floor((pos - 1) * VOCAB_DECILES / n)
        )
        .select(
            F.floor(pos * VOCAB_DECILES / n).cast("int").alias("decile"),
            pos.cast("bigint").alias("doc_position"),
            "doc_id",
            "cum_tokens",
            "vocab_size",
            F.when(F.col("cum_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.col("vocab_size").cast("double")
                / F.col("cum_tokens").cast("double")
            )
            .alias("type_token_ratio"),
        )
    )


# ---- corpus readability (round-7 continuation) ------------------------
# Flesch reading-ease from exact integer sufficient statistics per
# language: words, sentence terminators (>=1 per doc by the standard
# convention), vowel-group "syllables", and polysyllabic words.  All
# four counts are per-row codegen (regex char classes — identical
# semantics in Java regex and RE2 for these patterns), summed as
# BIGINTs; the Flesch formula is one IEEE expression per language row.


@query(
    "text_readability_flesch",
    sql="""
    WITH d AS (
        SELECT lang,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t != '')) AS BIGINT) AS w,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syl,
               CAST(len(list_filter(string_split(lower(text), ' '),
                        t -> len(regexp_extract_all(t, '[aeiouy]+')) >= 3))
                    AS BIGINT) AS poly
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(s) AS BIGINT) AS n_sentences,
           CAST(SUM(syl) AS BIGINT) AS n_syllables,
           CAST(SUM(poly) AS BIGINT) AS n_polysyllables,
           206.835
           - 1.015 * (CAST(SUM(w) AS DOUBLE) / CAST(SUM(s) AS DOUBLE))
           - 84.6 * (CAST(SUM(syl) AS DOUBLE) / CAST(SUM(w) AS DOUBLE))
               AS flesch
    FROM d GROUP BY lang
    """,
    tables=("documents",),
    scale_note=(
        "Corpus readability per language: the four counts are pure "
        "per-row codegen (regex char classes, no Python), the "
        "per-lang reduce is a two-phase BIGINT agg, and Flesch is "
        "one IEEE expression per output row — the same "
        "sufficient-statistics shape as agg_stats, so it "
        "distributes over any partitioning with map-side combine.  "
        "Sentence count floors at 1 per doc (the standard "
        "convention; the fixture corpus is punctuation-free, which "
        "this makes explicit rather than letting W/0 leak)."
    ),
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language from exact word / sentence /
    vowel-group-syllable counts (documents table)."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    w = F.size(words).cast("bigint")
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1),
    ).cast("bigint")
    syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    poly = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), " "),
            lambda t: F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0))
            >= 3,
        )
    ).cast("bigint")
    per_doc = d.select(
        "lang", w.alias("w"), s.alias("s"), syl.alias("syl"),
        poly.alias("poly"),
    )
    g = per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum("s").cast("bigint").alias("n_sentences"),
        F.sum("syl").cast("bigint").alias("n_syllables"),
        F.sum("poly").cast("bigint").alias("n_polysyllables"),
    )
    nw, ns, nsyl = (
        F.col("n_words").cast("double"),
        F.col("n_sentences").cast("double"),
        F.col("n_syllables").cast("double"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        "n_polysyllables",
        (
            F.lit(206.835)
            - F.lit(1.015) * (nw / ns)
            - F.lit(84.6) * (nsyl / nw)
        ).alias("flesch"),
    )


# ---- Zipf rank-frequency fit (round-7 continuation) -------------------
# The companion of text_vocab_growth's Heaps law: fit log(count) ~
# a + b·log(rank) over each language's top-50 terms — b near -1 is
# Zipf.  Ranks and counts are exact integers; the two logs are
# rounded 8dp (the ln-ulp discipline) and the four OLS sums fold in
# rank order on both engines (ANOVA pinning), so slope/intercept are
# single IEEE expressions over identical doubles.

ZIPF_TOPK = 50


@query(
    "text_zipf_fit",
    sql=f"""
    WITH tok AS (
        SELECT lang, unnest(list_filter(string_split(text, ' '),
                                        t -> t != '')) AS tk
        FROM documents
    ),
    tc AS (
        SELECT lang, tk, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY 1, 2
    ),
    rk AS (
        SELECT lang, cnt,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, tk) AS rnk
        FROM tc
    ),
    top AS (
        SELECT lang, rnk,
               round(ln(CAST(rnk AS DOUBLE)), 8) AS x,
               round(ln(CAST(cnt AS DOUBLE)), 8) AS y
        FROM rk WHERE rnk <= {ZIPF_TOPK}
    ),
    s AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               list_reduce(list(x ORDER BY rnk), (a, b) -> a + b) AS sx,
               list_reduce(list(y ORDER BY rnk), (a, b) -> a + b) AS sy,
               list_reduce(list(x * y ORDER BY rnk), (a, b) -> a + b)
                   AS sxy,
               list_reduce(list(x * x ORDER BY rnk), (a, b) -> a + b)
                   AS sxx
        FROM top GROUP BY lang
    )
    SELECT lang, n_terms,
           (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
           / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
           (sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
           / CAST(n_terms AS DOUBLE) AS zipf_intercept
    FROM s
    """,
    tables=("documents",),
    scale_note=(
        "Zipf slope per language: term counts are one two-phase agg "
        "over the token explosion (the TF-IDF scan shape), the "
        "top-50 rank is a per-lang window over the vocab-sized count "
        "table (two-level range-bucket rank past the vocab regime), "
        "and the OLS runs over EXACTLY 50 rounded doubles per lang "
        "via rank-ORDER-PINNED folds — constant reduce-side work "
        "per key regardless of corpus size.  Logs rounded 8dp "
        "before any accumulation (the perplexity ln-ulp "
        "discipline)."
    ),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS fit (slope/intercept of log count vs
    log rank) over each language's top-50 terms."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tk"),
    )
    tc = tok.groupBy("lang", "tk").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("tk")
    )
    top = (
        tc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= ZIPF_TOPK)
        .select(
            "lang",
            "rnk",
            F.round(F.log(F.col("rnk").cast("double")), 8).alias("x"),
            F.round(F.log(F.col("cnt").cast("double")), 8).alias("y"),
        )
    )

    def fold(term):
        return F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rnk", "x", "y"))
                ),
                term,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    s = top.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        fold(lambda r: r["x"]).alias("sx"),
        fold(lambda r: r["y"]).alias("sy"),
        fold(lambda r: r["x"] * r["y"]).alias("sxy"),
        fold(lambda r: r["x"] * r["x"]).alias("sxx"),
    )
    nd = F.col("n_terms").cast("double")
    sx, sy, sxy, sxx = F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        "lang",
        "n_terms",
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / nd).alias("zipf_intercept"),
    )


# ---- term burstiness / dispersion (round-7 continuation) --------------
# Corpus linguistics' variance-to-mean ratio (index of dispersion)
# for the top-20 corpus terms: VMR ~ 1 means Poisson scatter, > 1
# means the term is BURSTY (concentrated in few docs — boilerplate
# or topical), the signal behind burstiness-based quality filters.
# Per-doc zero counts never need materializing: Sigma c and Sigma c^2
# over docs CONTAINING the term plus the global doc count N give the
# exact moments, all integers until two final IEEE expressions.

BURST_TOPK = 20


@query(
    "text_burstiness_dispersion",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          t -> t != '')) AS tk
        FROM documents
    ),
    dc AS (
        SELECT tk, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    agg AS (
        SELECT tk,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss,
               CAST(COUNT(*) AS BIGINT) AS n_docs_containing
        FROM dc GROUP BY tk
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    top AS (
        SELECT agg.*, nn.n FROM agg CROSS JOIN nn
        QUALIFY row_number() OVER (ORDER BY s DESC, tk) <= {BURST_TOPK}
    )
    SELECT tk AS term, s AS total_count, n_docs_containing,
           CASE WHEN n < 2 THEN NULL
                ELSE (CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1.0)
                     / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           END AS vmr
    FROM top
    """,
    tables=("documents",),
    scale_note=(
        "Burstiness (variance-to-mean) of the top-20 terms: the "
        "TF-IDF scan shape (one (term, doc) two-phase agg), a "
        "vocab-sized moment table, the 1-row doc count broadcast, "
        "and a top-20 TakeOrdered cut — per-doc ZERO counts are "
        "never materialized (the moments fold them in via N), so "
        "work is term-occurrence-sized, never terms x docs.  All "
        "integer until two IEEE expressions per output row."
    ),
)
def text_burstiness_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (VMR) of per-doc counts for the top-20
    corpus terms — the burstiness quality signal."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tk"),
    )
    dc = tok.groupBy("tk", "doc_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    agg = dc.groupBy("tk").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
        F.count("*").cast("bigint").alias("n_docs_containing"),
    )
    nn = d.agg(F.count("*").cast("bigint").alias("n"))
    top = (
        agg.crossJoin(F.broadcast(nn))
        .orderBy(F.col("s").desc(), F.col("tk"))
        .limit(BURST_TOPK)
    )
    s, ss, n = (
        F.col("s").cast("double"),
        F.col("ss").cast("double"),
        F.col("n").cast("double"),
    )
    # A single-document corpus (n < 2) zeroes the Bessel denominator:
    # dispersion is undefined — NULL, not an ANSI DIVIDE_BY_ZERO job
    # kill (r10 one-row sweep; oracle guarded identically).
    return top.select(
        F.col("tk").alias("term"),
        F.col("s").alias("total_count"),
        "n_docs_containing",
        F.when(n < 2, F.lit(None).cast("double"))
        .otherwise(((ss - s * s / n) / (n - F.lit(1.0))) / (s / n))
        .alias("vmr"),
    )


# ---- Jensen-Shannon divergence between languages (round-7 cont.) ------
# The corpus-comparison metric: JSD between each language pair's
# unigram distribution over a SHARED support — the global top-64
# terms plus one 'other' bucket (so every distribution sums to 1 and
# the support is bounded and identical).  Counts are exact integers;
# each slot's contribution −m·ln(m) + (p·ln(p) + q·ln(q))/2 is
# rounded 8dp (ln-ulp discipline) and the per-pair total folds in
# slot order (ANOVA pinning).  JSD is symmetric, 0 ≤ JSD ≤ ln 2.

JSD_TOPV = 64


@query(
    "text_js_divergence_langs",
    sql=f"""
    WITH tok AS (
        SELECT lang, unnest(list_filter(string_split(text, ' '),
                                        t -> t != '')) AS tk
        FROM documents
    ),
    tc AS (
        SELECT lang, tk, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    top AS (
        SELECT tk FROM (
            SELECT tk, CAST(SUM(c) AS BIGINT) AS s FROM tc GROUP BY tk
        ) QUALIFY row_number() OVER (ORDER BY s DESC, tk) <= {JSD_TOPV}
    ),
    tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY lang),
    slot AS (
        SELECT tot.lang, top.tk AS slot, COALESCE(tc.c, 0) AS c, tot.n
        FROM tot CROSS JOIN top
        LEFT JOIN tc ON tc.lang = tot.lang AND tc.tk = top.tk
        UNION ALL
        SELECT tot.lang, '\x7f_other' AS slot,
               tot.n - COALESCE(oth.s, 0) AS c, tot.n
        FROM tot LEFT JOIN (
            SELECT tc.lang, CAST(SUM(tc.c) AS BIGINT) AS s
            FROM tc JOIN top ON top.tk = tc.tk GROUP BY tc.lang
        ) oth ON oth.lang = tot.lang
    ),
    pair AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, a.slot,
               CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS p,
               CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS q
        FROM slot a JOIN slot b
          ON a.slot = b.slot AND a.lang < b.lang
    ),
    term AS (
        SELECT lang_a, lang_b, slot,
               round(
                   - (CASE WHEN (p + q) / 2.0 > 0.0
                           THEN ((p + q) / 2.0) * ln((p + q) / 2.0)
                           ELSE 0.0 END)
                   + ((CASE WHEN p > 0.0 THEN p * ln(p) ELSE 0.0 END)
                      + (CASE WHEN q > 0.0 THEN q * ln(q) ELSE 0.0 END))
                     / 2.0, 8) AS t
        FROM pair
    )
    SELECT lang_a, lang_b,
           list_reduce(list(t ORDER BY slot), (a, b) -> a + b) + 0.0
               AS jsd_nats
    FROM term GROUP BY 1, 2
    """,
    tables=("documents",),
    scale_note=(
        "Language-pair JSD over a SHARED bounded support (global "
        "top-64 terms + 'other'): term counts are the TF-IDF scan "
        "shape, the support cut is one TakeOrdered, the langs x 65 "
        "grid and the pair join are dimension-sized, and each "
        "pair's total folds over 65 slot contributions (rounded "
        "8dp) in slot order — constant reduce work regardless of "
        "corpus size.  The 'other' bucket makes every distribution "
        "sum to exactly 1 from integer counts."
    ),
)
def text_js_divergence_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (nats) between each language pair's
    unigram mix over the global top-64 terms + other bucket."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tk"),
    )
    tc = tok.groupBy("lang", "tk").agg(
        F.count("*").cast("bigint").alias("c")
    )
    top = (
        tc.groupBy("tk")
        .agg(F.sum("c").cast("bigint").alias("s"))
        .orderBy(F.col("s").desc(), F.col("tk"))
        .limit(JSD_TOPV)
        .select("tk")
    )
    tot = tc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    in_top = (
        tc.join(F.broadcast(top), "tk")
        .groupBy("lang")
        .agg(F.sum("c").cast("bigint").alias("s"))
    )
    slot_top = (
        tot.crossJoin(F.broadcast(top))
        .join(
            tc.withColumnRenamed("tk", "slot_tk"),
            (F.col("slot_tk") == F.col("tk"))
            & (tc["lang"] == tot["lang"]),
            "left",
        )
        .select(
            tot["lang"],
            F.col("tk").alias("slot"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "n",
        )
    )
    slot_other = (
        tot.join(in_top.withColumnRenamed("lang", "l2"),
                 F.col("l2") == tot["lang"], "left")
        .select(
            tot["lang"],
            F.lit("\x7f_other").alias("slot"),
            (F.col("n") - F.coalesce(F.col("s"), F.lit(0))).alias("c"),
            "n",
        )
    )
    slot = slot_top.unionByName(slot_other)
    a = slot.select(
        F.col("lang").alias("lang_a"),
        "slot",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p"),
    )
    b = slot.select(
        F.col("lang").alias("lang_b"),
        F.col("slot").alias("slot_b"),
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("q"),
    )
    pair = a.join(
        b,
        (F.col("slot") == F.col("slot_b"))
        & (F.col("lang_a") < F.col("lang_b")),
    )
    p, q = F.col("p"), F.col("q")
    m = (p + q) / F.lit(2.0)
    term = pair.select(
        "lang_a",
        "lang_b",
        "slot",
        F.round(
            -(F.when(m > 0.0, m * F.log(m)).otherwise(F.lit(0.0)))
            + (
                F.when(p > 0.0, p * F.log(p)).otherwise(F.lit(0.0))
                + F.when(q > 0.0, q * F.log(q)).otherwise(F.lit(0.0))
            )
            / F.lit(2.0),
            8,
        ).alias("t"),
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("slot", "t"))),
            lambda x: x["t"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return term.groupBy("lang_a", "lang_b").agg(
        (fold + F.lit(0.0)).alias("jsd_nats")
    )


# ---- term co-occurrence PMI (round 11 wave 3) --------------------------
# Pointwise mutual information between terms co-occurring in the same
# document — the phrase-mining / collocation signal a training-data
# pipeline uses to find multi-word expressions and topical term pairs.
# PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) = ln( c_ab·N / (c_a·c_b) )
# over document-level presence counts.  Restricted to the global
# top-K-by-document-frequency vocabulary so the pair space is
# K²-bounded (dimension-sized) at any corpus size.
PMI_VOCAB_K = 32
PMI_MIN_SUPPORT = 3


@query(
    "text_cooccurrence_pmi",
    sql=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  t -> t != '')) AS tk
        FROM documents
    ), df AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tk
    ), top AS (
        SELECT tk, c FROM df ORDER BY c DESC, tk LIMIT {PMI_VOCAB_K}
    ), ft AS (
        SELECT tok.doc_id, tok.tk, top.c FROM tok JOIN top USING (tk)
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), pairs AS (
        SELECT a.tk AS term_a, b.tk AS term_b,
               CAST(COUNT(*) AS BIGINT) AS n_docs_both,
               MIN(a.c) AS df_a, MIN(b.c) AS df_b
        FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tk < b.tk
        GROUP BY 1, 2
    )
    SELECT term_a, term_b, n_docs_both, df_a, df_b,
           round(ln((CAST(n_docs_both AS DOUBLE) * CAST(n_docs AS DOUBLE))
                    / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))), 8)
               AS pmi
    FROM pairs, n
    WHERE n_docs_both >= {PMI_MIN_SUPPORT}
    """,
    tables=("documents",),
    scale_note=(
        "Collocation mining with a hard dimension bound: document "
        "frequency is the TF-IDF scan shape (one explode + two-phase "
        "agg), the top-{K} vocabulary cut is TakeOrdered with a total "
        "order (count, term) and BROADCASTS, so the per-doc pair "
        "explosion fans out to at most K terms/doc → K² pair keys "
        "TOTAL regardless of corpus size — never vocab² and never "
        "docs-sized on the reduce side.  All counts exact BIGINT; "
        "the single float is one 8dp-rounded ln per OUTPUT row "
        "(<= K²/2 rows) — the house ln-ulp discipline."
    ),
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI over document-level co-occurrence of the global top-32
    terms (support >= 3 docs)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tk"),
    ).distinct()
    df = tok.groupBy("tk").agg(F.count("*").cast("bigint").alias("c"))
    top = df.orderBy(F.col("c").desc(), "tk").limit(PMI_VOCAB_K)
    ft = tok.join(F.broadcast(top), "tk")
    n = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    a = ft.select(
        F.col("doc_id"), F.col("tk").alias("term_a"), F.col("c").alias("ca")
    )
    b = ft.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tk").alias("term_b"),
        F.col("c").alias("cb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("term_a") < F.col("term_b")),
        )
        .groupBy("term_a", "term_b")
        .agg(
            F.count("*").cast("bigint").alias("n_docs_both"),
            F.min("ca").alias("df_a"),
            F.min("cb").alias("df_b"),
        )
        .where(F.col("n_docs_both") >= PMI_MIN_SUPPORT)
    )
    return pairs.join(F.broadcast(n)).select(
        "term_a", "term_b", "n_docs_both", "df_a", "df_b",
        F.round(
            F.log(
                (
                    F.col("n_docs_both").cast("double")
                    * F.col("n_docs").cast("double")
                )
                / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
            ),
            8,
        ).alias("pmi"),
    )


BPE_PAIR_TOPK = 20


@query(
    "text_bpe_pair_topk",
    sql=f"""
    WITH words AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM words
        WHERE length(w) >= 2 GROUP BY 1
    ),
    pairs AS (
        SELECT unnest([substring(w, i, 2)
                       FOR i IN range(1, length(w))]) AS pg, wc
        FROM vocab
    )
    SELECT substring(pg, 1, 1) AS left_sym,
           substring(pg, 2, 1) AS right_sym,
           CAST(SUM(wc) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT {BPE_PAIR_TOPK}
    """,
    tables=("documents",),
    scale_note=(
        "BPE tokenizer training's inner loop (the merge-candidate "
        "count), in the shape every production trainer uses at "
        "corpus scale: FIRST reduce the corpus to a word-frequency "
        "vocabulary (two-phase agg; Zipf-bounded output, stopword "
        "hot keys absorbed by the map-side combine), THEN explode "
        "adjacent symbol pairs over the VOCAB weighted by word "
        "count — pair volume is sum(len(w)) over DISTINCT words, "
        "independent of corpus row count — and reduce to an "
        "alphabet-squared-bounded pair table.  Top-K is TakeOrdered "
        "(per-partition top-K + K-row merge) with a (count, left, "
        "right) total order, so the winning merge is deterministic.  "
        "At 100 TB only the vocab agg touches the corpus; the pair "
        "stage is megabytes."
    ),
)
def text_bpe_pair_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates: adjacent character-pair counts
    over the corpus, weighted by word frequency (training step 1)."""
    words = load(spark, sf_dir, "documents").select(
        F.explode(F.filter(_tokens(), lambda x: x != "")).alias("w")
    )
    vocab = (
        words.where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pg"),
        "wc",
    )
    return (
        pairs.groupBy(
            F.substring("pg", 1, 1).alias("left_sym"),
            F.substring("pg", 2, 1).alias("right_sym"),
        )
        .agg(F.sum("wc").cast("bigint").alias("pair_count"))
        .orderBy(
            F.col("pair_count").desc(), "left_sym", "right_sym"
        )
        .limit(BPE_PAIR_TOPK)
    )


# ---- BPE vocab training: the full K-round merge loop (round 13) --------
BPE_TRAIN_ROUNDS = 8
# Tokenized words travel as a single string: every symbol wrapped in
# U+001F unit separators ("\x1fab\x1f\x1fc\x1f" = [ab, c]), absent from
# the corpus by charset.  Merging pair (l, r) is then ONE string
# replace of "\x1f l \x1f\x1f r \x1f" with "\x1f lr \x1f" — and both
# engines' replace() scans left-to-right non-overlapping, which is
# exactly BPE's greedy in-word merge order, so the representation makes
# the two engines agree BY CONSTRUCTION (each consumed occurrence keeps
# its own wrapping separators, so back-to-back occurrences still match:
# "\x1fa\x1f\x1fa\x1f\x1fa\x1f\x1fa\x1f" -> "\x1faa\x1f\x1faa\x1f").
_BPE_SEP = "\x1f"


# Shared v0 CTE: the U+001F-wrapped word-frequency vocabulary (one
# corpus scan) — used by both the sequential and the batched trainer
# oracles so the two replays can never drift.
_BPE_V0_SQL = """WITH v0 AS (
    SELECT regexp_replace(w, '([\\s\\S])', chr(31)||'\\1'||chr(31),
                          'g') AS repr,
           CAST(COUNT(*) AS BIGINT) AS wc
    FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS w
          FROM documents)
    WHERE length(w) >= 2 AND NOT contains(w, chr(31)) GROUP BY 1
)"""

# Pair-count CTE over vocab v{k-1} (same text in both oracles).
def _bpe_pairs_sql(k: int) -> str:
    return f"""
p{k} AS (
    SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(wc) AS BIGINT) AS cnt
    FROM (
        SELECT unnest([[tk[i], tk[i+1]] FOR i IN range(1, len(tk))]) AS pr,
               wc
        FROM (SELECT string_split(trim(repr, chr(31)),
                                  chr(31)||chr(31)) AS tk, wc
              FROM v{k-1})
    ) GROUP BY 1, 2
)"""


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The U+001F-wrapped word-frequency vocabulary (Spark side of
    _BPE_V0_SQL — ONE shared construction for both trainers).

    The U+001F separator must be ABSENT from every wrapped word (it
    is the token boundary); rather than assume the charset, such
    words are excluded explicitly — in BOTH engines, so the filter is
    part of the certified semantics (ADVICE r13 #4).  The char wrap
    uses ([\\s\\S]) not (.): Java and RE2 both exclude line
    terminators from '.', so a token containing \\n would otherwise
    wrap malformed (ADVICE r13 #4)."""
    s = _BPE_SEP
    words = load(spark, sf_dir, "documents").select(
        F.explode(F.filter(_tokens(), lambda x: x != "")).alias("w")
    )
    return (
        words.where(F.length("w") >= 2)
        .where(~F.contains("w", F.lit(s)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .select(
            F.regexp_replace("w", r"([\s\S])", s + "$1" + s).alias(
                "repr"
            ),
            "wc",
        )
    )


def _bpe_train_oracle() -> str:
    """Unrolled K-round replay of the identical merge loop (the
    MMR/Holt/k-hop oracle discipline): each round k derives pair counts
    from v{k-1}, picks the (count DESC, left, right) winner, and
    rewrites the vocab with one replace()."""
    sql = _BPE_V0_SQL
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        sql += "," + _bpe_pairs_sql(k) + f""",
w{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
v{k} AS (
    SELECT replace(repr, chr(31)||l||chr(31)||chr(31)||r||chr(31),
                   chr(31)||l||r||chr(31)) AS repr, wc
    FROM v{k-1}, w{k}
)"""
    sql += (
        "\n"
        + " UNION ALL ".join(
            f"SELECT {k} AS merge_step, l AS left_sym, r AS right_sym,"
            f" l||r AS merged, cnt AS pair_count FROM w{k}"
            for k in range(1, BPE_TRAIN_ROUNDS + 1)
        )
        + "\nORDER BY merge_step"
    )
    return sql


@query(
    "text_bpe_vocab_train",
    sql=_bpe_train_oracle(),
    tables=("documents",),
    scale_note=(
        f"Full BPE tokenizer training ({BPE_TRAIN_ROUNDS} merge "
        "rounds), completing the text_bpe_pair_topk step-1 plan into "
        "the production trainer shape: the corpus is scanned ONCE to "
        "build the word-frequency vocabulary (two-phase agg, "
        "Zipf-bounded output, stopword hot keys absorbed map-side); "
        "every merge round thereafter runs over the VOCAB only — "
        "pair-count volume is sum(len(w)) over DISTINCT words, "
        "independent of corpus row count — so at 100 TB the loop "
        "costs K vocab-sized jobs after one corpus scan.  Each "
        "round's winner is TakeOrdered(1) with a (count, left, "
        "right) total order (deterministic ties) and the merge "
        "itself is ONE JVM-side string replace over the persisted "
        "vocab (left-to-right non-overlapping = BPE's greedy in-word "
        "order in both engines by construction).  The K winners "
        "collected to the driver are the merge TABLE — the "
        "aggregate-sized model artifact (like kmeans centroids), "
        "never corpus data."
    ),
)
def text_bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table: K rounds of (count adjacent symbol
    pairs over the word-frequency vocab, merge the argmax pair).
    Returns one row per learned merge: (merge_step, left_sym,
    right_sym, merged, pair_count-at-merge-time)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    s = _BPE_SEP
    vocab = _bpe_vocab(spark, sf_dir).persist()
    try:
        vocab.count()  # materialize once; the loop never rescans the corpus
        cur = vocab
        merges: list[tuple] = []
        for step in range(1, BPE_TRAIN_ROUNDS + 1):
            top = (
                cur.withColumn(
                    "tk",
                    F.split(
                        F.expr(f"trim(BOTH '{s}' FROM repr)"), s + s
                    ),
                )
                # Words already merged to a single token carry no
                # pairs and MUST be dropped before the transform:
                # Spark's sequence(1, 0) steps DOWN ([1, 0]), so a
                # 1-token word would index element_at(tk, 2) out of
                # bounds (degen-sweep finding on the constant-domain
                # fixture, where every word collapses by round 4;
                # DuckDB's end-exclusive range(1, 1) is empty and was
                # never exposed).
                .where(F.size("tk") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(tk) - 1),"
                            " i -> struct(element_at(tk, i) AS l,"
                            " element_at(tk, i + 1) AS r))"
                        )
                    ).alias("pr"),
                    "wc",
                )
                .groupBy("pr.l", "pr.r")
                .agg(F.sum("wc").cast("bigint").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:  # vocab exhausted (or empty corpus): stop early
                break
            l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
            merges.append((step, l, r, l + r, cnt))
            cur = cur.withColumn(
                "repr",
                F.replace(
                    "repr",
                    F.lit(s + l + s + s + r + s),
                    F.lit(s + l + r + s),
                ),
            )
        schema = StructType(
            [
                StructField("merge_step", IntegerType(), False),
                StructField("left_sym", StringType(), False),
                StructField("right_sym", StringType(), False),
                StructField("merged", StringType(), False),
                StructField("pair_count", LongType(), False),
            ]
        )
        return local_frame(spark, merges, schema)
    finally:
        vocab.unpersist()


# ---- batched BPE training (round 14, VERDICT r13 #4) -------------------
# The production-scale variant: a 30k-merge tokenizer run as 30k
# sequential Spark jobs is the sequential trainer's real gap (its
# per-round cost is already corpus-independent; the ROUND COUNT is
# not).  The standard fix batches the top-M NON-CONFLICTING merges per
# pair-count round: picks are greedy in (count DESC, left, right) rank
# order over the top-C candidates, and a candidate conflicts with an
# earlier pick if they share a symbol or either one's symbol equals
# the other's merged string — exactly the condition under which the
# U+001F string replaces commute, so applying the batch in any order
# (both engines apply in rank order) is the same rewrite.  Round count
# for V merges falls from V to ~V/M with identical per-round cost.
BPE_BATCH_ROUNDS = 4
BPE_BATCH_M = 4       # max merges applied per pair-count round
BPE_BATCH_CAND = 64   # greedy selection scans the top-C candidates
# Lineage truncation period: every T rounds the rewritten vocab is
# re-persisted (one tiny vocab-sized count job) and the previous cache
# dropped, so plan depth is bounded at T*M nested replaces no matter
# how many rounds run.  Round-count scaling measured FLAT through 32
# rounds / 89 merges without truncation (tools/bpe_rounds_probe.py:
# 0.13 -> 0.10 -> 0.105 sec/merge at R=8/16/32 — the shrinking vocab
# offsets replay growth); the truncation is what makes the ~30k-round
# production extrapolation safe, where an unbounded nested-replace
# chain would sink Catalyst analysis long before execution.
BPE_TRUNC_EVERY = 8


def _bpe_conflict_sql(w: str, c: str) -> str:
    """w = an earlier pick, c = a candidate (both with l, r cols)."""
    return (
        f"{w}.l = {c}.l OR {w}.l = {c}.r OR {w}.r = {c}.l "
        f"OR {w}.r = {c}.r OR {c}.l = {w}.l||{w}.r "
        f"OR {c}.r = {w}.l||{w}.r OR {w}.l = {c}.l||{c}.r "
        f"OR {w}.r = {c}.l||{c}.r"
    )


def _bpe_batched_oracle() -> str:
    """Unrolled replay of the batched trainer: per round, rank the
    top-C pair candidates, pick up to M non-conflicting greedily (each
    pick = min-rank candidate passing a NOT EXISTS over the earlier
    picks), rewrite the vocab with the M replaces nested in rank
    order.  Empty picks fall back to a chr(31)^3 needle, which cannot
    occur in a well-formed repr (symbol boundaries are exactly two
    separators), making the replace a no-op.  Every CTE is
    MATERIALIZED: v{{k}} references each pick twice (needle + repl)
    and each pick references the candidate table, so inlined CTEs
    would re-evaluate the whole prefix ~8x per round — the k-core
    oracle's measured blowup, here exponential in round count."""
    noop = "chr(31)||chr(31)||chr(31)"
    sql = _BPE_V0_SQL.replace(
        "WITH v0 AS (", "WITH v0 AS MATERIALIZED ("
    )
    for k in range(1, BPE_BATCH_ROUNDS + 1):
        sql += "," + _bpe_pairs_sql(k).replace(
            f"p{k} AS (", f"p{k} AS MATERIALIZED ("
        ) + f""",
c{k} AS MATERIALIZED (
    SELECT l, r, cnt,
           row_number() OVER (ORDER BY cnt DESC, l, r) AS rnk
    FROM p{k} QUALIFY rnk <= {BPE_BATCH_CAND}
)"""
        for j in range(1, BPE_BATCH_M + 1):
            if j == 1:
                sql += f""",
s{k}_1 AS MATERIALIZED (
    SELECT l, r, cnt, rnk FROM c{k} ORDER BY rnk LIMIT 1)"""
            else:
                earlier = " UNION ALL ".join(
                    f"SELECT l, r FROM s{k}_{i}" for i in range(1, j)
                )
                sql += f""",
s{k}_{j} AS MATERIALIZED (
    SELECT c.l, c.r, c.cnt, c.rnk FROM c{k} c
    WHERE NOT EXISTS (
        SELECT 1 FROM ({earlier}) w
        WHERE {_bpe_conflict_sql('w', 'c')}
    )
    ORDER BY c.rnk LIMIT 1
)"""
        expr = "repr"
        for j in range(1, BPE_BATCH_M + 1):
            needle = (
                f"COALESCE((SELECT chr(31)||l||chr(31)||chr(31)||r"
                f"||chr(31) FROM s{k}_{j}), {noop})"
            )
            repl = (
                f"COALESCE((SELECT chr(31)||l||r||chr(31) "
                f"FROM s{k}_{j}), {noop})"
            )
            expr = f"replace({expr}, {needle}, {repl})"
        sql += f""",
v{k} AS MATERIALIZED (SELECT {expr} AS repr, wc FROM v{k-1})"""
    picks = " UNION ALL ".join(
        f"SELECT {k} AS batch_round, rnk, l, r, cnt FROM s{k}_{j}"
        for k in range(1, BPE_BATCH_ROUNDS + 1)
        for j in range(1, BPE_BATCH_M + 1)
    )
    sql += f""",
picks AS ({picks})
SELECT CAST(row_number() OVER (ORDER BY batch_round, rnk) AS INT)
           AS merge_step,
       CAST(batch_round AS INT) AS batch_round,
       l AS left_sym, r AS right_sym, l||r AS merged,
       CAST(cnt AS BIGINT) AS pair_count
FROM picks
ORDER BY merge_step
"""
    return sql


@query(
    "text_bpe_vocab_train_batched",
    sql=_bpe_batched_oracle(),
    tables=("documents",),
    scale_note=(
        f"The ROUND-COUNT-scalable BPE trainer (VERDICT r13 #4): "
        f"{BPE_BATCH_ROUNDS} pair-count rounds x up to "
        f"{BPE_BATCH_M} non-conflicting merges per round — the "
        "standard batched variant that turns a 30k-merge production "
        "tokenizer from 30k sequential vocab jobs into ~30k/M.  "
        "Per-round cost is the sequential trainer's (pair volume = "
        "sum len over DISTINCT words, corpus-size-independent); the "
        "greedy pick scans only the top-C=64 candidate rows "
        "(TakeOrdered, aggregate-sized driver list — the kmeans-"
        "centroid pattern).  Batch safety is structural, not "
        "assumed: picks must be symbol-disjoint AND no pick's symbol "
        "may equal another's merged string, exactly the condition "
        "under which the U+001F string replaces commute, so the "
        "batch rewrite is order-independent and ONE nested-replace "
        "pass over the vocab.  Unrolled-CTE oracle replays the "
        "identical greedy selection (NOT EXISTS per pick); Python "
        "referee in tests/test_bpe_train.py.  Round-count scaling "
        "measured FLAT through 32 rounds / 89 merges "
        "(tools/bpe_rounds_probe.py: 0.13/0.10/0.105 sec-per-merge "
        "at R=8/16/32), and every BPE_TRUNC_EVERY rounds the vocab "
        "lineage is truncated (persist+count, previous cache "
        "dropped) so plan depth stays bounded in the ~30k-round "
        "production regime."
    ),
)
def text_bpe_vocab_train_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched BPE training: per pair-count round, greedily pick up
    to M non-conflicting merge pairs from the top-C candidates and
    apply them in one vocab rewrite.  Returns one row per learned
    merge: (merge_step, batch_round, left_sym, right_sym, merged,
    pair_count-at-round-start)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    s = _BPE_SEP
    vocab = _bpe_vocab(spark, sf_dir).persist()
    trunc = None  # the live truncation cache (see BPE_TRUNC_EVERY)
    try:
        vocab.count()  # materialize once; rounds never rescan the corpus
        cur = vocab
        merges: list[tuple] = []
        step = 0
        for br in range(1, BPE_BATCH_ROUNDS + 1):
            cand = (
                cur.withColumn(
                    "tk",
                    F.split(
                        F.expr(f"trim(BOTH '{s}' FROM repr)"), s + s
                    ),
                )
                .where(F.size("tk") >= 2)  # the sequence(1,0) guard
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(tk) - 1),"
                            " i -> struct(element_at(tk, i) AS l,"
                            " element_at(tk, i + 1) AS r))"
                        )
                    ).alias("pr"),
                    "wc",
                )
                .groupBy("pr.l", "pr.r")
                .agg(F.sum("wc").cast("bigint").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "l", "r")
                .limit(BPE_BATCH_CAND)
                .collect()
            )
            if not cand:  # vocab exhausted (or empty corpus)
                break
            picks: list[tuple] = []
            for row in cand:
                if len(picks) >= BPE_BATCH_M:
                    break
                cl, cr = row["l"], row["r"]
                conflict = any(
                    wl in (cl, cr)
                    or wr in (cl, cr)
                    or cl == wl + wr
                    or cr == wl + wr
                    or wl == cl + cr
                    or wr == cl + cr
                    for wl, wr, _ in picks
                )
                if not conflict:
                    picks.append((cl, cr, row["cnt"]))
            for cl, cr, cnt in picks:
                step += 1
                merges.append((step, br, cl, cr, cl + cr, cnt))
                cur = cur.withColumn(
                    "repr",
                    F.replace(
                        "repr",
                        F.lit(s + cl + s + s + cr + s),
                        F.lit(s + cl + cr + s),
                    ),
                )
            if br % BPE_TRUNC_EVERY == 0:
                # Truncate the nested-replace lineage: persist the
                # rewritten vocab (the count materializes only THIS
                # period's replaces on top of the previous cache) and
                # drop the previous period's — LPA/components'
                # persist+unpersist discipline, applied every T rounds
                # so plan depth stays bounded at T*M replaces in the
                # 30k-round regime while the probe range pays ~one
                # extra vocab-sized job per 8 rounds.
                cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
                cur.count()
                if trunc is not None:
                    trunc.unpersist()
                trunc = cur
        schema = StructType(
            [
                StructField("merge_step", IntegerType(), False),
                StructField("batch_round", IntegerType(), False),
                StructField("left_sym", StringType(), False),
                StructField("right_sym", StringType(), False),
                StructField("merged", StringType(), False),
                StructField("pair_count", LongType(), False),
            ]
        )
        return local_frame(spark, merges, schema)
    finally:
        vocab.unpersist()
        if trunc is not None:
            trunc.unpersist()
