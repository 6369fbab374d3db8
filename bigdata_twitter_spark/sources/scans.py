"""Batch sources & sinks (SURVEY.md §2.A): parquet scan, NDJSON
round-trip (the reference's raw tweet-archive format), parquet sink.

Reference parity: the BigData-Twitter genre stores collected tweets as
newline-delimited JSON and reads them back for analytics jobs
(SURVEY.md §1.1/§2.A; reference checkout empty — §0.1). The fixtures
carry no JSON file, so the NDJSON path round-trips fixture rows
through a real ``.json()`` write/read with a declared schema, and the
oracle checks the result against the original parquet — proving the format
path end-to-end with a strong oracle.

Scale posture: schema is always declared (never inferred — inference
is a full extra pass over 100 TB); JSON is the ingest format only,
parquet the at-rest format (columnar, predicate/projection pushdown).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import scratch
from ..registry import query
from ..tables import load

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

# Canonical v1.1-style tweet schema (SURVEY.md §1.2) — used by the
# streaming/tweet pipeline; declared once here.
TWEET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField(
            "user",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("screen_name", T.StringType()),
                    T.StructField("followers_count", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "entities",
            T.StructType(
                [
                    T.StructField(
                        "hashtags",
                        T.ArrayType(
                            T.StructType([T.StructField("text", T.StringType())])
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "retweeted_status",
            T.StructType([T.StructField("id", T.LongType())]),
        ),
    ]
)


@query(
    "scan_parquet",
    sql="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tables=("events",),
    scale_note=(
        "Vectorized parquet reader; one task per row-group split "
        "(spark.sql.files.maxPartitionBytes governs split size at 100 TB)."
    ),
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full declared-schema scan of the event log (µs-normalized ts)."""
    return load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "scan_json_lines",
    sql="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    tables=("documents",),
    scale_note=(
        "NDJSON read with a DECLARED schema — no inference pass; at 100 TB "
        "JSON line files split by newline so the scan parallelizes like text."
    ),
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON round-trip: write documents as JSON lines, re-read, aggregate.

    The oracle aggregates the original parquet — equality proves the
    JSON writer/reader path is lossless for this schema.
    """
    d = load(spark, sf_dir, "documents")
    path = scratch.fresh(f"json_docs_{scratch.tag(sf_dir)}")
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(DOCUMENT_SCHEMA).json(path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "sink_parquet",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    tables=("orders",),
    scale_note=(
        "Parquet sink + re-read round-trip; at scale, sinks partitionBy a "
        "pruning key and size files via AQE coalescing."
    ),
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to parquet, read it back (sink round-trip proof)."""
    from ..numerics import dec

    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
    )
    path = scratch.fresh(f"sink_orders_{scratch.tag(sf_dir)}")
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


TOPK_HASHTAGS = 10


@query(
    "tweet_hashtag_topk",
    sql=f"""
    WITH tags AS (
        SELECT event_type AS tag FROM events
        UNION ALL
        SELECT 'k' || CAST(json_extract(props, '$.k') AS VARCHAR) AS tag
        FROM events
    ),
    counts AS (SELECT tag, COUNT(*) AS n FROM tags GROUP BY tag)
    SELECT tag, n FROM counts
    ORDER BY n DESC, tag
    LIMIT {TOPK_HASHTAGS}
    """,
    tables=("events",),
    scale_note=(
        "THE genre query on THE genre data model: events are rendered "
        "as v1.1-shaped nested tweet NDJSON (user struct, "
        "entities.hashtags array-of-structs), re-read against the "
        "declared TWEET_SCHEMA (schema-on-read, no inference pass), "
        "hashtags exploded, counted, TakeOrdered top-10. The oracle "
        "computes the same counts relationally from the source events — "
        "equality proves the whole nested JSON round-trip (to_json → "
        "NDJSON files → from-schema parse → dot-path/explode access) is "
        "lossless. At 100 TB: NDJSON splits by line, the tag count is a "
        "two-phase agg whose hot keys are absorbed by map-side combine, "
        "and top-K never sorts the full tag table."
    ),
)
def tweet_hashtag_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending hashtags over a tweet-shaped NDJSON archive built from
    the event log and parsed with the canonical TWEET_SCHEMA."""
    e = load(spark, sf_dir, "events")
    tweet = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.date_format("ts", "EEE MMM dd HH:mm:ss Z yyyy").alias(
                "created_at"
            ),
            F.concat(F.lit("event "), F.col("event_type")).alias("text"),
            F.lit("en").alias("lang"),
            F.struct(
                F.col("user_id").alias("id"),
                F.concat(F.lit("u"), F.col("user_id")).alias("screen_name"),
                (F.col("user_id") % 1000).alias("followers_count"),
            ).alias("user"),
            F.struct(
                F.array(
                    F.struct(F.col("event_type").alias("text")),
                    F.struct(
                        F.concat(
                            F.lit("k"),
                            F.get_json_object("props", "$.k"),
                        ).alias("text")
                    ),
                ).alias("hashtags")
            ).alias("entities"),
        )
    )
    path = scratch.fresh(f"tweets_{scratch.tag(sf_dir)}")
    e.select(tweet.alias("value")).write.mode("overwrite").text(path)
    tweets = spark.read.schema(TWEET_SCHEMA).json(path)
    tags = tweets.select(
        F.explode(F.col("entities.hashtags")).alias("h")
    ).select(F.col("h.text").alias("tag"))
    return (
        tags.groupBy("tag")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tag")
        .limit(TOPK_HASHTAGS)
    )
