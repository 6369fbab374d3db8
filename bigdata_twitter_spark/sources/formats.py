"""Additional batch formats (SURVEY.md §2.N): CSV scan and JSON-lines
sink — the reference genre's export formats (collected tweets were
dumped to CSV/NDJSON for downstream notebooks).

Both operators are write→read ROUND-TRIPS against the parquet fixture,
oracle-checked against the original table: equality proves the format
path (writer options, schema declaration, type round-trip) end-to-end,
not just that a reader exists.

Scale posture: CSV/JSON are ingest/export edges only — schema always
DECLARED (inference is an extra full pass at 100 TB), parquet remains
the at-rest format; newline-delimited text splits by line so both
formats parallelize like any text scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import scratch
from ..registry import query
from ..tables import load

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@query(
    "scan_csv",
    sql="""
    SELECT c_custkey, c_name, c_nationkey,
           round(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM customer
    """,
    tables=("customer",),
    scale_note=(
        "CSV read with a DECLARED schema and explicit header/quote "
        "options — never inferSchema (an extra full pass at 100 TB). "
        "Doubles are rounded to the written precision on both engines "
        "so the text round-trip is exact."
    ),
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: write customers as CSV, re-read with declared schema.

    The oracle reads the original parquet — equality proves the CSV
    writer/reader path is lossless for this schema (doubles rounded to
    2dp before writing so text formatting cannot diverge).
    """
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    path = scratch.fresh(f"csv_cust_{scratch.tag(sf_dir)}")
    c.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(path)


@query(
    "scan_orc",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_day
    FROM orders
    """,
    tables=("orders",),
    scale_note=(
        "ORC round-trip (Spark's second columnar at-rest format, "
        "zero extra dependencies): write orders as ORC, re-read, and "
        "hash-match the parquet original — proves writer options, "
        "type mapping, and the vectorized ORC reader end-to-end. ORC "
        "splits by stripe exactly as parquet splits by row-group, so "
        "scan parallelism at 100 TB is identical; predicate pushdown "
        "and column pruning work through the same DataSource V2 path."
    ),
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write orders to ORC, read back (days serialized as
    yyyy-MM-dd strings so both engines agree exactly)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_day"),
    )
    path = scratch.fresh(f"orc_orders_{scratch.tag(sf_dir)}")
    o.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "sink_json_lines",
    sql="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    tables=("events",),
    scale_note=(
        "NDJSON sink + schema-declared re-read (the genre's export "
        "bridge to notebooks/dashboards); aggregate-sized output, "
        "timestamps serialized as ISO-8601 UTC and parsed back exactly."
    ),
)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a per-type/day aggregate as JSON lines, read it back."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    path = scratch.fresh(f"json_sink_{scratch.tag(sf_dir)}")
    agg.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("day", T.TimestampType()),
            T.StructField("n", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "scan_schema_evolution",
    sql="""
    SELECT event_id, user_id, value, NULL AS event_type
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, user_id, value, event_type
    FROM events WHERE event_id % 2 = 1
    """,
    tables=("events",),
    scale_note=(
        "Schema evolution across file generations: generation 1 lacks "
        "the event_type column, generation 2 adds it; a mergeSchema read "
        "unifies both with NULL back-fill — no rewrite of the old "
        "generation. At 100 TB this is how a corpus gains columns: "
        "merge the footer schemas (a metadata operation), never the "
        "data. Production posture: pin the merged schema in the table "
        "catalog so readers don't pay per-query footer merging."
    ),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read two parquet generations (second adds event_type) with
    mergeSchema, old rows NULL-padded."""
    e = load(spark, sf_dir, "events")
    root = scratch.fresh(f"evolve_{scratch.tag(sf_dir)}")
    gen1 = os.path.join(root, "gen=1")
    gen2 = os.path.join(root, "gen=2")
    e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(gen1)
    e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    ).write.mode("overwrite").parquet(gen2)
    merged = spark.read.option("mergeSchema", "true").parquet(gen1, gen2)
    return merged.select("event_id", "user_id", "value", "event_type")


# Every 13th-mod-5 event's value cell is written as unparseable text —
# the deterministic "rotten rows" channel for the quarantine scan.
CSV_CORRUPT_MOD = 13
CSV_CORRUPT_REM = 5


@query(
    "scan_csv_quarantine",
    sql=f"""
    SELECT 'ok' AS status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % {CSV_CORRUPT_MOD} <> {CSV_CORRUPT_REM}
    UNION ALL
    SELECT 'corrupt' AS status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(0.0 AS DOUBLE) AS sum_value
    FROM events WHERE event_id % {CSV_CORRUPT_MOD} = {CSV_CORRUPT_REM}
    """,
    tables=("events",),
    scale_note=(
        "Malformed-row QUARANTINE for text ingestion (the CSV cousin "
        "of multimodal_decode_errors): PERMISSIVE parse with a "
        "columnNameOfCorruptRecord channel, so rotten rows become "
        "(null fields + raw line) instead of failing the task — the "
        "behavior that keeps a 100-TB CSV backfill alive.  Pure "
        "map-side: the parse, the channel split and the partial agg "
        "all fuse into the scan; quarantined raw lines would be "
        "sunk to a side table for triage in production.  The fixture "
        "corrupts the value cell of every (id % 13 == 5) row when "
        "WRITING the CSV, so both channels are oracle-stated exactly."
    ),
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV scan with a corrupt-record quarantine channel;
    per-channel row counts and exact value sums."""
    e = load(spark, sf_dir, "events")
    corrupt = (
        F.col("event_id") % CSV_CORRUPT_MOD == CSV_CORRUPT_REM
    )
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.when(corrupt, F.lit("NOT_A_NUMBER")).otherwise(
            F.col("value").cast("string")
        ),
    )
    path = scratch.fresh(f"csv_quar_{scratch.tag(sf_dir)}")
    e.select(line.alias("value")).write.mode("overwrite").text(path)
    # from_csv (per-row parse expression) rather than a schema'd .csv
    # scan: the scan form trips Spark's
    # UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN rule as
    # soon as column pruning narrows the plan to the corrupt channel
    # (e.g. a count() over the statuses).  The expression form has no
    # such rule, parses in the same map stage, and keeps the raw line
    # adjacent for the triage sink.
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_csv(
            F.col("value"),
            "event_id bigint, event_type string, value double, "
            "_corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    ).select("r.event_id", "r.event_type", "r.value", "r._corrupt")
    from ..numerics import dsum

    return (
        parsed.withColumn(
            "status",
            F.when(F.col("_corrupt").isNull(), F.lit("ok")).otherwise(
                F.lit("corrupt")
            ),
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(dsum("value"), F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "scan_text_lines",
    sql="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
    FROM events
    """,
    tables=("events",),
    scale_note=(
        "Raw-text-line ingestion (the log-file source format the "
        "csv/json keys don't cover): events are serialized as "
        "pipe-delimited lines, read back with spark.read.text — one "
        "string column, splittable like any text file — and parsed "
        "with a single split() projection (pure map-side codegen; at "
        "100 TB the parse fuses into the scan exactly like the CSV "
        "path).  Timestamps travel as epoch microseconds so the text "
        "round-trip has no formatter variance to diverge on; the "
        "oracle reads the original parquet, so equality proves the "
        "write→read→parse loop lossless."
    ),
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-lines round-trip: write events as pipe-delimited lines,
    re-read with spark.read.text, parse back to typed columns."""
    e = load(spark, sf_dir, "events").select(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.unix_micros("ts").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
        ).alias("value")
    )
    path = scratch.fresh(f"text_events_{scratch.tag(sf_dir)}")
    e.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\\|")
    return raw.select(
        parts.getItem(0).cast("bigint").alias("event_id"),
        parts.getItem(1).cast("bigint").alias("ts_us"),
        parts.getItem(2).cast("bigint").alias("user_id"),
        parts.getItem(3).alias("event_type"),
    )
