"""Bloom-filter join pruning (SURVEY.md §2.N growth, round 5).

The shuffle-volume killer for selective fact⋈dim joins at 100 TB: the
dim side's join keys are summarized into a Bloom bitmap (metadata-
sized, here 8 KB for 2^16 bits), the bitmap is broadcast, and the fact
table is pre-filtered MAP-SIDE before any shuffle or join — rows whose
key cannot be in the dim side never leave the scan stage.  False
positives are then removed by the ordinary exact join, so the final
answer is bit-identical to the plain join and the oracle is simply the
un-bloomed SQL.

Spark's optimizer can inject the same shape automatically (runtime
row-level filtering, ``spark.sql.optimizer.runtime.bloomFilter.
enabled``) when statistics justify it; this operator is the explicit,
always-on version — the ``bloom_filter_agg``/``might_contain``
expressions it would use are not in the public function registry, so
the bitmap is built from public primitives: ``xxhash64`` with k seed
columns, word/bit decomposition, and a ``bit_or`` aggregate.

Scale posture: the bitmap aggregate shuffles one row per (partition ×
word) — at most 1024 words regardless of dim size; the driver-side
collect is the bitmap itself (8 KB, same bounded-model-state pattern
as the k-means centroids), re-broadcast as a 1-row frame.  Sizing at
100 TB: m grows with |dim keys| to hold the false-positive rate (m ≈
1.44·k·n bits for FPR 2^-k); a 100M-key dim at k=3, FPR ~1% needs
~64 MB — still broadcastable, or switched to the engine's runtime
filter which shards the same structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, local_frame

# 2^16 bits = 1024 64-bit words.  With k=3 hashes and ~600 dim keys at
# sf0.1 the load factor is ~0.03 ⇒ FPR ~2e-5; at sf1 ~0.3 ⇒ FPR ~2e-3.
M_BITS = 1 << 16
N_WORDS = M_BITS // 64
K_HASHES = 3


def bloom_bitmap(keys: DataFrame, col: str) -> list[int]:
    """Aggregate the Bloom bitmap for ``keys[col]`` distributed, then
    collect it (N_WORDS rows max — metadata, not data)."""
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(i), F.col(col)), F.lit(M_BITS))
                    for i in range(K_HASHES)
                ]
            )
        ).alias("pos")
    )
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.col("pos").alias("pos"),
        )
        .groupBy("word_idx")
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))"
            ).alias("word")
        )
        .collect()
    )
    bitmap = [0] * N_WORDS
    for r in words:
        bitmap[r["word_idx"]] = r["word"]
    return bitmap


def prune_by_bloom(df: DataFrame, key: str) -> DataFrame:
    """Drop rows of ``df`` whose ``key`` is DEFINITELY absent from the
    broadcast ``bf`` bitmap column (keeps all maybe-present rows; the
    exact join downstream resolves false positives)."""
    pruned = df
    tests = []
    for i in range(K_HASHES):
        pcol = f"_bloom_p{i}"
        pruned = pruned.withColumn(
            pcol, F.pmod(F.xxhash64(F.lit(i), F.col(key)), F.lit(M_BITS))
        )
        tests.append(
            F.expr(
                f"(element_at(bf, CAST({pcol} DIV 64 AS INT) + 1) & "
                f"shiftleft(1L, CAST({pcol} % 64 AS INT))) != 0"
            )
        )
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    return pruned.filter(cond).drop(
        *[f"_bloom_p{i}" for i in range(K_HASHES)]
    )


@query(
    "join_bloom_prefilter",
    sql="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
    tables=("orders", "customer"),
    scale_note=(
        "Selective fact⋈dim join with an explicit Bloom pre-filter: "
        "the filtered dim's keys fold into a 2^16-bit bitmap (one "
        "bit_or agg, ≤1024 shuffle rows), the 8 KB bitmap broadcasts, "
        "and the fact scan drops definitely-unmatched rows MAP-SIDE "
        "before the join shuffle — at 100 TB this is the difference "
        "between shuffling the whole fact table and shuffling the "
        "~20% that can match. False positives are removed by the "
        "exact join that follows, so the result is bit-identical to "
        "the plain join (which is exactly what the oracle states)."
    ),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders⋈customer restricted to one market segment, pre-pruned by
    a broadcast Bloom bitmap of the segment's customer keys."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bitmap = bloom_bitmap(c.select("c_custkey"), "c_custkey")
    bf_df = local_frame(spark, [(bitmap,)], "bf array<bigint>")
    pruned = prune_by_bloom(o.crossJoin(F.broadcast(bf_df)), "o_custkey").drop(
        "bf"
    )
    return pruned.join(
        F.broadcast(c), pruned.o_custkey == c.c_custkey
    ).select("o_orderkey", "o_totalprice", "c_name")
