"""The benchmark's workloads: which operator keys a pass runs, and why.

A pass calls every key of its workload once.  ``warmup`` passes run
untimed after the check pass, as part of set-up.  See ``README.md`` for
why each key was chosen.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    """``passes`` is the fixed minimum number of timed passes per run.

    The tail percentile is chosen from it, so that it is the same on
    every run and every commit.  It is four or six, so that the tail rank
    (ten samples from the top) falls inside one key's samples rather
    than between two keys; see README.md.
    """

    name: str
    keys: tuple[str, ...]
    passes: int
    warmup: int


WORKLOADS = {
    w.name: w
    for w in (
        # DataFrame analytics: TPC-H jobs per query, Catalyst/AQE and
        # job scheduling.
        Workload(
            "batch_analytics",
            (
                "agg_q2_min_cost_supplier",
                "agg_q5_local_supplier",
                "agg_q7_nation_volume",
                "agg_q8_market_share",
                "agg_q9_product_profit",
                "agg_q18_large_orders",
                "agg_q21_waiting_supplier",
                "agg_stats",
                "fn_json",
            ),
            passes=4,
            warmup=2,
        ),
        # Structured Streaming: microbatch, state store, checkpoint and
        # sink writes.
        Workload(
            "stream_ingest",
            (
                "stream_tumbling_agg",
                "stream_dedup",
                "stream_static_join",
                "stream_stateful_running",
                "source_stream_file",
                "sink_stream_foreachbatch",
                "stream_upsert_versioned",
            ),
            passes=6,
            warmup=1,
        ),
        # LLM data curation: eager driver loops, Arrow/pandas boundaries
        # and persisted intermediates.
        Workload(
            "llm_curation",
            (
                "dedup_minhash_lsh",
                "sim_cosine_topk",
                "text_tf_idf",
                "dedup_exact",
                "text_bpe_vocab_train",
                "embed_mmr_diverse",
                "udf_pandas_vectorized",
            ),
            passes=6,
            warmup=1,
        ),
    )
}

# Keys whose output is checked for its column set and row count only,
# with the reason.  Every other key must match its DuckDB oracle
# value for value.
ROWS_ONLY = {
    "agg_stats": (
        "var_price can differ from DuckDB in the last bit "
        "(902872073.2674246 vs 902872073.2674242 on the sf0.1 fixtures), "
        "a summation-order effect in the variance, not a wrong result"
    ),
    "embed_mmr_diverse": (
        "mmr_score is round(x, 6) of a float fold; when x sits on a "
        "half-way point Spark rounds the decimal and DuckDB the binary "
        "value (0.187194 vs 0.187195 on seed 3), not a wrong pick"
    ),
}

# Layers are the package's subpackages; a key belongs to the one that
# defines its operator function.
LAYERS = ("operators", "functions", "streaming", "llm", "text", "udfs")


def layer_of(module: str) -> str:
    """``bigdata_twitter_spark.llm.mmr`` -> ``llm``; ``...udfs`` -> ``udfs``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 1 else parts[0]
