"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``bigdata_twitter_spark``; this module is a
thin projection of its operator registry (one key per implemented
SURVEY.md §2 operator).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bigdata_twitter_spark.registry import load_all_operators  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    specs = load_all_operators()
    return specs["agg_q1_pricing"].fn(spark, SMOKE_SF_DIR)


def check_order(keys: Iterable[str], repo: str = HERE) -> list[str]:
    """``keys`` ordered by the round of their latest CORRECTNESS row,
    oldest first; a key with no row counts as round 0 and ties keep
    the given order."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                for key in json.load(f):
                    latest[key] = max(latest.get(key, 0), int(m[1]))
    return sorted(keys, key=lambda k: latest.get(k, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver checks the first 50 keys each round, so the keys come
    in :func:`check_order`: least recently checked first.
    """
    specs = load_all_operators()
    return {name: specs[name].fn for name in check_order(specs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key; omitted ⇒ rows-only check."""
    return {
        name: spec.sql
        for name, spec in load_all_operators().items()
        if spec.sql is not None
    }
