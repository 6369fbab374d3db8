"""Driver-built frames (``tables.local_frame``) and AQE-sized caches.

``local_frame`` must be a drop-in for ``spark.createDataFrame(rows,
schema)``: same schema with nullability, same rows, for every type the
package's call sites pass, but planned as a local relation instead of a
pickled Python RDD.  The AST guard keeps every package module on it.
"""

from __future__ import annotations

import ast
import datetime
import os
from decimal import Decimal

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "bigdata_twitter_spark")

_UTC = datetime.timezone.utc

CASES = {
    "int_bigint_with_null": (
        [(1, 10), (None, 20), (3, None)],
        "k int, v bigint",
    ),
    "double_and_string": (
        [(0.5, "a"), (-2.25, None), (None, "ß")],
        "x double, s string",
    ),
    "array_double": ([([1.0, 2.5],), ([],), (None,)], "c array<double>"),
    "array_bigint": ([([1, 2, 3],), ([-(2**40)],)], "bf array<bigint>"),
    "decimal": (
        [(Decimal("12.34"),), (None,), (Decimal("-0.01"),)],
        "d decimal(12,2)",
    ),
    "timestamp": (
        [
            (datetime.datetime(2024, 3, 1, 12, 30, 0, 123456),),
            (datetime.datetime(1969, 12, 31, 23, 59, 59, tzinfo=_UTC),),
            (None,),
        ],
        "ts timestamp",
    ),
    "non_nullable_struct": (
        [(0, "a", "b", "ab", 7), (1, "ab", "c", "abc", 3)],
        StructType(
            [
                StructField("merge_step", IntegerType(), False),
                StructField("left_sym", StringType(), False),
                StructField("right_sym", StringType(), False),
                StructField("merged", StringType(), False),
                StructField("pair_count", LongType(), False),
            ]
        ),
    ),
    "empty": ([], "vec_id bigint, label int, pc1 double"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    from bigdata_twitter_spark.tables import local_frame

    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    # The JVM's schema too, nullability included (not only the Python
    # side's cached copy).
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert got.collect() == want.collect()


def test_local_frame_plans_a_local_table_scan(spark):
    from bigdata_twitter_spark.tables import local_frame

    df = local_frame(spark, [(k,) for k in (1, 2, 3)], "k bigint")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_small_persisted_intermediate_is_one_partition(spark, tmp_path):
    """A cached aggregate of a few rows is coalesced by AQE to the
    partitions its bytes need, so a loop that rescans it runs one task
    per scan instead of one per shuffle partition."""
    from bigdata_twitter_spark.session import configure
    from bigdata_twitter_spark.tables import persist_fresh

    configure(spark)
    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 30).alias("g"))
        .agg(F.count("*").alias("n"))
    )
    cached = persist_fresh("test_small_cache", str(tmp_path), agg)
    try:
        assert cached.count() == 30
        assert cached.rdd.getNumPartitions() == 1
    finally:
        cached.unpersist()


def test_only_local_frame_calls_create_dataframe():
    """Spark-free: a list handed to createDataFrame is a Python-worker
    crossing per scan, so package code builds driver-side frames
    through tables.local_frame only."""
    bad = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            allowed = set()
            if rel == "tables.py":
                for node in tree.body:
                    if (
                        isinstance(node, ast.FunctionDef)
                        and node.name == "local_frame"
                    ):
                        allowed = {id(n) for n in ast.walk(node)}
            bad += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ]
    assert not bad, bad
