"""Central operator registry — the SURVEY.md §2 contract in code.

Every operator registers itself with :func:`query`; the driver-facing
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin projections of
this registry.  Keeping (Spark implementation, oracle SQL, scale notes)
adjacent in one decorator call is what keeps the two sides' column
aliases aligned — the driver's compare hashes values after sorting
columns by name, so a single alias drift is a correctness failure.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle SQL; None ⇒ rows-only check
    tables: tuple[str, ...] = ()
    scale_note: str = ""  # how this survives 100 TB / 1000 executors
    doc: str = field(default="", repr=False)


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    sql: str | None = None,
    tables: tuple[str, ...] = (),
    scale_note: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator key: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            sql=sql,
            tables=tables,
            scale_note=scale_note,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def load_all_operators() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registration).

    Returns the registry in registration order, i.e. the import order
    below; ``__spark_entry__.check_order`` uses it to break ties.
    """
    from .operators import windows  # noqa: F401
    from .operators import sort_limit  # noqa: F401
    from .operators import setops  # noqa: F401
    from .operators import skew  # noqa: F401
    from .operators import timeseries  # noqa: F401
    from .text import analysis  # noqa: F401
    from .llm import bucketed  # noqa: F401
    from .llm import frames  # noqa: F401
    from .llm import components, ivf  # noqa: F401
    from .llm import embdedup  # noqa: F401
    from .operators import scale_ops  # noqa: F401
    from .sources import formats  # noqa: F401
    from .sources import scans  # noqa: F401
    from .streaming import ops  # noqa: F401
    from .operators import cdc, profiling  # noqa: F401
    from .sources import layout  # noqa: F401
    from .text import indexing  # noqa: F401
    from .llm import quantize  # noqa: F401
    from .operators import graph  # noqa: F401
    from .text import pipeline  # noqa: F401
    from .llm import containment  # noqa: F401
    from .llm import curation, kmeans, semdedup  # noqa: F401
    from .llm import pca  # noqa: F401
    from .llm import audio  # noqa: F401
    from .sources import binaryfiles  # noqa: F401
    from .text import quality_rules  # noqa: F401
    from .llm import incremental, knngraph, sharding  # noqa: F401
    from .llm import recall  # noqa: F401
    from .sources import versioned  # noqa: F401
    from .llm import trainprep  # noqa: F401
    from .llm import orchestration  # noqa: F401
    from .operators import bloomjoin  # noqa: F401
    from .llm import embpipeline  # noqa: F401
    from .llm import bucketjobs  # noqa: F401
    from .operators import statistics  # noqa: F401
    from .llm import pcapower  # noqa: F401
    from .sources import deletionvectors  # noqa: F401
    from .operators import geo  # noqa: F401
    from .text import chunking  # noqa: F401
    from .llm import phash  # noqa: F401
    from .llm import mmr  # noqa: F401
    from .llm import pq  # noqa: F401
    from .llm import ivfpq  # noqa: F401
    from .llm import tiles  # noqa: F401
    from .operators import tpch  # noqa: F401
    from .llm import annindex  # noqa: F401
    from .functions import scalars  # noqa: F401
    from . import udfs  # noqa: F401
    from .llm import dedup, multimodal, similarity  # noqa: F401
    from .operators import aggregates, filters, joins  # noqa: F401

    return REGISTRY
