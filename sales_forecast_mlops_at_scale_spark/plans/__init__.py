"""Concrete query plans + DuckDB oracle SQL.

Each registry maps ``name -> QueryDef(fn, oracle)`` where ``fn(spark,
sf_dir) -> DataFrame`` is the Spark-native implementation and ``oracle`` is
semantically-equivalent ANSI SQL for DuckDB over the same parquet fixtures
(``None`` for ops that SQL cannot express — the driver then records a
rows-only check).

Column names are aliased identically on both sides: the differential
harness sorts columns by name before value-hashing, so names are part of
the contract.  Floating-point aggregates are rounded **inside both
queries** (4-6 digits) so hashes are insensitive to summation order.

:func:`all_queries` wraps every ``fn`` in the registry plan cache
(:func:`..cache.registry_plan`): a repeat call in the same session over
unchanged input files returns the DataFrame the first call built.  The
module-level ``QUERIES`` dicts hold the unwrapped builders.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    """``fn(spark, sf_dir)`` builds the query's plan; through
    :func:`all_queries` a repeat call may return the first call's
    DataFrame (module doc)."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def all_queries() -> dict[str, QueryDef]:
    from . import analytics_queries, llm_queries, ml_queries, star_queries, tpch_queries

    out: dict[str, QueryDef] = {}
    for mod in (star_queries, tpch_queries, llm_queries, ml_queries, analytics_queries):
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    return {name: replace(q, fn=_cached(name, q.fn)) for name, q in out.items()}


def _cached(name: str, fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..cache import registry_plan

        return registry_plan(name, spark, sf_dir, fn)

    return cached
