"""Operator registry — binds every SURVEY.md §2 key to its implementation.

Each registered key carries:
- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-native implementation;
- ``oracle`` — the equivalent DuckDB/ANSI SQL (None for ops DuckDB cannot
  express: streaming, LSH, grouped-map UDFs → driver does rows-only checks).

``__spark_entry__.py`` exposes this registry verbatim as ``queries()`` /
``oracle_sql()``; tests iterate it to diff Spark vs DuckDB locally.

Conventions (keep Spark and oracle hash-identical, SURVEY.md §7 hard parts):
- alias every computed column identically on both sides;
- round double aggregates with ``ROUND(x, 2)`` on both sides;
- output temporal values as strings (date_format / strftime), never raw
  timestamps (fixture precision is ms/ns mixed, FIXTURES.md);
- LIMIT queries carry a fully deterministic ORDER BY (unique tiebreaker).
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    section: str


REGISTRY: dict[str, QuerySpec] = {}

# Modules that register operator keys on import (order = SURVEY.md §2 order).
_OPERATOR_MODULES = (
    "sdp_spark.operators.scans",
    "sdp_spark.operators.relational",
    "sdp_spark.operators.joins",
    "sdp_spark.operators.aggregates",
    "sdp_spark.operators.windows",
    "sdp_spark.operators.sortlimit",
    "sdp_spark.operators.setops",
    "sdp_spark.functions.families",
    "sdp_spark.operators.subqueries",
    "sdp_spark.streaming.ops",
    "sdp_spark.operators.udfs",
    "sdp_spark.operators.llm",
    "sdp_spark.operators.corpus",
    "sdp_spark.operators.multimodal",
    "sdp_spark.operators.fulltext",
    "sdp_spark.operators.catalog",
    "sdp_spark.operators.analytics",
    "sdp_spark.operators.insights",
    "sdp_spark.operators.stats",
    "sdp_spark.operators.graphs",
    "sdp_spark.dialect",
)


def register(key: str, oracle: str | None = None, section: str = ""):
    """Decorator: add ``fn`` to the registry under ``key``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if key in REGISTRY:
            raise ValueError(f"duplicate operator key: {key}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver invokes operators under its own vanilla session;
            # pin the runtime confs the oracle contract depends on (UTC
            # session timezone) on EVERY dispatch, not just fixture loads —
            # disk-cached derived inputs can bypass fixtures.table().
            from sdp_spark.sources.fixtures import _pin_session_confs

            _pin_session_confs(spark)
            return fn(spark, sf_dir)

        REGISTRY[key] = QuerySpec(key=key, fn=pinned, oracle=oracle, section=section)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (idempotent) and return the registry in
    registration order."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    return dict(REGISTRY)
