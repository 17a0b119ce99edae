"""Name → query / oracle registry backing __spark_entry__.

Conventions that keep the driver's hash-compare green:
- Alias every computed column identically in Spark and SQL.
- Aggregate money in DECIMAL (exact, order-insensitive) and cast the
  final result to double — double SUMs are accumulation-order-dependent
  and would flake between engines.
- Ratios are computed from exact integer counts with a single double
  division (IEEE-identical in both engines).
- Timestamps rely on the session being pinned to UTC
  (session.ensure_session_defaults).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from panditya_spark.session import ensure_session_defaults
from panditya_spark.sources.loaders import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Testdata table ``name`` under ``sf_dir``, read after the runtime
    session defaults every query relies on (UTC, the events timestamp
    reads) are applied to ``spark``, which may be a session the caller
    built. The query modules import it as ``_t``."""
    ensure_session_defaults(spark)
    return load_table(spark, sf_dir, name)
