"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus oracle SQL.

The driver harness (``__spark_entry__.py``) exposes these via
``queries()`` / ``oracle_sql()``. Column names of each Spark result are
aliased to match the oracle exactly (the compare sorts columns by name
before hashing values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL over the same
    tables, or None for non-SQL-expressible ops (rows-only check).
    Names are unique: registering one twice raises instead of silently
    shadowing the first definition."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
