from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def q(name: str, sql: str | None):
    """Register a driver-contract query with its DuckDB oracle SQL
    (None -> rows-only check)."""

    def deco(fn: QueryFn):
        assert name not in REGISTRY, f"duplicate query name {name}"
        REGISTRY[name] = (fn, sql)
        return fn

    return deco

