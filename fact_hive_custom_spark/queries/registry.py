"""Central query registry.

Every operator from SURVEY.md §2.2 registers here under its canonical
ID. `QUERIES[name]` is a PySpark callable `(spark, sf_dir) -> DataFrame`
and `ORACLE[name]` the equivalent DuckDB ANSI SQL; the driver
hash-compares the two at sf 0.01 (CORRECTNESS gate). Ops whose output
is not SQL-expressible (sketches, streaming-only semantics) register
with `oracle=None` and carry their real assertions in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under its SURVEY.md §2.2 ID with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn

    return deco

