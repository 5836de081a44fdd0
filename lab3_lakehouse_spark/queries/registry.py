"""Registry plumbing for the query catalog."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: Production bodies of contract entries: the part a contract wraps
#: with verification work (a brute-force reference, exact counts) or
#: feeds from the oracle-replayable pair tier. ``bench.py`` times these.
BODIES: dict[str, QueryFn] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is equivalent DuckDB-runnable ANSI SQL
    (omit for non-SQL-expressible operators → rows-only driver check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def body(name: str) -> Callable[[QueryFn], QueryFn]:
    """Register the production body of the already-registered contract
    entry ``name``; declare it after its ``@query``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name not in QUERIES:
            raise ValueError(f"body for unregistered query {name!r}")
        if name in BODIES:
            raise ValueError(f"duplicate body for {name!r}")
        BODIES[name] = fn
        return fn

    return deco
