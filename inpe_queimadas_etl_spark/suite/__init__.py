"""Declared query suite: name -> Spark callable + DuckDB oracle SQL.

The dedup and text-analysis operators of the training-data pipeline
register here; ``tests/test_suite_oracle.py`` runs each Spark query
against its oracle SQL (row count + schema + order-insensitive
values).

Conventions (driver contract):
- every computed column is aliased identically in the Spark plan and
  the oracle SQL (the compare sorts columns by name before hashing);
- double-typed aggregates are rounded (2 or 4 dp, mirroring the
  reference's ``round(x, 2/4)`` mart formulas) so engine-order
  floating-point noise cannot flip the value hash;
- count/sum-of-integer aggregates are cast to BIGINT in the oracle
  (DuckDB sums integers into HUGEINT, Spark into LONG).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register a suite query with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate suite query {name!r}")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every suite module so registration side effects run.

    The registry holds 20 entries, within the correctness snapshot's
    50-query cap (tests/test_suite_oracle.py pins the count).
    """
    from . import llmdata  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
