"""Shared registry state: the QUERIES / ORACLE_SQL dicts, the
``register`` decorator every ``q_*`` family module populates, and
``register_texts`` for the queries whose Spark text is also their
DuckDB oracle.

This is the single source of truth consumed by ``__spark_entry__.py``,
``bench.py``, and the tests.  Convention: each Spark query aliases
every computed column, and the oracle SQL uses the *same* aliases so
the driver's order-insensitive value hash lines up.

``ONE_TEXT`` maps each query whose Spark text is also its DuckDB
oracle to that text: one ANSI string, two engines.  SQL over lazy
temp views compiles to the same Catalyst plan as the DataFrame program
would (pruning, pushdown and broadcast decisions carry over), so these
queries need no body of their own.  A query keeps a body only where
its text would not run the Spark API the query exists to run, or where
the body is a different algorithm from the text.  The trade-off: the
oracle check of a one-text query is one text run by two engines, so
it holds only where the text *is* the specification.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import register_views


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}
ONE_TEXT: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its oracle) to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def register_texts(module: str, texts: dict[str, str]) -> None:
    """Register each ``name -> text`` as both the Spark query and its
    oracle.  ``module`` is the calling family module's ``__name__``; the
    registered function reports it as its own, so a query still lives
    in its family module."""
    for name, text in texts.items():
        query = _one_text(text)
        query.__module__ = module
        query.__name__ = query.__qualname__ = name
        ONE_TEXT[name] = text
        register(name, text)(query)


def _one_text(text: str) -> Callable[[SparkSession, str], DataFrame]:
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(text)

    return query
