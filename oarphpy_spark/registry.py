"""Central registry of declared queries and their DuckDB oracles.

Every operator the engine claims (SURVEY.md §2) registers here:

    @query("q_groupby_count", oracle="SELECT ...")
    def q_groupby_count(spark, sf_dir) -> DataFrame: ...

``__spark_entry__.py`` re-exports ``queries()`` / ``oracle_sql()`` from
this module for the driver's correctness harness. Naming discipline:
every computed column is aliased identically in the Spark plan and the
oracle SQL (the driver sorts columns by name before value-hashing).

Queries without an oracle (sampling, binary outputs, stateful
streaming) register with ``oracle=None`` → the driver records a weaker
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query slug: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return dict(_ORACLES)


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (import side effects)."""
    global _LOADED
    if _LOADED:
        return
    import oarphpy_spark.queries  # noqa: F401  (registers on import)

    _LOADED = True
