"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001 as a smoke check;
``queries()`` / ``oracle_sql()`` expose the full declared inventory from
``oarphpy_spark.registry`` for the DuckDB correctness harness, as plain
dicts in registration order. The registry itself is lazy: ``entry``
imports only the flagship query's module, while ``queries()`` and
``oracle_sql()`` import every query module to fill their dicts.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oarphpy_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    qs = registry.queries()
    return qs["q_agg_sum_avg_minmax"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(registry.queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    return dict(registry.oracle_sql())
