"""Local emulation of the driver's DuckDB-oracle correctness check.

For each declared query: run the Spark plan and the oracle SQL on the
same parquet tables, sort columns by name and rows by value, and
compare cell-by-cell (exact for ints/strings/bools, tiny-rtol for
floats). This is the dev-loop feedback before an outside harness runs
the same check.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Any

import duckdb
import pandas as pd

from oarphpy_spark.tables import TABLE_NAMES

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-9


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for name in TABLE_NAMES:
        conn.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return conn


def _norm_cell(v: Any) -> Any:
    """Normalize a cell for cross-engine compare."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # datetime / date
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    # numpy scalars
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, int, bool)):
        try:
            return _norm_cell(v.item())
        except (ValueError, AttributeError):
            pass
    return v


def _norm_df(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return rows


def _sort_key(v: Any) -> tuple:
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, float(v))
    if isinstance(v, bytes):
        return (2, v.hex())
    return (3, str(v))


def _type_class(v: Any) -> str:
    """Representation class, mirroring the driver's value-hash semantics:
    a bigint, a double, and a Decimal carrying the same value are
    DIFFERENT representations and must not be conflated (the driver's
    hash caught exactly this on tpch q9/q12 in round 5)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, Decimal):
        return "decimal"
    return type(v).__name__


def _cells_match(a: Any, b: Any) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_match(x, y) for x, y in zip(a, b))
    ta, tb = _type_class(a), _type_class(b)
    if ta != tb:
        # Representation mismatch (e.g. Spark DECIMAL vs DuckDB double,
        # DuckDB HUGEINT-sum->float64 vs Spark int64) — the driver's
        # hash treats these as failures, so we must too.
        return False
    if ta == "float":
        # Both genuinely double: allow last-ulp engine divergence only.
        return math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    return a == b


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    problems: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"column mismatch: spark={s_cols} oracle={o_cols}")
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(
            f"row count mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
        return problems
    s_rows, o_rows = _norm_df(spark_pdf), _norm_df(oracle_pdf)
    n_bad = 0
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        if not all(_cells_match(a, b) for a, b in zip(sr, orow)):
            n_bad += 1
            if n_bad <= 5:
                problems.append(f"row {i}: spark={sr!r} oracle={orow!r}")
    if n_bad > 5:
        problems.append(f"... {n_bad} mismatched rows total")
    return problems


def run_parity(
    spark, name: str, sf_dir: str, oracle_sf_dir: str | None = None
) -> list[str]:
    """Run one declared query against its oracle; [] == match.

    ``oracle_sf_dir`` lets the DuckDB side read a DIFFERENT physical
    copy of the tables (same content). The shuffled-row sweep passes
    the original dir here while Spark reads a row-scrambled copy: a
    query that depends on physical row order in ANY way then diverges
    — even if both engines would have agreed on the same file (which
    is exactly how the q_scc_sizes LEAD-ambiguity hid at sf0.01)."""
    from oarphpy_spark import registry
    from oarphpy_spark.util.checkpoints import release_cached

    qfn = registry.queries()[name]
    sql = registry.oracle_sql().get(name)
    df = qfn(spark, sf_dir)
    try:
        spark_pdf = df.toPandas()
    finally:
        # Operators that persist shared subtrees ride the caches on the
        # result (util/checkpoints.hold_caches); SQL-cached plans are held by
        # the CacheManager until explicit unpersist, so a full-registry
        # run in one session would otherwise accumulate them for the
        # session lifetime.
        try:
            release_cached(df)
        except Exception:  # noqa: BLE001 — teardown must not kill the gate
            pass
    if sql is None:
        return [] if len(spark_pdf) >= 0 else ["spark query failed"]
    with duckdb_connection(oracle_sf_dir or sf_dir) as conn:
        oracle_pdf = conn.execute(sql).df()
    return compare(spark_pdf, oracle_pdf)
