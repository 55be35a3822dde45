"""Every declared query matches its DuckDB oracle at sf0.001.

This mirrors the driver's CORRECTNESS gate (which runs at sf0.01); we
use sf0.001 here to keep the suite fast and run sf0.01 in the slower
pre-commit sweep (scripts/drive_entry.py).
"""

from __future__ import annotations

import pytest

from oarphpy_spark import registry
from oarphpy_spark.testing.parity import run_parity

from .conftest import SF_SMALL


def _all_query_names() -> list[str]:
    return sorted(registry.queries().keys())


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, name):
    problems = run_parity(spark, name, SF_SMALL)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # The contract exposes the registry in registration order, and every
    # oracle belongs to a registered query, in the same order.
    names = list(e.queries())
    assert names == list(registry._QUERIES)
    oracles = e.oracle_sql()
    assert list(oracles) == [n for n in names if n in oracles]


# Queries that bind their inputs as ``spark.sql`` arguments
# (``tables.bound_sql``, ``df_histogram``, the kcore rounds).
_BOUND_SQL_QUERIES = (
    "q_sql_tpch_q1", "q_sql_tpch_q3", "q_sql_tpch_q4", "q_sql_tpch_q5",
    "q_sql_tpch_q6", "q_sql_tpch_q7", "q_sql_tpch_q8", "q_sql_tpch_q9",
    "q_sql_tpch_q10", "q_sql_tpch_q12", "q_sql_tpch_q14", "q_sql_tpch_q16",
    "q_sql_tpch_q17", "q_sql_tpch_q18", "q_sql_tpch_q19", "q_sql_tpch_q21",
    "q_sql_correlated_scalar", "q_sql_lateral_topk", "q_sql_groupby_all",
    "q_sql_pivot_clause", "q_sql_exists_decorrelate", "q_sql_grouping_id",
    "q_set_ops_all", "q_sql_recursive_reach", "q_udtf_chunks",
    "q_histogram", "q_kcore",
)


def test_listagg_leaves_no_temp_view(spark):
    """q_fn_listagg, and every query that binds its tables as
    statement arguments, leaves the session catalog as it found it:
    no session-global temp view another client could see or rebind."""
    problems = run_parity(spark, "q_fn_listagg", SF_SMALL)
    assert not problems, problems
    assert "_listagg_pairs" not in {t.name for t in spark.catalog.listTables()}

    # A fresh session on the same context starts with no temp view,
    # so a view a query registers under a table's own name shows.
    session = spark.newSession()
    queries = registry.queries()
    for name in _BOUND_SQL_QUERIES:
        before = sorted(t.name for t in session.catalog.listTables())
        queries[name](session, SF_SMALL)
        assert sorted(t.name for t in session.catalog.listTables()) == before, name


# Slow tier: zero-vector ANSI edge-case sweep over the sim family
# (~25 s); per-query oracles above stay default.
@pytest.mark.slow
def test_sim_queries_zero_vector_parity(spark, tmp_path):
    """Engine vs oracle on a corpus CONTAINING an all-zero vector: the
    engine's try_divide+drop must line up with the oracles' NULL-on-
    zero-norm CASE (NOT IEEE NaN, which DuckDB ranks above everything
    in ORDER BY DESC). Regression for the asymmetry where only the
    Spark side was made NULL-safe."""
    import math

    import duckdb

    from oarphpy_spark.testing.parity import compare

    rng_rows = [
        (i, [math.sin(0.7 * i * (d + 1)) for d in range(8)]) for i in range(1, 40)
    ]
    rows = [(0, [0.0] * 8)] + rng_rows  # vec_id 0 is the zero vector
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    conn = duckdb.connect()
    conn.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
    )
    for name in ("q_sim_topk", "q_sim_lsh_topk", "q_sim_ivf_topk",
                 "q_sim_ivf_multiprobe", "q_sim_lsh_multiprobe"):
        spdf = registry.queries()[name](spark, sf_dir).toPandas()
        odf = conn.execute(registry.oracle_sql()[name]).df()
        problems = compare(spdf, odf)
        assert not problems, f"{name}: {problems}"
        # the zero vector must appear neither as query nor neighbor
        assert 0 not in set(spdf.get("query_id", [])), name
        assert 0 not in set(spdf.get("neighbor_id", [])), name
