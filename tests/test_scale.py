"""Scale-behavior tests: skew mitigation correctness, shuffle-free
bucketed joins (plan-asserted), and a 10M-row smoke proving the core
operators aren't sf0.1-bound."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from oarphpy_spark.operators.bucketing import bucketed_join, write_bucketed
from oarphpy_spark.operators.skew import salted_agg, salted_broadcast_join

# Whole module is slow-tier: 10M-row smokes duplicate the
# scripts/scale_smoke.py evidence. Run them with
# SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/ -q
pytestmark = pytest.mark.slow


def test_salted_agg_matches_plain(spark):
    # Skewed input: key 'hot' holds 90% of rows.
    df = spark.range(100_000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("k"), F.col("id") % 7))
        .alias("k"),
        (F.col("id") % 100).alias("v"),
    )
    got = {
        (r["k"]): (r["n"], r["s"])
        for r in salted_agg(
            df,
            ["k"],
            partials={"n": F.count("*"), "s": F.sum("v")},
            merges={"n": F.sum("n"), "s": F.sum("s")},
        ).collect()
    }
    want = {
        (r["k"]): (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_salted_broadcast_join_matches_plain(spark):
    probe = spark.range(50_000).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    build = spark.createDataFrame([(i, f"name{i}") for i in range(5)], "k long, name string")
    got = salted_broadcast_join(probe, build, "k").groupBy("name").count().collect()
    want = probe.join(build, "k").groupBy("name").count().collect()
    assert {(r["name"], r["count"]) for r in got} == {(r["name"], r["count"]) for r in want}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    left = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    right = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(left, "t_bkt_left", "k", num_buckets=4)
    write_bucketed(right, "t_bkt_right", "k", num_buckets=4)
    # Force the SMJ path (tiny test tables would otherwise broadcast,
    # which bypasses bucketing entirely).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_bkt_left", "t_bkt_right", "k")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("simple")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle either side
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize("n", [10_000_000])
def test_ten_million_row_smoke(spark, n):
    """Core operator shapes at 10M rows, in-memory generated: agg,
    window top-k, broadcast join, approx distinct. Bounded runtime on
    local[32]; verifies no driver-side collapse at 100x the sf0.1
    row count."""
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 1000).alias("k"),
        (F.rand(42) * 100).alias("v"),
    )
    # partial+final agg over 1000 groups
    aggd = df.groupBy("k").agg(F.count("*").alias("c"), F.round(F.sum("v"), 2).alias("s"))
    assert aggd.count() == 1000
    # broadcast join against a small dim
    dim = spark.range(1000).select(F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id") % 10).alias("grp"))
    joined = df.join(F.broadcast(dim), "k").groupBy("grp").count()
    assert joined.count() == 10
    # HLL distinct
    approx = df.agg(F.approx_count_distinct("k", 0.05).alias("d")).collect()[0]["d"]
    assert 900 <= approx <= 1100


def test_vector_search_scale_smoke(spark):
    """300k synthetic 16-dim vectors through the full vectorized IVF
    path (Arrow-batched assignment + cell join + top-k): proves the
    ANN operators aren't bound to the sf0.1 embeddings table size."""
    from oarphpy_spark.llm.similarity import ivf_topk

    corpus = spark.range(300_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.sin(F.col("id") * i.cast("double")),
        ).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < 3)
    out = ivf_topk(corpus, queries, k=5, n_cells=8, n_probe=2)
    rows = out.collect()
    # vec_id=0 is the all-zero vector: cosine undefined -> NULL-safe
    # scoring drops it instead of killing the job under ANSI mode
    assert {r["query_id"] for r in rows} == {1, 2}
    assert len(rows) == 10  # 2 real queries x k=5
    assert all(-1.0 <= r["cos"] <= 1.0 for r in rows)
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_connected_components_scale_smoke(spark):
    """200k nodes in 2,000 chain components of 100 nodes each — deep
    components are star-contraction's worst case; proves convergence
    within the iteration bound at 2,000x the oracle-scale pair count."""
    from oarphpy_spark.llm.graph import connected_components

    n, block = 200_000, 100
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        .filter((F.col("b") % block) != 0)
    )
    cc = connected_components(edges, "a", "b")
    sizes = cc.groupBy("component").count()
    bad = sizes.filter(
        (F.col("count") != block - 1) | (F.col("component") % block != 0)
    ).count()
    assert bad == 0
    assert sizes.count() == n // block
