"""Round-12 regression tests: packed-key id-domain guard and the
two-stage rerank self-exclusion contract."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

SF = "/root/testdata/sf0.01"


def test_packed_key_guard_raises_out_of_domain(spark):
    """shiftleft(u,32)+v packing is injective only for ids in
    [0, 2^32); the guard must fail the job loudly instead of silently
    corrupting the packed key."""
    from oarphpy_spark.queries.graph_queries import _domain_checked_edges

    ok = spark.createDataFrame(
        [Row(s=0, d=2**32 - 1), Row(s=17, d=42)]
    )
    assert _domain_checked_edges(ok).count() == 2

    for bad_row in (Row(s=2**32, d=1), Row(s=-1, d=1), Row(s=1, d=2**32)):
        bad = spark.createDataFrame([bad_row])
        with pytest.raises(Exception, match=r"out of \[0, 2\^32\)"):
            _domain_checked_edges(bad).collect()


def test_link_prediction_guard_zero_cost_on_valid_ids(spark):
    """The guarded plans still produce the oracle-checked top-20 on
    valid data (the guard is a pass-through projection on the edge
    relation)."""
    from oarphpy_spark import registry

    df = registry.queries()["q_link_prediction"](
        spark, "/root/testdata/sf0.001"
    )
    assert df.count() == 20


def test_two_stage_rerank_self_exclude_flag(spark):
    """With independent query/corpus id spaces, an id collision is a
    legitimate neighbor: self_exclude=False must keep it, and the
    default (True) must drop it."""
    from oarphpy_spark.llm.similarity import two_stage_rerank_topk

    corpus = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        ]
    )
    # query id 0 collides with corpus id 0 but is a DIFFERENT vector
    queries = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.05, 0.0])]
    )
    kept = two_stage_rerank_topk(
        corpus, queries, k=3, candidates=3, self_exclude=False
    ).collect()
    dropped = two_stage_rerank_topk(
        corpus, queries, k=3, candidates=3
    ).collect()
    assert {r["neighbor_id"] for r in kept} == {0, 1, 2}
    assert {r["neighbor_id"] for r in dropped} == {1, 2}
    # the collision row scores like any corpus vector: exact cosine
    top = max(kept, key=lambda r: r["cos"])
    assert top["neighbor_id"] == 0


def test_order_stats_invariants(spark):
    """q_exact_percentiles / q_lorenz_deciles sanity beyond the oracle:
    percentiles are monotone and bracket the data; decile shares are
    monotone nondecreasing (Lorenz property) and sum to ~1 with 10
    equal-population groups (+/-1 for remainder)."""
    from oarphpy_spark import registry

    qs = registry.queries()
    p = qs["q_exact_percentiles"](spark, SF).first()
    assert p["p50_cents"] <= p["p90_cents"] <= p["p99_cents"]
    assert p["n_orders"] > 0

    rows = qs["q_lorenz_deciles"](spark, SF).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["rev_share"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert abs(sum(shares) - 1.0) < 1e-4
    counts = [r["n_customers"] for r in rows]
    assert max(counts) - min(counts) <= 1


def test_hybrid_rrf_topk_is_distributed(spark):
    """r12 regression gate: both retrieval lists must reach their
    top-50 via TakeOrderedAndProject (per-partition heaps), never an
    unpartitioned rank window over the entity-cardinality score
    relations — any remaining partitionless window may only consume a
    bounded (post-limit) input."""
    from oarphpy_spark import registry

    df = registry.queries()["q_hybrid_rrf"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two list top-50s + the final fused top-10
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    from .test_prefix import _input_subtree

    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            subtree = _input_subtree(lines, i)
            assert "TakeOrderedAndProject" in subtree or "HashAggregate" in subtree, (
                f"single-partition exchange over unbounded input:\n{plan}"
            )


def test_retrieval_ndcg_bounds_and_perfect_ranking(spark):
    """NDCG/MRR land in [0,1]; a self-evaluation of the EXACT arm
    against itself must score a perfect 1.0 on every query (dcg==idcg
    by construction, first hit at rank 1)."""
    from oarphpy_spark import registry
    from oarphpy_spark.llm.similarity import brute_force_topk
    from oarphpy_spark.tables import table

    rows = registry.queries()["q_retrieval_ndcg"](spark, SF).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0.0 <= r["ndcg_at_10"] <= 1.0
        assert 0.0 <= r["mrr"] <= 1.0
        # zero overlap forces both metrics to zero; any overlap puts
        # a positive mass in the DCG
        assert (r["n_overlap"] == 0) == (r["ndcg_at_10"] == 0.0)

    # perfect-ranking invariant: grade the EXACT arm against itself
    # through the SAME join/aggregate pipeline the query uses — a
    # perfect ranking must score ndcg_at_10 == 1.0 and mrr == 1.0 on
    # every query (dcg == idcg by construction, first hit at rank 1).
    import oarphpy_spark.queries.llm_queries as lq

    emb = table(spark, SF, "embeddings")
    ex = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)
    perfect = lq._graded_retrieval_metrics(ex, ex, k=10).collect()
    assert len(perfect) == 3
    for r in perfect:
        assert r["ndcg_at_10"] == 1.0, r
        assert r["mrr"] == 1.0, r
        assert r["n_overlap"] == 10, r


def test_shared_edge_cache_keyed_per_session_and_sf(spark):
    """_lp_shared_relations caches the materialized edge/degree pair
    per (applicationId, sf_dir): same key returns the SAME DataFrames
    (no re-derivation), release_shared_edges drops the entry (next
    call rebuilds), and _shared_edges rows equal a fresh derivation."""
    import oarphpy_spark.queries.graph_queries as gq

    gq.release_shared_edges(spark)
    pr1, und1, deg1 = gq._lp_shared_relations(spark, SF)
    pr2, _, deg2 = gq._lp_shared_relations(spark, SF)
    assert pr1 is pr2 and deg1 is deg2  # cache hit, not a rebuild

    fresh = {
        (r["s"], r["d"]) for r in gq._copurchase_edges(spark, SF).collect()
    }
    cached = {(r["s"], r["d"]) for r in gq._shared_edges(spark, SF).collect()}
    assert fresh == cached

    # degree table matches a direct recount over the cached edges
    got = {(r["node"], r["dg"]) for r in deg1.collect()}
    from collections import Counter

    want = Counter()
    for s, d in fresh:
        want[s] += 1
        want[d] += 1
    assert got == set(want.items())

    # release drops the entry; the next touch rebuilds (new object,
    # same rows) instead of reusing the unpersisted checkpoint
    assert gq.release_shared_edges(spark, SF) == 1
    pr3 = gq._shared_edges(spark, SF)
    assert pr3 is not pr1
    assert {(r["s"], r["d"]) for r in pr3.collect()} == fresh
    gq.release_shared_edges(spark)


def test_release_shared_edges_drops_checkpoint_blocks(spark):
    """The public release API must actually free executor storage:
    each shared relation is an eager localCheckpoint registered in the
    context's persistent-RDD map, so the map must grow by exactly one
    per relation built (edges on first family touch, degrees only on
    the first DEGREE consumer — the lazy split) and
    return to its starting size after release_shared_edges."""
    import oarphpy_spark.queries.graph_queries as gq

    jsc = spark.sparkContext._jsc

    def new_ids() -> set[int]:
        # Compared as id sets, not map sizes: Spark's ContextCleaner
        # may unpersist an earlier test's unreferenced checkpoint at
        # any JVM GC, mid-test.
        return {int(i) for i in jsc.getPersistentRDDs().keySet()} - ids0

    gq.release_shared_edges(spark)
    ids0 = {int(i) for i in jsc.getPersistentRDDs().keySet()}
    gq._shared_edges(spark, SF)  # edge-only touch: no degree build
    assert len(new_ids()) == 1
    gq._lp_shared_relations(spark, SF)  # degree consumer: +1 more
    assert len(new_ids()) == 2
    assert gq.release_shared_edges(spark, SF) == 1
    assert new_ids() == set()
