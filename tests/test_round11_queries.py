"""Round-11 additions: incremental minhash dedup + group holdout split.

Parity vs DuckDB is covered by the registry gate; these tests pin the
SEMANTIC properties the oracles can't state directly."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"


def test_incremental_minhash_flags_planted_near_dup(spark):
    """A batch doc that shares most shingles with a corpus doc must be
    flagged with full band support; an unrelated doc must not match."""
    from oarphpy_spark.llm.dedup import incremental_minhash_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "completely different corpus content about spark shuffles"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one trailing word changed)
            (10, "the quick brown fox jumps over the lazy dog near the creek"),
            # unrelated
            (11, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            batch, corpus, "text", "doc_id"
        ).collect()
    }
    assert 10 in out, "near-dup batch doc not flagged"
    assert out[10]["n_corpus_candidates"] >= 1
    assert out[10]["best_shared_bands"] >= 1
    assert 11 not in out, "unrelated doc flagged as near-dup"


def test_incremental_minhash_identical_doc_all_bands(spark):
    """A verbatim copy must share ALL bands with its corpus twin."""
    from oarphpy_spark.llm.dedup import incremental_minhash_dedup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    batch = spark.createDataFrame([(10, text)], ["doc_id", "text"])
    row = incremental_minhash_dedup(batch, corpus, "text", "doc_id").collect()
    assert len(row) == 1
    assert row[0]["best_shared_bands"] == 4  # default bands=4


def test_group_holdout_split_no_source_leakage(spark):
    """Every source must land in exactly one split, and the split
    totals must account for every document."""
    from oarphpy_spark import registry

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = registry.queries()["q_group_holdout_split"](spark, SF).collect()
    splits = {r["split"]: r for r in out}
    assert set(splits) <= {"train", "val"}
    n_sources = docs.select("source").distinct().count()
    n_docs = docs.count()
    assert sum(r["n_sources"] for r in out) == n_sources
    assert sum(r["n_docs"] for r in out) == n_docs
    # leakage check from first principles: assignment is a pure
    # function of source, so distinct (source, split) pairs == sources
    from oarphpy_spark.functions.text import md5_str

    bucket = (
        F.conv(
            F.substring(
                md5_str(F.concat(F.lit("ghs|"), F.col("source"))), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % 10
    )
    split = F.when(bucket < 8, "train").otherwise("val")
    pairs = docs.select("source", split.alias("split")).distinct().count()
    assert pairs == n_sources


def test_link_prediction_antijoin_is_shuffled_hash(spark):
    """Regression gate for the r11 candidate-table rewrite: the
    non-edge anti-join must be a ShuffledHashJoin building on the
    |E|-row side — an SMJ would SORT the ~100x-|E| candidate table,
    and a broadcast would assume the edge set fits in memory (true at
    local scale, false on a real graph). Also pins that the per-pair
    degree joins are gone: degrees ride the wedge join, so the only
    joins downstream of the aggregation are the single anti-join.

    The gate executes the query FIRST and asserts on the FINAL
    adaptive plan (isFinalPlan=true), not the AQE initial plan — user
    join hints survive AQE re-planning, but this pins the actual
    runtime strategy, not just the plan-time intent."""
    from oarphpy_spark.queries.graph_queries import (
        _link_prediction_exact_plan,
        _link_prediction_sketch_plan,
        _LP_DEGREE_CAP,
    )

    for build, args in (
        (_link_prediction_exact_plan, (spark, SF, _LP_DEGREE_CAP)),
        (_link_prediction_sketch_plan, (spark, SF)),
    ):
        out, caches = build(*args)
        assert out.count() > 0  # materialize → AQE re-optimizes
        plan = out._jdf.queryExecution().executedPlan().toString()
        for c in caches:
            c.unpersist()
        if "AdaptiveSparkPlan" in plan:
            assert "isFinalPlan=true" in plan, plan.splitlines()[0]
        anti_lines = [
            ln for ln in plan.splitlines() if "LeftAnti" in ln
        ]
        assert anti_lines, f"no anti-join in plan:\n{plan}"
        # The non-edge anti-join keys on the packed uv bigint; the
        # sketch path additionally routes the adjacency through a
        # broadcast anti-join against the (2|E|/T)-bounded hub set
        # (keyed on s) — that one MUST be a broadcast (map-side, no
        # shuffle of the adjacency), while the uv anti-join MUST stay
        # a ShuffledHashJoin (broadcast would assume the edge set
        # fits in memory; SMJ would sort the candidate table).
        uv_anti = [ln for ln in anti_lines if "[uv" in ln]
        assert uv_anti, f"no uv anti-join in plan:\n{plan}"
        assert all("ShuffledHashJoin" in ln for ln in uv_anti), (
            f"non-edge anti-join strategy regressed:\n{plan}"
        )
        assert all(
            "BroadcastHashJoin" in ln
            for ln in anti_lines
            if ln not in uv_anti
        ), f"hub-routing anti-join should broadcast:\n{plan}"
        # degree joins eliminated: nothing joins the aggregated
        # candidate table except the anti-join itself
        assert "SortMergeJoin [u" not in plan
        assert "BroadcastHashJoin [u" not in plan


def test_two_stage_rerank_recall_vs_exact(spark):
    """The int8-coarse + exact-rerank pipeline must (a) score survivors
    with the SAME exact cosine as the brute-force baseline and (b) keep
    high recall: with 32 candidates for a top-5, the coarse tier's
    rounding error would have to reorder a true neighbor past rank 32
    to lose it."""
    from oarphpy_spark import registry

    qs = registry.queries()
    two = qs["q_sim_rerank_two_stage"](spark, SF).collect()
    exact = qs["q_sim_topk"](spark, SF).collect()
    two_pairs = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in two}
    exact_pairs = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in exact}
    assert len(two_pairs) == len(exact_pairs) == 25  # 5 queries x top-5
    hits = set(two_pairs) & set(exact_pairs)
    # same pair => identical exact-cosine score (stage 2 IS the
    # brute-force scoring expression)
    for p in hits:
        assert two_pairs[p] == exact_pairs[p]
    recall = len(hits) / len(exact_pairs)
    assert recall >= 0.9, f"coarse tier lost too many true neighbors: {recall}"
    # the coarse score is an exact integer (int8 x int8 sums)
    for r in two:
        assert isinstance(r["coarse_dot"], int)
