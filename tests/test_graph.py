"""connected_components vs a union-find reference on random graphs."""

from __future__ import annotations

import pytest

import random

from oarphpy_spark.llm.graph import connected_components


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize: label every node by the min id in its component
    comp_min: dict[int, int] = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n_nodes)}


def _run(spark, n_nodes, edges):
    df = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        df = df.filter("a != a")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "a", "b").collect()
    }
    want = _uf_components(n_nodes, edges)
    # the operator emits one (leaf -> center) row per non-center node
    # of each >=2-node component; isolated nodes and centers are absent
    # (callers restore them with left-join + coalesce)
    non_isolated = {x for a, b in edges if a != b for x in (a, b)}
    for v in non_isolated:
        if want[v] == v:
            assert v not in got
        else:
            assert got[v] == want[v], (v, got.get(v), want[v])
    assert set(got) == {v for v in non_isolated if want[v] != v}


def test_cc_empty(spark):
    assert connected_components(
        spark.createDataFrame([], "a long, b long"), "a", "b"
    ).count() == 0


def test_cc_single_edge(spark):
    _run(spark, 3, [(2, 1)])


def test_cc_chain_needs_multiple_rounds(spark):
    # a 64-node path graph: worst-case diameter for label propagation;
    # star-contraction must still converge within the iteration bound
    edges = [(i, i + 1) for i in range(63)]
    _run(spark, 64, edges)


def test_cc_self_loops_and_duplicates(spark):
    _run(spark, 5, [(1, 1), (1, 2), (2, 1), (1, 2), (3, 4)])


# Slow tier: randomized cross-check vs networkx-free references;
# known-graph cases above stay default.
@pytest.mark.slow
def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = 40 + trial * 20
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(int(n * 0.7))
        ]
        _run(spark, n, edges)


def _numpy_pagerank(n, edges, iterations=5, d=0.85):
    import numpy as np

    outdeg = np.zeros(n)
    for s, _t in edges:
        outdeg[s] += 1
    rank = np.ones(n)
    for _ in range(iterations):
        inflow = np.zeros(n)
        for s, t in edges:
            inflow[t] += rank[s] / outdeg[s]
        rank = (1 - d) + d * inflow
    return rank


def test_pagerank_matches_numpy_power_iteration(spark):
    from oarphpy_spark.llm.graph import pagerank

    rng = random.Random(11)
    n = 30
    edges = list(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(120)}
    )
    # every node needs outdegree in the un-normalized formulation;
    # close sinks with a self-loop (mirrors the symmetric-graph use)
    srcs = {s for s, _ in edges}
    edges += [(v, v) for v in range(n) if v not in srcs]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r.node: r.rank for r in pagerank(df, iterations=5).collect()
    }
    want = _numpy_pagerank(n, edges)
    seen_nodes = {s for e in edges for s in e}
    assert set(got) == seen_nodes
    for v in seen_nodes:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_pagerank_star_center_dominates(spark):
    from oarphpy_spark.llm.graph import pagerank

    # undirected star: center 0, leaves 1..9
    edges = [(0, i) for i in range(1, 10)] + [(i, 0) for i in range(1, 10)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ranks = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    assert ranks[0] > max(ranks[i] for i in range(1, 10)) * 3


def test_pagerank_iteration_plan_two_exchanges(spark):
    """The per-iteration plan must shuffle only the small ranks
    relation and the contribution re-key — never the persisted edge
    table or the persisted nodes table (llm/graph.py:_pagerank_step).
    Regression gate for the round-6 pre-partitioning rewrite."""
    from pyspark.sql import functions as F

    from oarphpy_spark.llm.graph import _pagerank_step

    e = spark.range(500).select(
        (F.col("id") % 53).alias("src"), (F.col("id") % 47 + 100).alias("dst")
    )
    e = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_w = (
        e.join(outdeg, "src")
        .select("src", "dst", "outdeg")
        .repartition("src")
        .persist()
    )
    # Materialize the caches so the plan below sees InMemoryRelations
    # with known partitioning (as inside pagerank()'s loop).
    nodes.count()
    edges_w.count()
    ranks = nodes.withColumn("rank", F.lit(1.0)).localCheckpoint(eager=True)
    step = _pagerank_step(nodes, edges_w, ranks, 0.85)
    plan = step._jdf.queryExecution().executedPlan().toString()
    n_exchanges = _count_live_exchanges(plan)
    nodes.unpersist()
    edges_w.unpersist()
    assert n_exchanges <= 2, f"iteration re-shuffles a loop input:\n{plan}"


def _count_live_exchanges(plan: str) -> int:
    """Shuffle exchanges that would actually RUN per iteration: skip
    subtrees under InMemoryRelation — those exchanges belong to the
    already-materialized cache build, not the loop body."""
    import re

    n = 0
    skip_depth = None
    for line in plan.splitlines():
        m = re.search(r"[A-Za-z]", line)
        if not m:
            continue
        depth = m.start()
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if "InMemoryRelation" in line:
            skip_depth = depth
            continue
        if "Exchange hashpartitioning" in line:
            n += 1
    return n


def test_triangle_count_known_graphs(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from oarphpy_spark.llm.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        row = triangle_count(df).collect()[0]
        return row.n_triangles, row.n_edges

    # K4: 4 triangles, 6 edges
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert tri(k4) == (4, 6)
    # triangle + pendant edge: 1 triangle
    assert tri([(1, 2), (2, 3), (3, 1), (3, 4)]) == (1, 4)
    # duplicate / reversed / self-loop edges canonicalize away
    assert tri([(1, 2), (2, 1), (2, 3), (3, 1), (1, 1)]) == (1, 3)
    # star has no triangles
    assert tri([(0, i) for i in range(1, 6)]) == (0, 5)


def test_triangle_count_empty_graph(spark):
    from oarphpy_spark.llm.graph import triangle_count

    df = spark.createDataFrame([], "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row.n_triangles, row.n_edges) == (0, 0)


def test_kcore_known_graphs(spark):
    from oarphpy_spark.llm.graph import kcore

    def run(edges, k):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            (r.node, r.core_deg) for r in kcore(df, k).collect()
        }

    # K4 plus a pendant chain: 3-core = the K4, pendant peels away
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = run(k4 + [(3, 4), (4, 5)], 3)
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}
    # cascading peel: a path has no 2-core
    assert run([(i, i + 1) for i in range(5)], 2) == set()
    # cycle IS its own 2-core
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    assert run(cyc, 2) == {(i, 2) for i in range(5)}
    # empty input
    empty = spark.createDataFrame([], "src long, dst long")
    from oarphpy_spark.llm.graph import kcore as _kc

    assert _kc(empty, 2).count() == 0


# A 5-cycle with a 3-edge pendant path, canonical (src < dst): at k=2
# the peel drops 12, then 11, then 10, and a fourth round finds no
# node below k. The 2-core is the cycle.
_CYCLE_WITH_TAIL = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 4)] + [
    (4, 10), (10, 11), (11, 12)
]


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _actions_in_group(spark, group: str) -> int:
    """Number of SQL executions (actions) that ran jobs in ``group``.
    Under AQE one action runs a Spark job per shuffle stage it
    materializes, so the action, not the job, is what a per-round
    budget counts."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    assert ids, group
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = 0
    for i in range(execs.size()):
        jobs = str(execs.apply(i).jobs().keys().mkString(","))
        if {int(j) for j in jobs.split(",") if j} & ids:
            n += 1
    return n


def test_kcore_one_action_per_peel_round(spark):
    """Each peel round is one action — the eager checkpoint of its
    degree table, with the "no node below k" count observed in that
    same job — and reading the result is one more."""
    import uuid

    from oarphpy_spark.llm.graph import kcore

    df = spark.createDataFrame(
        _CYCLE_WITH_TAIL, "src long, dst long"
    ).localCheckpoint()
    # the peel really takes 4 rounds
    with pytest.raises(RuntimeError, match="did not converge in 3"):
        kcore(df, 2, max_iter=3, input_canonical=True)
    sc = spark.sparkContext
    group = f"kcore_rounds_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "kcore rounds")
    try:
        got = {
            (r.node, r.core_deg)
            for r in kcore(df, 2, input_canonical=True).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {(i, 2) for i in range(5)}
    assert _actions_in_group(spark, group) <= 4 + 1


def test_kcore_releases_superseded_rounds(spark):
    """Only the result's checkpoint outlives ``kcore``: every
    superseded degree table, and the canonical copy made of a
    non-canonical input, are released — for a multi-round peel, a
    cascade to empty and an empty input alike."""
    from oarphpy_spark.llm.graph import kcore

    reversed_tail = [(b, a) for a, b in _CYCLE_WITH_TAIL]
    cases = [
        (reversed_tail, {(i, 2) for i in range(5)}),
        ([(i, i + 1) for i in range(5)], set()),  # path: cascade to empty
        ([], set()),
    ]
    for edges, want in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        before = _persistent_rdd_ids(spark)
        out = kcore(df, 2)
        assert _persistent_rdd_ids(spark) - before == {_checkpoint_rdd_id(out)}
        assert {(r.node, r.core_deg) for r in out.collect()} == want


def test_kcore_broadcast_and_shuffled_keep_sets_match_peeling(spark):
    """Both join strategies for the keep set (broadcast while it is
    small, shuffled beyond ``_BROADCAST_MAX_ROWS``) give the
    k-core a sequential peel computes."""
    import oarphpy_spark.llm.graph as g

    rng = random.Random(5)
    edges = {tuple(sorted(rng.sample(range(40), 2))) for _ in range(140)}
    k = 4
    alive = {v for e in edges for v in e}
    while True:
        deg = {v: 0 for v in alive}
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        low = {v for v, d in deg.items() if d < k}
        if not low:
            break
        alive -= low
    want = {(v, d) for v, d in deg.items()}
    assert want  # non-degenerate: a 4-core survives

    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    orig = g._BROADCAST_MAX_ROWS
    try:
        for bound in (orig, -1):
            g._BROADCAST_MAX_ROWS = bound
            got = {(r.node, r.core_deg) for r in g.kcore(df, k).collect()}
            assert got == want, bound
    finally:
        g._BROADCAST_MAX_ROWS = orig


def _jobs_and_actions(spark, fn):
    """``fn()``'s result, with the Spark jobs and the actions
    (``_actions_in_group``) it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_actions = _actions_in_group(spark, group)
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), n_actions


def _hinted_and_shuffled(spark, fn):
    """``_jobs_and_actions(fn)`` with the small-relation broadcast
    hints on, then with them off (every join planned unhinted)."""
    import oarphpy_spark.llm.graph as g

    orig = g._BROADCAST_MAX_ROWS
    try:
        hinted = _jobs_and_actions(spark, fn)
        g._BROADCAST_MAX_ROWS = -1
        shuffled = _jobs_and_actions(spark, fn)
    finally:
        g._BROADCAST_MAX_ROWS = orig
    return hinted, shuffled


def test_sssp_broadcasts_frontier_and_dist(spark):
    """Each relaxation round joins its frontier and distance
    checkpoints as broadcasts while they are small: the same
    distances in as many actions, with fewer Spark jobs than the
    shuffled joins AQE would convert only after their stage jobs."""
    from oarphpy_spark.llm.graph import sssp

    edges = [(i, i + 1, 1) for i in range(6)] + [(0, 6, 10)]
    df = spark.createDataFrame(edges, "s long, d long, w long")
    hinted, shuffled = _hinted_and_shuffled(
        spark,
        lambda: {r.node: r.dist for r in sssp(df, 0, "s", "d", "w", rounds=8).collect()},
    )
    assert hinted[0] == shuffled[0] == {i: i for i in range(7)}
    assert hinted[2] == shuffled[2]
    assert hinted[1] < shuffled[1], (hinted[1], shuffled[1])


def test_ktruss_broadcasts_deleted_edges(spark):
    """The incremental support update joins the round's deleted-edge
    checkpoint as a broadcast while it is small: the same truss in as
    many actions, with fewer Spark jobs than the shuffled joins."""
    from oarphpy_spark.llm.graph import ktruss

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    df = spark.createDataFrame(k5 + [(0, 10), (1, 10)], "src long, dst long")
    hinted, shuffled = _hinted_and_shuffled(
        spark, lambda: {(r.lo, r.hi, r.support) for r in ktruss(df, 4).collect()}
    )
    assert hinted[0] == shuffled[0] == {(a, b, 3) for a, b in k5}
    assert hinted[2] == shuffled[2]
    assert hinted[1] < shuffled[1], (hinted[1], shuffled[1])


def test_q_kcore_keeps_shared_edges_and_drops_superseded_rounds(spark):
    """q_kcore peels the session-shared edge relation (2 rounds at the
    small fixture): that relation stays readable, and the only block
    the query leaves behind is its own result's."""
    import oarphpy_spark.queries.graph_queries as gq
    from tests.conftest import SF_SMALL

    edges = gq._shared_edges(spark, SF_SMALL)
    n_edges = edges.count()
    before = _persistent_rdd_ids(spark)
    out = gq.q_kcore(spark, SF_SMALL)
    after = _persistent_rdd_ids(spark)
    assert after - before == {_checkpoint_rdd_id(out)}
    assert _checkpoint_rdd_id(edges) in after
    assert edges.count() == n_edges
    assert out.count() > 0


def test_ktruss_known_graphs(spark):
    from oarphpy_spark.llm.graph import ktruss

    def run(edges, k):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            (r.lo, r.hi, r.support) for r in ktruss(df, k).collect()
        }

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # K4 is a 4-truss: every edge in 2 triangles
    assert run(k4, 4) == {(a, b, 2) for a, b in k4}
    # a K4 with a pendant triangle: 4-truss peels the triangle
    # (its edges have support 1) AND the bridging edges
    extra = [(3, 4), (3, 5), (4, 5)]
    got = run(k4 + extra, 4)
    assert got == {(a, b, 2) for a, b in k4}
    # a lone triangle survives as a 3-truss (support 1 each)
    tri = [(0, 1), (1, 2), (0, 2)]
    assert run(tri, 3) == {(0, 1, 1), (1, 2, 1), (0, 2, 1)}
    # but is wiped by a 4-truss
    assert run(tri, 4) == set()


def test_input_canonical_validation_guard(spark, monkeypatch):
    """OARPHPY_SPARK_VALIDATE_CANONICAL=1 turns input_canonical misuse
    (reversed or duplicate edges) into a loud ValueError instead of
    silently wrong counts; canonical inputs pass."""
    from oarphpy_spark.llm.graph import triangle_count

    monkeypatch.setenv("OARPHPY_SPARK_VALIDATE_CANONICAL", "1")
    bad = spark.createDataFrame([(2, 1), (1, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="non-ordered"):
        triangle_count(bad, input_canonical=True).collect()
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        triangle_count(dup, input_canonical=True).collect()
    ok = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    row = triangle_count(ok, input_canonical=True).collect()[0]
    assert (row.n_triangles, row.n_edges) == (1, 3)


def test_ktruss_incremental_path_fires_and_matches(spark):
    """Exercise the r16 incremental support-decrement branch (it never
    fires at bench scale — the sf0.1 peel deletes 97.6% of edges in
    round 0): a K5 plus two pendant triangle edges peels exactly 2 of
    12 edges (17% <= the 25% incremental threshold) in round 0, so
    round 1 MUST take the decrement path, and its decremented supports
    decide convergence. Expected 4-truss: the K5 with support 3 per
    edge ((0,1) carried support 4 before the pendant triangle died)."""
    from oarphpy_spark.llm.graph import ktruss

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    pendant = [(0, 10), (1, 10)]  # triangle {0,1,10}: support 1 edges
    df = spark.createDataFrame(k5 + pendant, "src long, dst long")
    got = {(r.lo, r.hi, r.support) for r in ktruss(df, 4).collect()}
    assert got == {(a, b, 3) for a, b in k5}


def test_ktruss_wedge_and_intersect_support_agree(spark):
    """Both support operators (adjacency intersection vs wedge
    enumeration — selected by max input degree) must produce identical
    trusses on the same graph: force each path via the module
    threshold and compare on a random graph."""
    import oarphpy_spark.llm.graph as g

    rng = random.Random(7)
    edges = list(
        {
            (a, b)
            for _ in range(300)
            for a, b in [sorted(rng.sample(range(24), 2))]
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    orig = g._KTRUSS_INTERSECT_MAX_DEGREE
    try:
        g._KTRUSS_INTERSECT_MAX_DEGREE = 10**9  # force intersection
        via_intersect = {
            (r.lo, r.hi, r.support) for r in g.ktruss(df, 4).collect()
        }
        g._KTRUSS_INTERSECT_MAX_DEGREE = -1  # force wedge enumeration
        via_wedge = {
            (r.lo, r.hi, r.support) for r in g.ktruss(df, 4).collect()
        }
    finally:
        g._KTRUSS_INTERSECT_MAX_DEGREE = orig
    assert via_intersect == via_wedge
    assert via_intersect  # non-degenerate: some truss survives


def test_label_propagation_two_cliques(spark):
    """Two cliques joined by one bridge edge: after 3 rounds each
    clique converges to its minimum id; deterministic ties."""
    from oarphpy_spark.llm.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = c1 + c2 + [(3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, rounds=3).collect()}
    assert all(got[v] == 0 for v in range(4))
    assert all(got[v] == 10 for v in range(11, 14))


def test_label_propagation_and_pagerank_release_round_cuts(spark):
    """Only the result's checkpoint outlives ``label_propagation`` or
    ``pagerank``: each round's lazy cut, materialized by the final
    eager cut, is released after it."""
    from oarphpy_spark.llm.graph import label_propagation, pagerank

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(c1 + [(3, 10), (10, 11)], "src long, dst long")
    for op in (
        lambda: label_propagation(df, rounds=3),
        lambda: pagerank(df, iterations=5),
        lambda: pagerank(df, iterations=2, seed_indicator=lambda n: n == 0),
    ):
        before = _persistent_rdd_ids(spark)
        out = op()
        assert _persistent_rdd_ids(spark) - before == {_checkpoint_rdd_id(out)}
        assert out.count() == 6


def test_queries_over_operator_checkpoints_release_them(spark):
    """Each of these queries projects, aggregates or joins over an
    operator's checkpointed result; the result holds the checkpoint,
    so a call plus ``release_cached``/``release_shared`` leaves no
    persistent RDD behind (RDDs of earlier tests may be cleaned
    meanwhile)."""
    from oarphpy_spark import registry
    from oarphpy_spark.util.checkpoints import release_cached, release_shared
    from tests.conftest import SF_SMALL

    for name in (
        "q_scc_sizes", "q_pagerank", "q_ppr", "q_triangle_count_sampled",
        "q_graph_modularity", "q_ktruss", "q_dedup_clusters",
        "q_component_sizes", "q_sssp", "q_entity_resolution",
        "q_dbscan_grid",
    ):
        release_shared(spark)
        before = _persistent_rdd_ids(spark)
        df = registry.queries()[name](spark, SF_SMALL)
        assert df.count() > 0, name
        release_cached(df)
        release_shared(spark)
        assert _persistent_rdd_ids(spark) - before == set(), name


@pytest.mark.slow
def test_sssp_matches_dijkstra_brute_force(spark):
    """Bounded-round Bellman-Ford == brute-force shortest paths on a
    small weighted graph once rounds >= diameter; extra rounds are
    no-ops by monotonicity."""
    import heapq

    from oarphpy_spark.llm.graph import sssp

    edges = [
        (1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 2),
        (3, 4, 9), (4, 5, 3), (6, 7, 2),  # 6-7: unreachable from 1
    ]
    df = spark.createDataFrame(edges, "s long, d long, w long")

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
        adj.setdefault(d, []).append((s, w))
    dist = {1: 0}
    pq = [(0, 1)]
    while pq:
        c, u = heapq.heappop(pq)
        if c > dist.get(u, 1 << 60):
            continue
        for v, w in adj[u]:
            if c + w < dist.get(v, 1 << 60):
                dist[v] = c + w
                heapq.heappush(pq, (c + w, v))

    for rounds in (4, 6):
        got = {
            r.node: r.dist
            for r in sssp(df, 1, "s", "d", "w", rounds=rounds).collect()
        }
        assert got == dist, rounds


def test_sssp_bounded_rounds_semantics(spark):
    """With rounds < diameter the result is the min cost over paths
    of <= rounds edges — the exact contract the SQL oracle unrolls."""
    from oarphpy_spark.llm.graph import sssp

    # chain 1-2-3-4 with weight 1 each; shortcut 1-4 with weight 10
    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10)],
        "s long, d long, w long",
    )
    got = {r.node: r.dist for r in sssp(df, 1, rounds=1, src="s", dst="d").collect()}
    assert got == {1: 0, 2: 1, 4: 10}  # 3 unreached in one hop
    got3 = {r.node: r.dist for r in sssp(df, 1, rounds=3, src="s", dst="d").collect()}
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 3}


@pytest.mark.slow
def test_sssp_random_graphs_match_dijkstra(spark):
    """Frontier-only Bellman-Ford == Dijkstra on random weighted
    graphs (converged: rounds >= n)."""
    import heapq
    import random

    from oarphpy_spark.llm.graph import sssp

    rng = random.Random(99)
    for trial in range(3):
        n = 12
        edges = []
        for _ in range(30):
            a, b = rng.sample(range(n), 2)
            edges.append((a, b, rng.randint(1, 9)))
        df = spark.createDataFrame(edges, "s long, d long, w long")
        adj = {}
        for a, b, w in edges:
            adj.setdefault(a, []).append((b, w))
            adj.setdefault(b, []).append((a, w))
        src = min(a for a, _, _ in edges)
        want = {src: 0}
        pq = [(0, src)]
        while pq:
            c, u = heapq.heappop(pq)
            if c > want.get(u, 1 << 60):
                continue
            for v, w in adj.get(u, []):
                if c + w < want.get(v, 1 << 60):
                    want[v] = c + w
                    heapq.heappush(pq, (c + w, v))
        got = {
            r.node: r.dist
            for r in sssp(df, src, "s", "d", "w", rounds=n).collect()
        }
        assert got == want, trial


def test_scc_known_answer(spark):
    """Two cycles bridged by a DAG path + a pendant source."""
    from oarphpy_spark.llm.graph import strongly_connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (5, 6), (6, 5), (3, 4), (4, 5), (7, 1)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["scc_id"])
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {
        (1, 3), (2, 3), (3, 3), (4, 4), (5, 6), (6, 6), (7, 7)
    }


def _tarjan_sccs(n_nodes: int, edges: list[tuple[int, int]]) -> set[frozenset]:
    """Textbook iterative Tarjan for the oracle side of the property
    test (driver-side, tiny graphs only)."""
    adj: dict[int, list[int]] = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        nodes.update((a, b))
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[frozenset] = []
    counter = [0]

    def strongconnect(v0: int) -> None:
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            succs = adj.get(v, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = set()
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.add(w)
                    if w == v:
                        break
                sccs.append(frozenset(comp))
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    return set(sccs)


@pytest.mark.slow
def test_scc_random_graphs_match_tarjan(spark):
    """Distributed trim+coloring SCC == Tarjan on random digraphs."""
    from oarphpy_spark.llm.graph import strongly_connected_components

    rng = random.Random(1234)
    for _trial in range(3):
        n = 14
        edges = set()
        while len(edges) < 28:
            a, b = rng.sample(range(n), 2)
            edges.add((a, b))
        edges = sorted(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = strongly_connected_components(df, max_outer=40).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["scc_id"], set()).add(r["node"])
        want = _tarjan_sccs(n, edges)
        assert {frozenset(v) for v in got.values()} == want
        # the representative is the max id of its SCC
        for scc_id, members in got.items():
            assert scc_id == max(members)


def test_scc_long_dag_chain_trims_in_one_round(spark):
    """A 30-node directed chain (all singleton SCCs) must resolve
    within the trim fixpoint of a single outer round — max_outer=2
    would fail if trimming only peeled one level per round."""
    from oarphpy_spark.llm.graph import strongly_connected_components

    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = strongly_connected_components(df, max_outer=2).collect()
    assert {(r["node"], r["scc_id"]) for r in rows} == {
        (i, i) for i in range(31)
    }


def test_scc_string_node_ids(spark):
    """String node ids work exactly as in connected_components: the
    state relation's schema derives from the INPUT id type, and the
    one color rule (``max`` over ids, convergence counted as
    ``color != prev``) serves every id type, strings included."""
    from oarphpy_spark.llm.graph import strongly_connected_components

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "a"),  # cycle {a,b,c}
            ("e", "f"), ("f", "e"),              # cycle {e,f}
            ("c", "d"), ("d", "e"),              # DAG bridge via d
            ("g", "a"),                          # pendant source
        ],
        "src string, dst string",
    )
    got = {
        (r["node"], r["scc_id"])
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {
        ("a", "c"), ("b", "c"), ("c", "c"),
        ("d", "d"),
        ("e", "f"), ("f", "f"),
        ("g", "g"),
    }


def test_sssp_string_ids_and_double_weights(spark):
    """The sssp seed derives (id, dist) types from the input columns:
    string node ids + double weights must work, and dist must come
    back as the weight's type (double), not a hardcoded long."""
    from oarphpy_spark.llm.graph import sssp

    df = spark.createDataFrame(
        [("a", "b", 1.5), ("b", "c", 2.25), ("a", "c", 10.0)],
        "s string, d string, w double",
    )
    got = {
        r.node: r.dist
        for r in sssp(df, "a", "s", "d", "w", rounds=3).collect()
    }
    assert got == {"a": 0.0, "b": 1.5, "c": 3.75}


def test_triangle_count_caches_shared_subtrees(spark):
    """Regression gate for the round-9 persist fix: the canonical edge
    set feeds four plan branches and the oriented edges feed both wedge
    sides — without caching, the final plan re-derives the edge subtree
    per branch (the static sf1.0 plan held 48 scans of the fact table).
    Post-cache, every LEAF of the optimized logical plan must be an
    InMemoryRelation (cache scan) — a Range/LogicalRDD leaf means a
    branch re-derives the base relation — and release_cached must
    unpersist both caches."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from oarphpy_spark.llm.dedup import release_cached
    from oarphpy_spark.llm.graph import triangle_count

    e = spark.range(3000).select(
        (F.col("id") % 83).alias("src"), (F.col("id") % 79 + 7).alias("dst")
    )
    out = triangle_count(e)
    out.collect()  # materialize => caches are built

    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert names and all(n == "InMemoryRelation" for n in names), (
        f"post-cache plan still re-derives the edge subtree: {names}"
    )
    # und feeds >=2 live branches (edge count + degree/orientation
    # chain); oriented feeds both wedge sides.
    assert len(names) >= 3, names

    # und + deg + oriented: deg joined the persisted set in r15 (it
    # feeds BOTH orientation joins; unpersisted, each branch re-ran
    # the 2|E|-row degree aggregation).
    cached = out._oarphpy_persisted
    assert isinstance(cached, list) and len(cached) == 3
    assert all(df.storageLevel != StorageLevel.NONE for df in cached)
    release_cached(out)
    assert all(df.storageLevel == StorageLevel.NONE for df in cached)


# Two cycles bridged by a DAG path + a pendant source (the known-answer
# graph above), and a 30-edge directed chain.
_SCC_KNOWN = [(1, 2), (2, 3), (3, 1), (5, 6), (6, 5), (3, 4), (4, 5), (7, 1)]
_SCC_CHAIN = [(i, i + 1) for i in range(30)]


def test_scc_one_action_per_step(spark):
    """Every trim pass, color step, peel step and state update is one
    action — its eager cut, with the convergence count observed in
    that job — and reading the result is one more: at most 12 actions
    on the known-answer graph, 20 on the 30-node chain (which trims
    from both ends, so in 16 passes)."""
    from oarphpy_spark.llm.graph import strongly_connected_components

    for edges, budget in ((_SCC_KNOWN, 12), (_SCC_CHAIN, 20)):
        df = spark.createDataFrame(edges, "src long, dst long")
        rows, _, n_actions = _jobs_and_actions(
            spark, lambda: strongly_connected_components(df).collect()
        )
        assert len(rows) == len({v for e in edges for v in e})
        assert n_actions <= budget, (len(edges), n_actions)


def test_scc_releases_superseded_steps(spark):
    """Only the result's checkpoint outlives
    ``strongly_connected_components``: every superseded state, color
    and marked checkpoint and the distinct edge copy are released —
    for a graph that colors and peels, a chain that only trims,
    string ids and an empty input alike."""
    from oarphpy_spark.llm.graph import strongly_connected_components

    cases = [
        (_SCC_KNOWN, "long"),
        (_SCC_CHAIN, "long"),
        ([("a", "b"), ("b", "a"), ("b", "c")], "string"),
        ([], "long"),
    ]
    for edges, id_type in cases:
        df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
        before = _persistent_rdd_ids(spark)
        out = strongly_connected_components(df)
        assert _persistent_rdd_ids(spark) - before == {_checkpoint_rdd_id(out)}
        assert out.count() == len({v for e in edges for v in e})
