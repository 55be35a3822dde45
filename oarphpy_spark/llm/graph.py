"""Distributed connected components for dedup clustering.

MinHash/SimHash candidate generation emits near-dup *pairs*; curation
needs *clusters* ("keep one representative per group of mutual
near-dups"), and pairs only become clusters through transitive closure
— a graph connectivity problem.

``connected_components`` implements the alternating large-star /
small-star algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC 2014): every round is two shuffle-bounded
DataFrame passes (a groupBy-min and an equi-join, both keyed on node
id), and the edge set converges to one star per component centered at
the component's minimum node id in O(log^2 n) rounds — 2-3 rounds for
the shallow clusters near-dup graphs produce.  This is the shape that
survives 100 TB: no adjacency lists in driver memory, no per-node
message loops, just a handful of hash-partitioned self-joins over an
edge table that *shrinks* as stars collapse.

In the convergence-checked loops (connected components, k-core,
k-truss, SSSP, and each step of strongly connected components) a
round is one Spark action: the eager lineage cut of the round's
result (``util/checkpoints.truncate_lineage``, so round
k's plan does not replay rounds 1..k-1), with the convergence test —
a row count, a content checksum — counted inside that same job
through ``operators/counters.observed`` rather than by a second
action over the checkpoint. On small graphs a round costs what its
Spark jobs cost, not what its rows cost, so the action count is the
round's price. Every iterative operator here cuts through
``truncate_lineage``:
a RELIABLE ``checkpoint()`` whenever ``sc.setCheckpointDir`` is
configured — the production mode, where a lost executor cannot orphan
the truncated blocks — and the fast ``localCheckpoint`` otherwise.

The reference has no graph operator; this extends its dedup surface
(reference `oarphpy/spark.py` has only row-level utilities) the way
its `union_dfs`/`df_histogram` extend relational basics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oarphpy_spark.operators.counters import observed
from oarphpy_spark.util.checkpoints import (
    hold_caches,
    release_checkpoint,
    truncate_lineage,
)


def _check_canonical(e: DataFrame, who: str) -> DataFrame:
    """Debug-tier guard for ``input_canonical=True``: the
    contract (src < dst on every row, distinct) is normally enforced
    only by the call-site comments — a caller passing a non-canonical
    relation gets silently WRONG triangle/k-core/k-truss counts
    (duplicate or reversed edges inflate wedge closure). Setting
    ``OARPHPY_SPARK_VALIDATE_CANONICAL=1`` turns misuse into a loud
    ValueError at the cost of one extra pass over the edges — debug /
    test tier only, never in the measured path."""
    import os

    if os.environ.get("OARPHPY_SPARK_VALIDATE_CANONICAL") != "1":
        return e
    row = e.select(
        F.sum((F.col("lo") >= F.col("hi")).cast("long")).alias("bad"),
        F.count("*").alias("n"),
    ).collect()[0]
    n_distinct = e.distinct().count()
    if (row["bad"] or 0) > 0 or n_distinct != row["n"]:
        raise ValueError(
            f"{who}(input_canonical=True) requires src < dst on every "
            f"row and no duplicates; got {row['bad'] or 0} non-ordered "
            f"row(s) and {row['n'] - n_distinct} duplicate(s)"
        )
    return e


_SRC, _DST = "__cc_src", "__cc_dst"


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u})."""
    sym = edges.union(
        edges.select(F.col(_DST).alias(_SRC), F.col(_SRC).alias(_DST))
    )
    mins = sym.groupBy(_SRC).agg(
        F.least(F.min(_DST), F.col(_SRC)).alias("__m")
    )
    return (
        sym.join(mins, _SRC)
        .filter(F.col(_DST) > F.col(_SRC))
        .select(F.col(_DST).alias(_SRC), F.col("__m").alias(_DST))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids, then connect every
    smaller-or-equal neighbor of u (and u itself) to the minimum."""
    oriented = edges.select(
        F.greatest(_SRC, _DST).alias(_SRC), F.least(_SRC, _DST).alias(_DST)
    ).filter(F.col(_SRC) != F.col(_DST))
    mins = oriented.groupBy(_SRC).agg(F.min(_DST).alias("__m"))
    relink = (
        oriented.join(mins, _SRC)
        .select(F.col(_DST).alias(_SRC), F.col("__m").alias(_DST))
    )
    center = mins.select(F.col(_SRC), F.col("__m").alias(_DST))
    return (
        relink.union(center)
        .filter(F.col(_SRC) != F.col(_DST))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 12,
) -> DataFrame:
    """Transitive closure of an undirected edge list.

    Returns ``(node, component)`` — one row per non-isolated,
    NON-REPRESENTATIVE node, where ``component`` is the minimum node
    id in its connected component (the canonical cluster
    representative). The representative itself is NOT in the output
    (its row would be the self-loop ``(min, min)``), and neither are
    isolated nodes; callers restore both with a left-join +
    ``coalesce(component, node)``, which keeps this operator pure
    edge-in / star-out. ``tests/test_graph.py`` pins this contract.

    ``max_iter`` is a safety bound; the algorithm provably converges
    and near-dup graphs settle in 2-4 rounds. Raises if the bound is
    hit without convergence (silently-partial clusters would corrupt
    a dedup pass).

    The result is a projection of the final round's checkpoint, which
    it holds (``util/checkpoints.hold_caches``):
    ``release_cached(result)`` frees it.
    """
    e = (
        edges.select(F.col(src).alias(_SRC), F.col(dst).alias(_DST))
        .filter(F.col(_SRC) != F.col(_DST))
        .distinct()
    )
    e = truncate_lineage(e)
    prev = None
    for _ in range(max_iter):
        # (edge count, order-independent content checksum), counted
        # inside the round's checkpoint job. Equal rounds => the star
        # set is a fixpoint.
        e_next, obs = observed(
            _small_star(_large_star(e)),
            "connected_components",
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64(_SRC, _DST).cast("decimal(38,0)")), F.lit(0)
            ).alias("chk"),
        )
        e_next = truncate_lineage(e_next)
        row = obs.get
        state = (row["n"], row["chk"])
        release_checkpoint(e)
        e = e_next
        if state == prev:
            break
        prev = state
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    stars = e.select(F.col(_SRC).alias("node"), F.col(_DST).alias("component"))
    return hold_caches(stars, e)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    seed_indicator=None,
) -> DataFrame:
    """Fixed-iteration PageRank as repeated join+aggregate — the
    Pregel message-passing shape expressed declaratively.

    Per iteration: contribution = rank(src)/outdeg(src) flows along
    each edge; rank'(node) = (1-d) + d * sum(incoming contributions)
    (the un-normalized 'every node holds at least 1-d' formulation, so
    dangling mass needs no global redistribution step and the result
    is oracle-checkable by unrolling the same recurrence in SQL).

    Scale shape: the outdeg join is LOOP-INVARIANT, so it is folded
    into the edge table ONCE before the loop — removing one join per
    iteration — and the weighted edge table is hash-repartitioned on
    ``src`` and persisted, so the BIG side of the per-iteration join
    never re-exchanges: only the small ranks relation (one row per
    node) shuffles to meet it. ``nodes`` is likewise persisted
    hash-partitioned on ``node``, and the contribution groupBy keyed
    on dst(=node) emits that same partitioning, so the rank-update
    left join needs no extra exchange. Lineage is truncated every
    iteration (without it, iteration k replans and recomputes 1..k-1,
    which is quadratic) through ``util/checkpoints.truncate_lineage``,
    reliable iff a checkpoint dir is configured. The final result is
    checkpointed eagerly so the persisted loop inputs and the
    superseded round cuts can be released deterministically before
    returning. Nodes with no inbound edges
    settle at 1-d; nodes absent from ``edges`` do not appear.

    ``seed_indicator`` turns this into PERSONALIZED PageRank
    (random walk with restart): a callable mapping the node column to
    a 0/1 Column; restart mass (1-d) flows only to seed nodes and the
    initial rank is the seed indicator — non-seed nodes score by
    proximity to the seed set (the similarity/recommendation walk of
    Jeh & Widom 2003). Plan shape is unchanged: the seed indicator is
    a column EXPRESSION on the persisted nodes table, not a join.

    Output: (node, rank) — rank unrounded; round at the call site.
    """
    out_edges = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        out_edges.select(F.col("src").alias("node"))
        .unionByName(out_edges.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .persist()
    )
    outdeg = out_edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # rank/outdeg (not a precomputed 1/outdeg weight) keeps the edge
    # arithmetic bit-identical to the unrolled-SQL oracle recurrence.
    edges_w = (
        out_edges.join(outdeg, "src")
        .select("src", "dst", "outdeg")
        .repartition("src")
        .persist()
    )
    if seed_indicator is None:
        base = F.lit(1.0 - damping)
        r0 = F.lit(1.0)
    else:
        seed = seed_indicator(F.col("node")).cast("double")
        base = F.lit(1.0 - damping) * seed
        r0 = seed
    ranks = nodes.withColumn("rank", r0)
    cuts = []
    for _ in range(iterations):
        ranks = truncate_lineage(
            _pagerank_step(nodes, edges_w, ranks, damping, base),
            eager=False,
        )
        cuts.append(ranks)
    ranks = truncate_lineage(ranks, eager=True)
    for df in cuts:
        release_checkpoint(df)
    nodes.unpersist()
    edges_w.unpersist()
    return ranks


def _pagerank_step(
    nodes: DataFrame,
    edges_w: DataFrame,
    ranks: DataFrame,
    damping: float,
    base=None,
) -> DataFrame:
    """One PageRank round. With ``edges_w`` persisted partitioned on
    src and ``nodes`` persisted partitioned on node, the plan carries
    exactly two exchanges: ranks→src to meet the edges, and the
    contribution re-key dst→node for the aggregate (the update join
    then reuses the aggregate's partitioning) — pinned by a plan test
    so a regression can't silently re-shuffle the big edge side every
    iteration."""
    contribs = (
        edges_w.join(ranks, edges_w.src == ranks.node)
        .select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("outdeg")).alias("contrib"),
        )
        .groupBy("node")
        .agg(F.sum("contrib").alias("inflow"))
    )
    if base is None:
        base = F.lit(1.0 - damping)
    return nodes.join(contribs, "node", "left").select(
        "node",
        (
            base + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
        ).alias("rank"),
    )


def sssp(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 4,
) -> DataFrame:
    """Bounded-hop single-source shortest paths: distributed
    Bellman-Ford over an undirected weighted edge list, a FIXED number
    of relaxation rounds (so the result — min path cost using at most
    ``rounds`` edges — is exactly restatable as an unrolled SQL
    recurrence; full convergence is just rounds >= graph diameter,
    and relaxations past the fixpoint are no-ops by monotonicity).

    FRONTIER-ONLY relaxation (the delta-stepping insight): only
    nodes whose distance IMPROVED last round relax their edges this
    round — a node with an unchanged distance already propagated its
    contributions, so re-relaxing it is provably a no-op. Per-round
    result is bit-identical to textbook Bellman-Ford (what the SQL
    oracle unrolls), but the expensive frontier x edges join shrinks
    with the frontier instead of staying at |reached| x |edges| —
    on a converging graph later rounds approach free, and the loop
    exits early once the frontier empties (sound: further rounds are
    no-ops; the frontier's size is counted inside its checkpoint
    job). The symmetrized edge table is built ONCE,
    hash-repartitioned on its join key and persisted; the small
    frontier and distance relations are broadcast to the round's joins
    while they hold at most ``_BROADCAST_MAX_ROWS`` rows, and lineage
    is truncated per round (``util/checkpoints.truncate_lineage``);
    the round cuts are released after the final eager cut, so only the
    result's checkpoint outlives the call.

    ``source`` is a literal node id. Returns (node, dist) for nodes
    reachable within ``rounds`` hops; dist is LONG when weights are
    integral (exact — no float accumulation along paths). Duplicate
    input edges are tolerated without a dedup pass (MIN-relaxation is
    idempotent), and the seed frontier is a literal single row — the
    loop never scans the node universe.
    """
    # No dedup pass: duplicate edges cannot change a MIN-relaxation,
    # so the symmetric union ships straight into the partitioned cache
    # (one less full shuffle than a distinct would cost). The input
    # projection is persisted FIRST so the two arms of the symmetric
    # union evaluate the (possibly expensive) upstream edge plan once,
    # not twice.
    base = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight)
    ).persist()
    sym = (
        base.unionByName(
            base.select(
                F.col("d").alias("s"), F.col("s").alias("d"), F.col(weight)
            )
        )
        .repartition("s")
        .persist()
    )
    # Seed is ONE literal row — no node-universe scan to filter it out
    # of (the frontier only ever holds reached nodes anyway). The
    # seed's types derive from the INPUT columns (id type from src,
    # dist type from the weight), so string/other non-integral node
    # ids work exactly as they do in connected_components.
    id_type = base.schema["s"].dataType
    w_type = base.schema[weight].dataType
    dist = (
        edges.sparkSession.range(1)
        .select(
            F.lit(source).cast(id_type).alias("node"),
            F.lit(0).cast(w_type).alias("dist"),
        )
    )
    frontier = dist
    # Row counts of the frontier and (an upper bound of) dist, so the
    # round's joins broadcast them while they are small.
    n_frontier = n_dist = 1
    cuts = []
    for _ in range(rounds):
        frontier = _broadcast_if_small(frontier, n_frontier)
        relaxed = (
            sym.join(frontier, sym.s == frontier.node)
            .select(
                F.col("d").alias("node"),
                (F.col("dist") + F.col(weight)).alias("nd"),
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved, obs = observed(
            relaxed.join(_broadcast_if_small(dist, n_dist), "node", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist")),
            "sssp",
        )
        improved = truncate_lineage(improved, eager=True)
        cuts.append(improved)
        n_frontier = obs.get["n_rows"]
        if n_frontier == 0:
            break  # fixpoint: every further round is a no-op
        n_dist += n_frontier
        dist = truncate_lineage(
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            eager=False,
        )
        cuts.append(dist)
        frontier = improved
    dist = truncate_lineage(dist, eager=True)
    for df in cuts:
        release_checkpoint(df)
    sym.unpersist()
    base.unpersist()
    return dist


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    input_canonical: bool = False,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Distributed triangle counting via degree-ordered orientation
    (the MapReduce-classic of Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011).

    Every triangle is counted exactly once at its apex — the vertex
    that precedes both others in the (degree, node-id) total order:

    1. canonicalize to undirected edges (lo, hi), distinct;
    2. orient each edge from the (deg, id)-smaller endpoint to the
       larger — a hub of degree d contributes wedges only through its
       LOWER-ranked neighbors, so per-vertex wedge work is bounded by
       O(m^1.5) total instead of d^2 at the hub (the "last reducer"
       fix — a power-law hub never explodes);
    3. wedges = self-join of the oriented edges on the apex;
    4. close each wedge against the canonical undirected edge set
       with one equi-join on (least, greatest).

    Three shuffles total (degree agg, wedge self-join, closure join);
    no adjacency list ever materializes on one task.

    The canonical edge set and the oriented edges are PERSISTED: und
    feeds four plan branches (degree agg, orientation, closure join,
    edge count) and oriented feeds both wedge sides — without the
    cache the upstream edge derivation re-executes per branch (the
    static plan held 48 scans of the underlying fact table; exchange
    reuse doesn't collapse them because each branch re-derives with
    fresh expression ids). Measured at sf1.0: 12.7 s -> 10.1 s
    best-of-2. The caches ride on the result (``hold_caches``) —
    release with ``util/checkpoints.release_cached`` after
    materializing.
    This is NOT optional hygiene: SQL-persisted plans are held by the
    session's CacheManager until an explicit ``unpersist()``, so
    driver GC of the DataFrame does NOT reclaim them (ContextCleaner
    only collects RDD-level caches, not SQL cache entries).

    Returns a 1-row DataFrame: (n_triangles, n_edges).

    ``input_canonical=True`` asserts the input is ALREADY canonical
    (src < dst on every row, distinct, materialized — e.g. the
    session-shared checkpointed edge relation): the canonicalize +
    distinct shuffle and its persist are skipped, since re-deduping a
    checkpoint only re-shuffles rows that cannot change.
    ``degrees`` optionally supplies a precomputed (node, deg) degree
    table over the SAME canonical edge set, so a caller that needs
    degrees anyway (q_graph_profile) doesn't pay the aggregation
    twice; when absent it is computed here and persisted (it feeds
    BOTH orientation joins — unpersisted, each join branch re-runs
    the 2|E|-row union+aggregate).
    """
    if input_canonical:
        und = _check_canonical(
            edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi")),
            "triangle_count",
        )
        persisted: list[DataFrame] = []
    else:
        und = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("lo"),
                F.greatest(F.col(src), F.col(dst)).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
            .persist()
        )
        persisted = [und]
    if degrees is None:
        deg = (
            und.select(F.col("lo").alias("node"))
            .unionByName(und.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
            .persist()
        )
        persisted.append(deg)
    else:
        deg = degrees.select("node", "deg")
    ranked = (
        und.join(deg.withColumnRenamed("node", "lo"), "lo")
        .withColumnRenamed("deg", "deg_lo")
        .join(
            deg.withColumnRenamed("node", "hi").withColumnRenamed(
                "deg", "deg_hi"
            ),
            "hi",
        )
    )
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    # NOTE: repartition+sorting the oriented relation on the apex
    # before persisting does NOT let the wedge self-join arms read the
    # cache without an Exchange/Sort. AQE wraps cached plans
    # (AdaptiveSparkPlan under InMemoryRelation) and hides their output
    # partitioning, so both consumer-side Exchange+Sort stay (Sort +
    # Exchange above InMemoryTableScan in the physical plan — the same
    # negative result the link-prediction experiment found). That edit
    # only ADDED a build-side shuffle, so it was reverted.
    oriented = ranked.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("a"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("b"),
    ).persist()
    persisted.append(oriented)
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    # SHUFFLE_HASH on the |E|-row edge side: a sort-merge closure join
    # would SORT the wedge relation — orders of magnitude larger than
    # the edge set — where a shuffled-hash join only streams it.
    closed = wedges.join(
        und.hint("SHUFFLE_HASH"),
        (F.least("x", "y") == F.col("lo"))
        & (F.greatest("x", "y") == F.col("hi")),
    )
    out = closed.agg(
        F.count("*").alias("n_triangles")
    ).crossJoin(und.agg(F.count("*").alias("n_edges")))
    return hold_caches(out, *persisted)


# Row count up to which a round's small checkpointed relation (the
# kcore keep set, the sssp frontier and distances, the ktruss deleted
# edges, the scc node-side relations) is hinted as a broadcast. Spark
# cannot size a checkpointed table, so unhinted it shuffles that side
# before AQE turns the join into a broadcast: extra jobs in every
# round of a job-latency-bound loop. 2^20 rows of one or two longs
# are 8-16 MB, far below the presets' 64 MB broadcast bound.
_BROADCAST_MAX_ROWS = 1 << 20


def _broadcast_if_small(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= _BROADCAST_MAX_ROWS else df


# One kcore round as one statement: the degree table of the original
# edges ``{e}`` semi-joined on both endpoints to the keep set of the
# last round's degree table ``{deg}``; the first round has no keep set.
_KCORE_FIRST_ROUND_SQL = """
SELECT node, COUNT(*) AS core_deg
FROM (SELECT explode(array(lo, hi)) AS node FROM {e})
GROUP BY node
"""
_KCORE_ROUND_SQL = """
WITH keep AS (SELECT node FROM {{deg}} WHERE core_deg >= {{k}})
SELECT node, COUNT(*) AS core_deg
FROM (
  SELECT {hint} explode(array(e.lo, e.hi)) AS node
  FROM {{e}} e
  LEFT SEMI JOIN keep ka ON e.lo = ka.node
  LEFT SEMI JOIN keep kb ON e.hi = kb.node
)
GROUP BY node
"""


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 12,
    *,
    input_canonical: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Batagelj-Zaversnik
    made distributed): repeatedly drop nodes of degree < k and the
    edges touching them until a fixpoint — the maximal subgraph where
    every node keeps >= k neighbors (dense-community extraction,
    spam/bot-ring mining, graph sparsification preprocessing).

    Each round is ONE Spark action: the eager checkpoint of the
    round's degree table ``deg_i = degrees(e0 ⋉ K_{i-1})``, where
    ``K_{i-1}`` holds the nodes with ``core_deg >= k`` in
    ``deg_{i-1}`` (``K_{-1}`` = every node). The keep sets are nested
    — a node of ``deg_i`` lies on an edge whose endpoints are both in
    ``K_{i-1}``, so ``K_i`` is a subset of ``K_{i-1}`` — hence two
    semi-joins of the ORIGINAL edge set ``e0`` against ``K_{i-1}``
    give exactly the peeled edge set of round i, and no per-round
    edge table is written. The trade-off:
    every round re-scans ``e0`` through the semi-joins instead of
    reading a shrinking edge checkpoint; on a job-latency-bound peel
    one fewer eager job per round is worth far more than the smaller
    scan. The convergence test — no node below k — is counted inside
    the checkpoint job itself (``operators/counters.observed``), so it
    costs no action of its own, and the superseded degree table is
    released as soon as the next one is built. The same job counts
    the keep set, which is broadcast to the next round's semi-joins
    while it holds at most ``_BROADCAST_MAX_ROWS`` nodes
    and shuffled beyond that. A round's plan is one ``spark.sql``
    statement (one parse, one analysis). Raises if ``max_iter``
    rounds don't reach the fixpoint — callers (and the unrolled SQL
    oracle, whose round count must be >= the real one; extra unrolled
    rounds are no-ops at the fixpoint because peeling is monotone)
    rely on convergence being VERIFIED, not assumed.

    Returns (node, core_deg): surviving nodes with their in-core
    degree (>= k by construction); empty when no k-core exists. The
    result is the final round's checkpointed degree table, so reading
    it does no further aggregation.

    ``input_canonical=True`` asserts the input is already canonical
    (src < dst, distinct, materialized) and skips the canonicalize +
    distinct shuffle — see ``triangle_count``. That input belongs to
    the caller and is never released here; the canonical copy made
    when ``input_canonical=False`` is released before returning.
    """
    if input_canonical:
        e0 = _check_canonical(
            edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi")),
            "kcore",
        )
    else:
        e0 = truncate_lineage(
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("lo"),
                F.greatest(F.col(src), F.col(dst)).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
    spark = e0.sparkSession
    deg, n_keep = None, 0
    for _ in range(max_iter):
        if deg is None:
            round_df = spark.sql(_KCORE_FIRST_ROUND_SQL, e=e0)
        else:
            hint = (
                "/*+ BROADCAST(ka, kb) */"
                if n_keep <= _BROADCAST_MAX_ROWS
                else ""
            )
            round_df = spark.sql(
                _KCORE_ROUND_SQL.format(hint=hint), e=e0, deg=deg, k=k
            )
        deg_next, obs = observed(
            round_df,
            "kcore",
            F.count("*").alias("n"),
            F.count(F.when(F.col("core_deg") < k, 1)).alias("below"),
        )
        deg_next = truncate_lineage(deg_next)
        if deg is not None:
            release_checkpoint(deg)
        deg = deg_next
        counts = obs.get
        if counts["below"] == 0:
            break
        n_keep = counts["n"] - counts["below"]
    else:
        raise RuntimeError(f"kcore did not converge in {max_iter} rounds")
    if not input_canonical:
        release_checkpoint(e0)
    return deg


# Max degree up to which ktruss computes per-edge support via
# adjacency-array intersection (one array per row: 64Ki ints = 512 KB);
# above it the O(1)-per-task wedge enumeration takes over. Module-level
# so tests can force either path on the same graph.
_KTRUSS_INTERSECT_MAX_DEGREE = 65536


def _ktruss_wedge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support by full wedge enumeration (one
    wedge self-join + one closure join + a 3-role re-key);
    domain = edges in >=1 triangle. Never materializes an
    adjacency list, so per-task memory is O(1) in the max degree —
    the unbounded-skew fallback."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.lo") == F.col("e2.lo"))
            & (F.col("e1.hi") < F.col("e2.hi")),
        )
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.hi"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.col("e1.lo").alias("a"),
            F.col("e1.hi").alias("b"),
            F.col("e2.hi").alias("c"),
        )
    )
    roles = (
        tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
        .unionByName(
            tri.select(F.col("a").alias("lo"), F.col("c").alias("hi"))
        )
        .unionByName(
            tri.select(F.col("b").alias("lo"), F.col("c").alias("hi"))
        )
    )
    return roles.groupBy("lo", "hi").agg(F.count("*").alias("support"))

def _ktruss_intersect_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support as |N(lo) ∩ N(hi)| over adjacency
    arrays (the set-intersection family of Latapy, TCS 2008 —
    'compact-forward'): support(lo,hi) counts the common neighbors
    of the edge's endpoints, which is exactly the number of
    triangles through the edge. One adjacency aggregation + two
    equi-joins; the intersection runs as the JVM array_intersect
    intrinsic at ~ns per element, where the wedge self-join paid a
    full codegen join-row production per wedge (~µs) — measured
    r16 at sf0.1: the round-0 support stage dropped from 265-395 s
    task time to single-digit seconds on identical 49M-element
    comparison volume. Domain = ALL current edges (support 0 rows
    included; the caller's `support > 0` filter normalizes the
    difference vs the enumeration form). Requires bounded degree:
    one row holds one adjacency array."""
    sym = e.select(
        F.col("lo").alias("n"), F.col("hi").alias("w")
    ).unionByName(
        e.select(F.col("hi").alias("n"), F.col("lo").alias("w"))
    )
    adj = sym.groupBy("n").agg(F.collect_list("w").alias("nb"))
    return (
        e.join(
            adj.select(F.col("n").alias("lo"), F.col("nb").alias("nlo")),
            "lo",
        )
        .join(
            adj.select(F.col("n").alias("hi"), F.col("nb").alias("nhi")),
            "hi",
        )
        .select(
            "lo",
            "hi",
            F.size(F.array_intersect("nlo", "nhi"))
            .cast("long")
            .alias("support"),
        )
    )



def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    *,
    input_canonical: bool = False,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008): the maximal subgraph where
    every EDGE participates in >= k-2 triangles — a stricter cohesion
    mining primitive than k-core (every edge is embedded in triangles,
    not just every node in edges). Iterative support peeling: count
    per-edge triangle support, drop edges below k-2, repeat until the
    fixpoint; convergence is verified per round with an edge count
    taken inside the round's checkpoint job, and the operator raises
    past ``max_iter`` (so an unrolled SQL oracle with >= the real
    round count is sound — peeling is monotone, extra rounds are
    no-ops).

    Per round the support table is recomputed one of three ways,
    chosen adaptively (r16):

    * **adjacency intersection** (bounded-degree graphs, the measured
      default): support(lo,hi) = |N(lo) ∩ N(hi)| via one adjacency
      aggregation + two equi-joins + the JVM ``array_intersect``
      intrinsic — the same comparison volume as wedge enumeration at
      ~1000x less per-element cost (sf0.1: the round-0 support stage
      fell from 265-395 s task time to single digits; q_ktruss wall
      12.7 -> ~5 s). Gated on max input degree
      (``_KTRUSS_INTERSECT_MAX_DEGREE``) because one row carries one
      adjacency array;
    * **wedge enumeration** (unbounded skew): one wedge self-join on
      the canonical lower endpoint + one closure equi-join enumerates
      each triangle once (a < b < c), a union re-keys each triangle to
      its three edges, one aggregate yields supports — O(1) per-task
      memory in the max degree;
    * **incremental decrement** (sparse-deletion rounds, <= 25% of
      edges deleted): every destroyed triangle contains a deleted
      edge, so the update enumerates only triangles touching the
      deletions (work proportional to the deleted edges' degrees) and
      subtracts them from the survivors' supports — guide §2.4. The
      deleted edges are broadcast to both of its joins while they hold
      at most ``_BROADCAST_MAX_ROWS`` rows. At sf0.1/k=12 this never
      fires (the peel deletes 97.6% then 66.6%); it exists for the
      many-small-rounds regime of real peels.

    The per-round support table is CHECKPOINTED (it is |E|-bounded):
    the post-convergence support join then re-reads it instead of
    replaying the final round's full enumeration, which the r14 form
    paid twice; superseded rounds' checkpoint blocks are released
    two rounds behind. (An enumerate-once variant that
    materializes the triangle list and semi-join-filters it per round
    was measured SLOWER at sf0.1 — 13.2 s first rep vs 12.5 s — and
    its per-round localCheckpoints accumulated storage blocks until
    reps degraded 13 → 37 s; reverted, r15. A (k-1)-core prefilter
    was also measured useless here — the sf0.1 co-purchase graph IS
    its own 11-core.)

    ``input_canonical=True`` asserts the input is already canonical
    (src < dst, distinct, materialized) and skips the canonicalize +
    distinct shuffle — see ``triangle_count``.

    Returns surviving canonical edges with support:
    (lo, hi, support), support >= k-2 — a join of the final round's
    edge and support checkpoints, which the result holds
    (``util/checkpoints.hold_caches``): ``release_cached(result)``
    frees them.
    """
    if input_canonical:
        e = _check_canonical(
            edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi")),
            "ktruss",
        )
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("lo"),
                F.greatest(F.col(src), F.col(dst)).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        e = truncate_lineage(e)

    # Scale-adaptive support-operator selection (one cheap degree
    # aggregation on the INPUT graph — an upper bound for every peel
    # round, since edges only shrink): adjacency-intersection support
    # needs one adjacency array per row, so it is gated on the max
    # degree (512 KB of ints per row at the 65536 threshold); past the
    # threshold the O(1)-per-task wedge enumeration takes over. The
    # same action yields the input edge count: each canonical edge
    # adds 1 to two degrees.
    max_deg, sum_deg = (
        e.select(F.col("lo").alias("n"))
        .unionByName(e.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("dg"))
        .agg(F.max("dg"), F.sum("dg"))
        .collect()[0]
    )
    max_deg = max_deg or 0
    n_prev = (sum_deg or 0) // 2
    full_support = (
        _ktruss_intersect_support
        if max_deg <= _KTRUSS_INTERSECT_MAX_DEGREE
        else _ktruss_wedge_support
    )

    def decremented_support(
        keeps: DataFrame, deleted: DataFrame, e_old: DataFrame
    ) -> DataFrame:
        """Incremental support maintenance (r16, guide §2.4): recompute
        only around deletions. Every triangle destroyed this round
        contains >=1 deleted edge, so enumerate the DISTINCT triangles
        of ``e_old`` touching ``deleted`` (adjacency walk from each
        deleted edge's lo endpoint + one closure semi-join — work
        proportional to the deleted edges' degrees, not to |E|), then
        subtract one from each surviving edge per destroyed triangle.
        A triangle with 2-3 deleted edges is deduped on its sorted
        vertex triple, so survivors are decremented exactly once."""
        sym = e_old.select(
            F.col("lo").alias("p"), F.col("hi").alias("w")
        ).unionByName(
            e_old.select(F.col("hi").alias("p"), F.col("lo").alias("w"))
        )
        cand = (
            deleted.select("lo", "hi")
            .join(sym, F.col("lo") == F.col("p"))
            .filter(F.col("w") != F.col("hi"))
            .select("lo", "hi", "w")
        )
        closed = cand.join(
            e_old.select(
                F.col("lo").alias("clo"), F.col("hi").alias("chi")
            ).hint("SHUFFLE_HASH"),
            (F.least("hi", "w") == F.col("clo"))
            & (F.greatest("hi", "w") == F.col("chi")),
            "left_semi",
        )
        tri = closed.select(
            F.array_sort(F.array("lo", "hi", "w")).alias("t")
        ).distinct()
        tri = tri.select(
            F.col("t")[0].alias("a"),
            F.col("t")[1].alias("b"),
            F.col("t")[2].alias("c"),
        )
        edges3 = (
            tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
            .unionByName(
                tri.select(F.col("a").alias("lo"), F.col("c").alias("hi"))
            )
            .unionByName(
                tri.select(F.col("b").alias("lo"), F.col("c").alias("hi"))
            )
        )
        dec = (
            edges3.join(deleted.select("lo", "hi"), ["lo", "hi"], "left_anti")
            .groupBy("lo", "hi")
            .agg(F.count("*").alias("__dec"))
        )
        return keeps.join(dec, ["lo", "hi"], "left").select(
            "lo",
            "hi",
            (
                F.col("support") - F.coalesce(F.col("__dec"), F.lit(0))
            ).alias("support"),
        )

    sup = None
    # pending = (keeps, deleted, e_old): inputs for the next round's
    # incremental update; None forces a full enumeration.
    pending = None
    prev_ckpts: list[DataFrame] = []  # created last round
    old_ckpts: list[DataFrame] = []  # created two rounds back
    for _ in range(max_iter):
        if pending is None:
            sup = truncate_lineage(full_support(e))
        else:
            sup = truncate_lineage(decremented_support(*pending))
        # keeps' domain is exactly the surviving edge set: a full
        # enumeration omits triangle-less edges (support 0 < k-2 for
        # k >= 3; the support > 0 clause keeps k = 2 consistent with
        # the enumeration's inner-join semantics), and the incremental
        # path carries every current edge with its updated support.
        keeps = sup.filter(
            (F.col("support") >= k - 2) & (F.col("support") > 0)
        )
        e_next, obs = observed(keeps.select("lo", "hi"), "ktruss")
        e_next = truncate_lineage(e_next)
        n = obs.get["n_rows"]
        n_deleted = n_prev - n
        made = [sup, e_next]
        if n_deleted == 0:
            # Converged. Release every superseded per-round checkpoint:
            # only the final sup/e pair stays alive for the return join.
            for df in old_ckpts + prev_ckpts:
                release_checkpoint(df)
            e = e_next
            break
        # Incremental maintenance pays work proportional to the
        # deleted edges' adjacency; past ~25% deletions a fresh
        # enumeration over the (now smaller) survivor set is cheaper.
        # NOTE: `e` still names the PRE-deletion edge set here — the
        # adjacency/closure side of the update must see the old graph
        # (a destroyed triangle's other edges may themselves be
        # deleted this round).
        if n > 0 and n_deleted <= 0.25 * n_prev:
            deleted = truncate_lineage(
                e.join(e_next, ["lo", "hi"], "left_anti")
            )
            made.append(deleted)
            pending = (keeps, _broadcast_if_small(deleted, n_deleted), e)
        else:
            pending = None
        # Checkpoints from two rounds back are unreferenced once this
        # round's sup/e_next are materialized (eager truncation above);
        # free their blocks instead of waiting on GC + ContextCleaner
        # (the reverted enumerate-once experiment measured
        # reps degrading 13 -> 37 s from exactly this accumulation).
        for df in old_ckpts:
            release_checkpoint(df)
        old_ckpts = prev_ckpts
        prev_ckpts = made
        e = e_next
        n_prev = n
    else:
        raise RuntimeError(f"ktruss did not converge in {max_iter} rounds")
    if n_prev == 0:
        return hold_caches(e.withColumn("support", F.lit(0).cast("long")), e, sup)
    return hold_caches(e.join(sup, ["lo", "hi"]), e, sup)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made DETERMINISTIC: every node starts labeled with
    its own id; each round it adopts the most frequent label among
    its neighbors, ties broken by the SMALLEST label; a FIXED round
    count (no convergence race — synchronous LPA can oscillate, and a
    fixed unroll is what an SQL oracle can restate exactly).

    Per round: one equi-join edges x labels on the neighbor end, one
    (node, label) count aggregate, one per-node argmax via max_by
    keyed on (count desc, label asc) — all partial-aggregable,
    hash-partitioned on node id, lineage truncated per round. The
    symmetric edge table is built once, repartitioned on src and
    persisted, so the per-round join never re-exchanges the big side
    (the pagerank loop's discipline). As there, the final labels are
    cut eagerly and the round cuts released: only the result's
    checkpoint outlives the call.

    Returns (node, label); isolated nodes keep their own id only if
    they appear in ``edges`` (self-loops count as neighbors).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .repartition("a")
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    cuts = []
    for _ in range(rounds):
        labels = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("n"), "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy(F.col("n").alias("node"))
            .agg(
                F.min_by(
                    "label", F.struct(-F.col("cnt"), F.col("label"))
                ).alias("label")
            )
        )
        labels = truncate_lineage(labels, eager=False)
        cuts.append(labels)
    labels = truncate_lineage(labels, eager=True)
    for df in cuts:
        release_checkpoint(df)
    sym.unpersist()
    return labels


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 16,
    max_inner: int = 64,
) -> DataFrame:
    """SCCs of a DIRECTED edge list via trim + Orzan coloring — the
    label-propagation SCC of Pregel-style systems (Orzan 2004;
    Salihoglu & Widom, VLDB 2014 §6.3) — over one relation,
    ``state(node, scc_id)``, with ``scc_id`` NULL while a node is
    open. Returns ``(node, scc_id)`` for every non-isolated node,
    ``scc_id`` = MAX node id in the SCC, typed like the input ids.

    Every step is one Spark action: the eager lineage cut of its
    relation, with its convergence test a count observed in that same
    job (``operators/counters.observed``). Per outer round:

    1. TRIM — open nodes with no open in-edge or no open out-edge are
       singleton SCCs (``scc_id = node``). Repeated until a pass trims
       nothing, so a DAG tail peels from both ends within one round.
    2. COLOR — forward max-id propagation over the open nodes. A step
       aggregates ``(node, color = max, prev = max of the old color)``
       and the fixpoint is no ``color != prev``, for any id type.
    3. PEEL — a color root (``color == node``) reaches its class
       forward; its SCC is the part that reaches it back: ``marked ∪
       msgs`` DISTINCT along same-color edges until the marked row
       count stops growing.
    4. ASSIGN — marked nodes take their root's id; the open count
       observed there ends the loop at 0.

    Node-side relations are broadcast while they hold at most
    ``_BROADCAST_MAX_ROWS`` rows. Each superseded ``state``/``color``/
    ``marked`` checkpoint is released once its successor is
    materialized, and the edge copy at the end: only the result's
    checkpoint outlives the call. Worst case (adversarial id order on
    a path) is O(V) outer rounds, bounded by ``max_outer`` (each inner
    loop by ``max_inner``) with a convergence raise, as in
    ``connected_components``.
    """
    def cut(df, cols, old, name, **counts):
        """``df``'s ``cols`` cut eagerly, each of ``counts`` (name ->
        predicate over ``df``) counted in that job; ``old``, the
        checkpoint it supersedes, is released after."""
        df, obs = observed(
            df,
            f"scc_{name}",
            *(F.count(F.when(p, 1)).alias(k) for k, p in counts.items()),
        )
        df = truncate_lineage(df.select(*cols))
        if old is not None:
            release_checkpoint(old)
        return df, obs.get

    def proj(df, **cols):
        """``df`` as ``cols``: name -> a column of ``df`` or a literal."""
        return df.select(
            *(
                (F.col(v) if isinstance(v, str) else F.lit(v)).alias(k)
                for k, v in cols.items()
            )
        )

    e0, m = cut(
        proj(edges, s=src, d=dst).filter(F.col("s") != F.col("d")).distinct(),
        ("s", "d"), None, "edges", n=F.lit(True),
    )
    is_open = F.col("scc_id").isNull()
    # One seed row per edge end, so 2|E| bounds the open node count.
    state, n_open = None, 2 * m["n"]
    seed = (
        proj(e0, node="s")
        .unionByName(proj(e0, node="d"))
        .withColumn("scc_id", F.lit(None).cast(e0.schema["s"].dataType))
    )
    for _outer in range(max_outer):
        for _ in range(max_inner):
            cur = seed if state is None else state
            open_ = _broadcast_if_small(cur.filter(is_open), n_open)
            ae = e0.join(proj(open_, s="node"), "s", "left_semi").join(
                proj(open_, d="node"), "d", "left_semi"
            )
            # i / o: the node has an open in-edge / out-edge.
            state, m = cut(
                proj(cur, node="node", scc_id="scc_id", i=0, o=0)
                .unionByName(proj(ae, node="d", scc_id=None, i=1, o=0))
                .unionByName(proj(ae, node="s", scc_id=None, i=0, o=1))
                .groupBy("node")
                .agg(
                    F.max("scc_id").alias("was"),
                    (F.max("i") * F.max("o")).alias("io"),
                )
                .withColumn(
                    "scc_id",
                    F.coalesce("was", F.when(F.col("io") == 0, F.col("node"))),
                ),
                ("node", "scc_id"), state, "trim",
                open=is_open, trimmed=F.col("was").isNull() & ~is_open,
            )
            n_open = m["open"]
            if n_open == 0:
                release_checkpoint(e0)
                return state
            if m["trimmed"] == 0:
                break
        else:
            raise RuntimeError(
                f"scc trim did not reach a fixpoint in {max_inner} passes"
            )

        color = proj(state.filter(is_open), node="node", color="node")
        for step in range(max_inner):
            # prev is NULL only at closed nodes, which msgs also reach.
            to_s = proj(color, s="node", color="color")
            msgs = e0.join(_broadcast_if_small(to_s, n_open), "s")
            color, m = cut(
                proj(color, node="node", color="color", prev="color")
                .unionByName(proj(msgs, node="d", color="color", prev=None))
                .groupBy("node")
                .agg(
                    F.max("color").alias("color"), F.max("prev").alias("prev")
                )
                .filter(F.col("prev").isNotNull()),
                ("node", "color"), color if step else None, "color",
                changed=F.col("color") != F.col("prev"),
                roots=F.col("color") == F.col("node"),
            )
            if m["changed"] == 0:
                break
        else:
            raise RuntimeError(
                f"scc coloring did not converge in {max_inner} steps"
            )

        # A marked node's scc_id is its color, so an edge into it stays
        # in one color class iff its source's color equals that id.
        same_color = _broadcast_if_small(
            proj(color, s="node", scc_id="color"), n_open
        )
        marked = proj(
            color.filter(F.col("color") == F.col("node")),
            node="node", scc_id="color",
        )
        n_marked = m["roots"]
        for step in range(max_inner):
            to_d = proj(marked, d="node", scc_id="scc_id")
            msgs = e0.join(_broadcast_if_small(to_d, n_marked), "d").join(
                same_color, ["s", "scc_id"]
            )
            marked, m = cut(
                marked.unionByName(proj(msgs, node="s", scc_id="scc_id"))
                .distinct(),
                ("node", "scc_id"), marked if step else None, "peel",
                n=F.lit(True),
            )
            if m["n"] == n_marked:
                break
            n_marked = m["n"]
        else:
            raise RuntimeError(
                f"scc backward peel did not converge in {max_inner} steps"
            )

        state, m = cut(
            state.unionByName(marked)
            .groupBy("node")
            .agg(F.max("scc_id").alias("scc_id")),
            ("node", "scc_id"), state, "assign", open=is_open,
        )
        release_checkpoint(color)
        release_checkpoint(marked)
        n_open = m["open"]
        if n_open == 0:
            release_checkpoint(e0)
            return state
    raise RuntimeError(
        f"strongly_connected_components did not finish in "
        f"{max_outer} outer rounds"
    )
