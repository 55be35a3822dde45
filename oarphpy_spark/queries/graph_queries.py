"""Relational graph analytics over the co-purchase graph.

Triangle counting and k-hop reachability are the two canonical
"graph query as relational plan" workloads (GraphFrames implements
both the same way — joins over an edge DataFrame); they complement
the iterative operators in ``llm/graph.py`` (connected components,
PageRank) with bounded-depth plans Catalyst can optimize end-to-end.

The graph under test is the part co-purchase graph: parts that
appear in the same order are connected. Per-order fanout is bounded
by order size (a handful of lines in any TPC-H-shaped feed), so the
pair expansion is map-side bounded — never quadratic in a key's
global frequency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.registry import query
from oarphpy_spark.tables import bound_sql, table
from oarphpy_spark.util.checkpoints import (
    hold_caches,
    release_shared,
    session_shared,
    truncate_lineage,
)

_COPURCHASE_EDGES_SQL = """
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


_UV_DOMAIN = 2 ** 32


def _domain_checked_sql(col: str) -> str:
    """Packed-key id-domain guard, as a SQL expression over column
    ``col``: both link-prediction paths pack (u, v) as
    shiftleft(u, 32) + v, which is injective only for ids in
    [0, 2^32). Fail the job loudly at the |E|-row edge relation
    (two integer compares per edge, BEFORE the quadratic wedge
    expansion) if an id leaves the domain — a silent violation would
    corrupt the group key, the anti-join, and the unpacked u/v output
    rather than erroring."""
    return (
        f"CASE WHEN {col} >= 0 AND {col} < {_UV_DOMAIN} THEN {col} "
        f"ELSE raise_error(concat('packed-key id out of [0, 2^32): ', "
        f"CAST({col} AS STRING))) END"
    )


def _domain_checked_edges(pr: DataFrame) -> DataFrame:
    return pr.selectExpr(
        f"{_domain_checked_sql('s')} AS s", f"{_domain_checked_sql('d')} AS d"
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge relation (s, d) as one statement: the
    DISTINCT self-join ``_COPURCHASE_EDGES_SQL`` over the lineitem
    table bound as an argument (the CTE named ``lineitem`` shadows any
    catalog table), with the packed-key domain check on both ids (it
    only raises, never filters)."""
    return bound_sql(
        spark,
        sf_dir,
        f"""
        WITH lineitem AS (SELECT l_orderkey, l_partkey FROM {{lineitem}})
        SELECT {_domain_checked_sql("s")} AS s, {_domain_checked_sql("d")} AS d
        FROM ({_COPURCHASE_EDGES_SQL}) e
        """,
    )


release_shared_edges = release_shared


def _shared_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge relation, materialized once per (session,
    sf_dir) and shared by every graph query over it — triangles,
    k-core, k-truss, degree stats, assortativity, both link-prediction
    paths — instead of each re-deriving the DISTINCT lineitem
    self-join, the biggest subtree in each of those plans."""
    return session_shared(
        spark,
        sf_dir,
        "copurchase_edges",
        lambda: truncate_lineage(_copurchase_edges(spark, sf_dir)),
    )


def _lp_shared_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Edge set ``pr``, undirected adjacency ``und`` and degree table
    ``deg`` shared by both link-prediction paths. The |V|-row degree
    table is materialized on the first degree consumer only, so
    edge-only queries never pay its 2|E|-row aggregation. ``und`` is a
    narrow, shuffle-free projection of ``pr`` and needs no storage of
    its own."""
    pr = _shared_edges(spark, sf_dir)
    und = pr.unionAll(
        pr.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    deg = session_shared(
        spark,
        sf_dir,
        "copurchase_deg",
        lambda: truncate_lineage(
            und.groupBy(F.col("s").alias("node")).agg(
                F.count("*").alias("dg")
            )
        ),
    )
    return pr, und, deg


@query(
    "q_triangle_count",
    oracle=f"""
    WITH pr AS ({_COPURCHASE_EDGES_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_edges
    FROM pr e1
    JOIN pr e2 ON e1.d = e2.s
    JOIN pr e3 ON e3.s = e1.s AND e3.d = e2.d
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph via degree-ordered
    orientation (llm/graph.py:triangle_count — Suri & Vassilvitskii's
    'last reducer' fix): each triangle is counted once at its
    (deg, id)-minimal apex, so a power-law hub of degree d generates
    wedges only through its lower-ranked neighbors instead of d^2.
    Three shuffles; the closure check is one equi-join on the
    canonical (least, greatest) edge key. The oracle restates the
    count as the textbook 3-way self-join on s<m<d ordered edges —
    fine at oracle scale, the hub-quadratic shape the engine plan
    exists to avoid."""
    from oarphpy_spark.llm.graph import triangle_count

    # input_canonical: the shared edge relation is s < d, distinct and
    # checkpointed by construction — re-canonicalizing it costs a full
    # |E| shuffle + a redundant persist (r15 plan audit).
    return triangle_count(
        _shared_edges(spark, sf_dir), "s", "d", input_canonical=True
    )


@query(
    "q_nhop_reach",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), peer AS (
      SELECT DISTINCT a.s AS s, b.s AS s2
      FROM e a JOIN e b ON a.p = b.p AND a.s <> b.s
    )
    SELECT e.s AS supp,
           CAST(COUNT(DISTINCT e.p) AS BIGINT) AS n_parts_1hop,
           CAST(COALESCE(pc.n_peers, 0) AS BIGINT) AS n_peers_2hop
    FROM e
    LEFT JOIN (
      SELECT s, COUNT(*) AS n_peers FROM peer GROUP BY s
    ) pc ON e.s = pc.s
    GROUP BY e.s, pc.n_peers
    """,
)
def q_nhop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachability rollup on the supplier-part bipartite graph:
    per supplier, distinct parts shipped (1 hop) and distinct peer
    suppliers sharing a part (2 hops). The peer expansion goes through
    DISTINCT (s, s2) pairs BEFORE the per-supplier count — partial
    aggregation dedups pairs map-side, so a popular part contributes
    each peer pair once, not once per co-shipment; the pair universe
    is bounded by |suppliers|^2 regardless of fact-row count. The
    k-hop generalization is k-1 further self-joins with the same
    pair-dedup between rounds."""
    e = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = e.alias("a")
    b = e.alias("b")
    peers = (
        a.join(b, "p")
        .filter(F.col("a.s") != F.col("b.s"))
        .select(F.col("a.s").alias("s"), F.col("b.s").alias("s2"))
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("n_peers"))
    )
    one_hop = e.groupBy("s").agg(
        F.count_distinct("p").alias("n_parts_1hop")
    )
    return (
        one_hop.join(peers, "s", "left")
        .select(
            F.col("s").alias("supp"),
            "n_parts_1hop",
            F.coalesce("n_peers", F.lit(0)).alias("n_peers_2hop"),
        )
    )


@query(
    "q_triangle_count_sampled",
    oracle=f"""
    WITH pr AS ({_COPURCHASE_EDGES_SQL}),
    sam AS (
      SELECT s, d FROM pr
      WHERE CAST(('0x' || substring(
              md5('tri|' || CAST(s AS VARCHAR) || '|' || CAST(d AS VARCHAR)),
              1, 4)) AS INTEGER) % 10 < 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_triangles,
           ROUND(COUNT(*) * 1000.0 / 27.0, 2) AS est_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sam) AS n_sampled_edges
    FROM sam e1
    JOIN sam e2 ON e1.d = e2.s
    JOIN sam e3 ON e3.s = e1.s AND e3.d = e2.d
    """,
)
def q_triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sparsified triangle count (Tsourakakis et al., KDD
    2009) — the scale path when the exact count's wedge volume is too
    heavy: keep each edge with probability p (here 3/10), count
    triangles on the sparsified graph, scale by 1/p^3. Work drops by
    ~p^1.5 on the edges and ~p^3 on the wedges; the estimator is
    unbiased with relative error shrinking as counts grow. The coin
    flip is a salted md5 of the canonical edge key — deterministic, so
    BOTH engines sparsify identically and the estimate itself sits
    under the exact oracle gate (the same self-certifying stance as
    q_approx_count_distinct). Exact companion: q_triangle_count."""
    from oarphpy_spark.functions.text import md5_str
    from oarphpy_spark.llm.graph import triangle_count

    und = _shared_edges(spark, sf_dir)
    coin = (
        F.conv(
            F.substring(
                md5_str(
                    F.concat(
                        F.lit("tri|"),
                        F.col("s").cast("string"),
                        F.lit("|"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 10
    )
    # A deterministic filter over the canonical checkpointed edge
    # relation is still (s < d, distinct); input_canonical skips the
    # re-canonicalize shuffle + persist (the md5 coin is recomputed
    # per consumer — map-only over |E| rows, cheaper than a shuffle).
    sam = und.filter(coin < 3)
    tri = triangle_count(sam, "s", "d", input_canonical=True)
    est = tri.select(
        F.col("n_triangles").alias("n_sampled_triangles"),
        F.round(F.col("n_triangles") * F.lit(1000.0) / F.lit(27.0), 2).alias(
            "est_triangles"
        ),
        F.col("n_edges").alias("n_sampled_edges"),
    )
    return hold_caches(est, tri)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel: each CTE round re-derives degrees and keeps
    edges whose BOTH endpoints have degree >= k. Peeling is monotone
    and idempotent at the fixpoint, so unrolling MORE rounds than the
    data needs is a no-op — the round count here just has to be an
    upper bound (the engine-side operator verifies convergence and
    raises past its bound, so a too-small unroll shows up as a loud
    parity failure, never a silent wrong answer)."""
    step = """
    e{i} AS MATERIALIZED (
      SELECT e.lo, e.hi FROM e{p} e
      JOIN (SELECT v FROM (SELECT lo AS v FROM e{p}
                           UNION ALL SELECT hi FROM e{p})
            GROUP BY v HAVING COUNT(*) >= {k}) ka ON e.lo = ka.v
      JOIN (SELECT v FROM (SELECT lo AS v FROM e{p}
                           UNION ALL SELECT hi FROM e{p})
            GROUP BY v HAVING COUNT(*) >= {k}) kb ON e.hi = kb.v
    )"""
    steps = ",".join(
        step.format(i=i, p=i - 1, k=k) for i in range(1, rounds + 1)
    )
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    {steps}
    SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (SELECT lo AS v FROM e{rounds} UNION ALL SELECT hi FROM e{rounds})
    GROUP BY v
    """


@query("q_kcore", oracle=_kcore_oracle(k=60, rounds=6))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-core of the co-purchase graph by iterative peeling
    (llm/graph.py:kcore — distributed Batagelj-Zaversnik): drop
    nodes with fewer than 60 in-core neighbors until the fixpoint,
    convergence VERIFIED per round (raises past the bound — a silent
    partial peel would misreport the core). Each round is one action:
    the checkpoint of a degree table over the shared edges
    semi-joined to the previous round's keep set — the keep sets are
    nested, so that IS the peeled edge set — with the "no node below
    60" test counted inside the same job. Each round re-scans the
    shared edges instead of writing a per-round edge table. The
    shared edges are the caller's and stay alive; superseded degree
    tables are released as the peel goes. The oracle unrolls six
    peel rounds — more than the measured fixpoint (2 rounds at every
    fixture SF); monotonicity makes the extra rounds no-ops, and an
    insufficient unroll would fail parity loudly rather than agree
    wrongly. Dense-community extraction / bot-ring mining shape."""
    from oarphpy_spark.llm.graph import kcore

    # input_canonical: the shared edge relation is s < d, distinct
    # and checkpointed — skip the redundant canonicalize shuffle.
    return kcore(
        _shared_edges(spark, sf_dir), 60, "s", "d", input_canonical=True
    )


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled support peel; every CTE MATERIALIZED (a non-
    materialized unroll re-evaluates the triangle join exponentially
    — same lesson as _kcore_oracle). ``rounds`` only has to be an
    upper bound on the real fixpoint rounds (engine-verified);
    post-fixpoint rounds are no-ops by monotonicity."""
    step = """
    t{i} AS MATERIALIZED (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM e{p} e1
      JOIN e{p} e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
      JOIN e{p} e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    ),
    s{i} AS MATERIALIZED (
      SELECT lo, hi, COUNT(*) AS s FROM (
        SELECT a AS lo, b AS hi FROM t{i}
        UNION ALL SELECT a, c FROM t{i}
        UNION ALL SELECT b, c FROM t{i}
      ) GROUP BY lo, hi
    ),
    e{i} AS MATERIALIZED (
      SELECT e.lo, e.hi FROM e{p} e JOIN s{i} USING (lo, hi)
      WHERE s{i}.s >= {t}
    )"""
    steps = ",".join(
        step.format(i=i, p=i - 1, t=k - 2) for i in range(1, rounds + 1)
    )
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    {steps}
    SELECT e.lo, e.hi, CAST(s.s AS BIGINT) AS support
    FROM e{rounds} e JOIN s{rounds} s USING (lo, hi)
    """


@query("q_ktruss", oracle=_ktruss_oracle(k=12, rounds=10))
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-truss of the co-purchase graph (llm/graph.py:ktruss —
    Cohen's triangle-support peel): surviving edges each sit in >= 10
    triangles among survivors, a stricter cohesion primitive than
    q_kcore (edges must be triangle-embedded, not just endpoints
    well-connected). Convergence verified per round; the oracle
    unrolls ten MATERIALIZED peel rounds — above the measured
    fixpoint (5 rounds at sf0.01, 1 at sf0.001), with extra rounds
    no-ops by monotonicity and an insufficient unroll failing parity
    loudly. Output: (lo, hi, support)."""
    from oarphpy_spark.llm.graph import ktruss

    # input_canonical: the shared edge relation is s < d, distinct
    # and checkpointed — skip the redundant canonicalize shuffle.
    return ktruss(
        _shared_edges(spark, sf_dir), 12, "s", "d", input_canonical=True
    )


@query(
    "q_graph_profile",
    oracle=f"""
    WITH pr AS ({_COPURCHASE_EDGES_SQL}),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT lo AS v FROM (SELECT s AS lo, d AS hi FROM pr)
        UNION ALL
        SELECT hi FROM (SELECT s AS lo, d AS hi FROM pr)
      ) GROUP BY v
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM pr e1
      JOIN pr e2 ON e1.d = e2.s
      JOIN pr e3 ON e3.s = e1.s AND e3.d = e2.d
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_edges,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
           tri.n_tri AS n_triangles,
           ROUND(3.0 * tri.n_tri
                 / CAST(SUM(d * (d - 1) // 2) AS DOUBLE), 6)
             AS clustering_coeff
    FROM deg, tri
    GROUP BY tri.n_tri
    """,
)
def q_graph_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph profile of the co-purchase graph: node/edge
    counts, max degree, wedge count (sum of C(deg, 2) — exact integer
    arithmetic), exact triangle count (degree-oriented operator), and
    the global clustering coefficient 3*triangles/wedges (transitivity
    — Watts-Strogatz) as ONE correctly-rounded double division. The
    whole profile is two aggregation passes over the edge list plus
    the triangle plan — the health-check a pipeline runs before
    unleashing the iterative operators (PageRank rounds, peel bounds,
    skew knobs all read off these numbers)."""
    from oarphpy_spark.llm.graph import triangle_count

    # und is the session-shared materialized edge relation — it
    # feeds the degree stats AND the triangle operator's cache build
    # without re-deriving the lineitem self-join (and needs no
    # per-call persist/release of its own).
    und = _shared_edges(spark, sf_dir)
    # The degree table feeds THREE consumers — the profile stats and
    # both orientation joins inside triangle_count — so it is
    # persisted once here and handed to the operator (degrees=),
    # instead of letting each branch re-run the 2|E|-row aggregation
    # (r15 plan audit: the before-plan re-aggregated degrees twice).
    deg = (
        und.select(F.col("s").alias("v"))
        .unionByName(und.select(F.col("d").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    dstats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("deg").cast("long").alias("max_degree"),
        # Integer arithmetic end-to-end: per-row C(deg,2) via integer
        # `div`, summed as BIGINT. A double-typed sum would lose
        # exactness past 2^53 aggregate wedges — realistic at the
        # graph scales the operator targets.
        F.sum(
            F.expr("CAST(deg * (deg - 1) AS BIGINT) div 2")
        ).cast("long").alias("n_wedges"),
    )
    tri = triangle_count(
        und,
        "s",
        "d",
        input_canonical=True,
        degrees=deg.select(F.col("v").alias("node"), "deg"),
    )
    out = (
        dstats.crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles")
                / F.col("n_wedges").cast("double"),
                6,
            ).alias("clustering_coeff"),
        )
    )
    return hold_caches(out, tri, deg)


@query(
    "q_degree_distribution",
    oracle=f"""
    WITH e AS ({_COPURCHASE_EDGES_SQL}),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT s AS v FROM e UNION ALL SELECT d AS v FROM e
      ) GROUP BY v
    )
    SELECT CAST(length(to_base(deg, 2)) AS BIGINT) AS deg_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(deg) AS BIGINT) AS min_deg,
           CAST(MAX(deg) AS BIGINT) AS max_deg
    FROM deg GROUP BY length(to_base(deg, 2))
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned degree distribution of the co-purchase graph — the
    power-law fingerprint read before choosing skew strategies (a
    heavy tail says salt the hub keys; a flat head says don't
    bother). Bucket = bit length of the degree (integer, no log2
    float), so both engines bin identically; two partial-aggregable
    aggregations, output bounded by log2(max degree) rows. Pairs with
    q_graph_profile the way a histogram pairs with summary stats."""
    und = _shared_edges(spark, sf_dir)
    deg = (
        und.select(F.col("s").alias("v"))
        .unionByName(und.select(F.col("d").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    return deg.groupBy(
        F.length(F.bin("deg")).cast("long").alias("deg_bucket")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled deterministic label propagation: per round each node
    takes its neighbors' most frequent label, smallest label on
    ties (ROW_NUMBER over (count desc, label asc))."""
    step = """
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT s.a AS node, l.label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY s.a
                                  ORDER BY COUNT(*) DESC, l.label ASC)
                 AS rn
        FROM sym s JOIN l{p} l ON s.b = l.node
        GROUP BY s.a, l.label
      ) WHERE rn = 1
    )"""
    steps = ",".join(
        step.format(i=i, p=i - 1) for i in range(1, rounds + 1)
    )
    return f"""
    WITH sym AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS a, l_partkey + 10000000 AS b
      FROM lineitem
      UNION
      SELECT DISTINCT l_partkey + 10000000 AS a, l_suppkey AS b
      FROM lineitem
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT a AS node, a AS label FROM sym
    ),
    {steps}
    SELECT node, label FROM l{rounds}
    """


@query("q_label_propagation", oracle=_lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the supplier<->part graph by
    3-round deterministic label propagation
    (llm/graph.py:label_propagation — Raghavan et al. with
    smallest-label tie-breaking and a FIXED round count, the form an
    SQL oracle can restate exactly; synchronous LPA can oscillate, so
    to-fixpoint would be ill-defined). Each round: one equi-join on
    the persisted src-partitioned symmetric edges, one partial-
    aggregable (node, label) count, one argmax via min_by keyed on
    (count desc, label) — tie-free because the key includes the
    label. Complements q_dedup_clusters (exact components) with the
    density-sensitive community notion."""
    li = table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 10_000_000).alias("dst"),
    )
    from oarphpy_spark.llm.graph import label_propagation

    return label_propagation(fwd, rounds=3)


def _modularity_oracle() -> str:
    return f"""
    WITH lpa AS MATERIALIZED ({_lpa_oracle()}),
    und AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS a, l_partkey + 10000000 AS b
      FROM lineitem
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    intra AS (
      SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM und
      JOIN lpa la ON la.node = und.a
      JOIN lpa lb ON lb.node = und.b
      WHERE la.label = lb.label
      GROUP BY la.label
    ),
    degsum AS (
      SELECT l.label, CAST(COUNT(*) AS BIGINT) AS d_c
      FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) d JOIN lpa l ON l.node = d.v
      GROUP BY l.label
    ),
    terms AS (
      SELECT ds.label,
             CAST(ROUND((
               COALESCE(i.e_c, 0) / CAST((SELECT m FROM m) AS DOUBLE)
               - (ds.d_c / (2.0 * (SELECT m FROM m)))
                 * (ds.d_c / (2.0 * (SELECT m FROM m)))
             ) * 1e9) AS BIGINT) AS t_nano
      FROM degsum ds LEFT JOIN intra i ON i.label = ds.label
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           (SELECT m FROM m) AS m,
           ROUND(SUM(t_nano) / 1e9, 6) AS modularity
    FROM terms
    """


@query("q_graph_modularity", oracle=_modularity_oracle())
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities on the supplier-part
    graph — the quality score that tells you whether a community
    detection pass found real structure (Q near 0 = no better than
    random) before anything downstream trusts the labels. Everything
    is exact integer counts (m, intra-community edges e_c, degree
    sums d_c) assembled per community; each community's term
    e_c/m - (d_c/2m)^2 is nano-quantized BEFORE the cross-community
    sum (double summation order is engine-dependent, integer
    summation is not). Three aggregation passes over the edge list +
    two broadcast-scale joins against the label table; reuses the
    exact fixed-round LPA the oracle unrolls."""
    from oarphpy_spark.llm.graph import label_propagation

    li = table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 10_000_000).alias("dst"),
    )
    und = fwd.distinct()
    labels = label_propagation(fwd, rounds=3)
    m_df = und.agg(F.count("*").alias("m"))
    la = labels.select(
        F.col("node").alias("a"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col("node").alias("b"), F.col("label").alias("label_b")
    )
    intra = (
        und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(la, "a")
        .join(lb, "b")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count("*").alias("e_c"))
    )
    degsum = (
        und.select(F.col("src").alias("v"))
        .unionByName(und.select(F.col("dst").alias("v")))
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy("label")
        .agg(F.count("*").alias("d_c"))
    )
    terms = (
        degsum.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            F.round(
                (
                    F.coalesce("e_c", F.lit(0)) / F.col("m").cast("double")
                    - (F.col("d_c") / (2.0 * F.col("m")))
                    * (F.col("d_c") / (2.0 * F.col("m")))
                )
                * 1e9
            ).cast("long").alias("t_nano")
        )
    )
    q = terms.crossJoin(F.broadcast(m_df)).agg(
        F.count("*").alias("n_communities"),
        F.max("m").alias("m"),
        F.round(F.sum("t_nano") / 1e9, 6).alias("modularity"),
    )
    return hold_caches(q, labels)


@query(
    "q_graph_assortativity",
    oracle=f"""
    WITH e AS MATERIALIZED ({_COPURCHASE_EDGES_SQL}),
    deg AS MATERIALIZED (
      SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT s AS v FROM e UNION ALL SELECT d AS v FROM e
      ) GROUP BY v
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(ds.deg * dd.deg) AS BIGINT) AS a,
             CAST(SUM(ds.deg + dd.deg) AS BIGINT) AS b,
             CAST(SUM(ds.deg * ds.deg + dd.deg * dd.deg) AS BIGINT) AS c
      FROM e JOIN deg ds ON ds.node = e.s JOIN deg dd ON dd.node = e.d
    )
    SELECT m AS n_edges,
           ROUND(
             CAST(4 * CAST(m AS HUGEINT) * a - CAST(b AS HUGEINT) * b
                  AS DOUBLE)
             / CAST(2 * CAST(m AS HUGEINT) * c - CAST(b AS HUGEINT) * b
                    AS DOUBLE), 6) AS assortativity
    FROM sums
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002, Phys. Rev. Lett. 89.208701)
    of the co-purchase graph: the Pearson correlation of endpoint
    degrees over edges — positive means hubs link to hubs, negative
    means hubs link to leaves (the usual shape for purchase graphs).
    Summing each undirected edge in both orientations collapses the
    correlation to FOUR integer aggregates per edge pass (m, sum
    ds*dd, sum ds+dd, sum ds^2+dd^2), so the whole statistic is
    r = (4mA - B^2) / (2mC - B^2) with ONE double division at the
    end — bit-exact across engines and partitionings. Scale shape:
    one degree aggregation (node-keyed shuffle) + one edges-to-degree
    join keyed on node, then a scalar aggregate; no driver loop, no
    double accumulation across rows. The four SUMS fit int64 well
    past 100x, but B^2 and m*A do not — the final combine runs in
    128-bit (decimal(38,0) here, HUGEINT in the oracle) over the
    FOUR scalar values, then one double division.
    """
    e = _shared_edges(spark, sf_dir)
    deg = (
        e.select(F.col("s").alias("v"))
        .unionAll(e.select(F.col("d").alias("v")))
        .groupBy(F.col("v").alias("node"))
        .agg(F.count("*").alias("deg"))
    )
    ds = deg.select(F.col("node").alias("s"), F.col("deg").alias("deg_s"))
    dd = deg.select(F.col("node").alias("d"), F.col("deg").alias("deg_d"))
    sums = (
        e.join(ds, "s")
        .join(dd, "d")
        .agg(
            F.count("*").alias("m"),
            F.sum(F.col("deg_s") * F.col("deg_d")).alias("a"),
            F.sum(F.col("deg_s") + F.col("deg_d")).alias("b"),
            F.sum(
                F.col("deg_s") * F.col("deg_s")
                + F.col("deg_d") * F.col("deg_d")
            ).alias("c"),
        )
    )
    md = F.col("m").cast("decimal(38,0)")
    bd = F.col("b").cast("decimal(38,0)")
    return sums.select(
        F.col("m").alias("n_edges"),
        F.round(
            (4 * md * F.col("a") - bd * F.col("b")).cast("double")
            / (2 * md * F.col("c") - bd * F.col("b")).cast("double"),
            6,
        ).alias("assortativity"),
    )


@query(
    "q_scc_sizes",
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT DISTINCT p AS s, np AS d FROM (
        SELECT l_partkey AS p,
               -- l_partkey tiebreak: the testdata has duplicate
               -- (l_orderkey, l_linenumber) pairs with DIFFERENT
               -- partkeys, so ordering by l_linenumber alone leaves
               -- LEAD nondeterministic (r12 finding: the edge set
               -- varied per run/thread-count in BOTH engines)
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey)
                 AS np
        FROM lineitem WHERE l_orderkey % 4 = 0
      ) WHERE np IS NOT NULL AND np <> p
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT s AS node FROM e UNION SELECT DISTINCT d FROM e
    ),
    -- forward min-label fixpoint: f(v) = MIN(u : u ->* v or u = v).
    -- Delta rows only (O(V * diam)), NOT the pair closure: the old
    -- closure oracle materialized |SCC|^2 pairs and blew the sf0.1
    -- oracle budget (one 19884-node SCC -> ~4e8 pairs).
    lab(k, c) AS (
      SELECT d, LEAST(d, MIN(s)) FROM e GROUP BY d
      UNION
      SELECT e.d, LEAST(e.d, MIN(l.c)) FROM lab l JOIN e ON l.k = e.s
      GROUP BY e.d
    ),
    f AS MATERIALIZED (
      SELECT k, MIN(c) AS f FROM (
        SELECT k, c FROM lab
        UNION ALL
        SELECT node, node FROM nodes
      ) GROUP BY k
    ),
    -- FW-BW root round: each color class {v: f(v)=c} is a union of
    -- SCCs and contains its root c (f(c)=c); SCC(c) = members that
    -- reach c back within the class.
    back(k, c) AS (
      SELECT f, f FROM f WHERE k = f
      UNION
      SELECT e.s, b.c FROM back b JOIN e ON e.d = b.k
        JOIN f fs ON fs.k = e.s AND fs.f = b.c
    ),
    assigned AS MATERIALIZED (SELECT DISTINCT k, c AS scc_id FROM back),
    -- residual SCCs are whole (mutual paths never leave an SCC), so
    -- the textbook pair closure on the residual-induced subgraph is
    -- exact — and tiny (60 nodes at sf0.1 vs 19986 total).
    res AS MATERIALIZED (
      SELECT k FROM f WHERE k NOT IN (SELECT k FROM assigned)
    ),
    re AS MATERIALIZED (
      SELECT e.s, e.d FROM e
      JOIN res r1 ON e.s = r1.k JOIN res r2 ON e.d = r2.k
    ),
    rreach(src, dst) AS (
      SELECT s, d FROM re
      UNION
      SELECT r.src, re.d FROM rreach r JOIN re ON re.s = r.dst
    ),
    rmutual AS (
      SELECT r1.src AS v, r1.dst AS u FROM rreach r1
      JOIN rreach r2 ON r2.src = r1.dst AND r2.dst = r1.src
    ),
    rscc AS (
      SELECT r.k AS node, GREATEST(r.k, COALESCE(MAX(m.u), r.k)) AS scc_id
      FROM res r LEFT JOIN rmutual m ON m.v = r.k GROUP BY r.k
    ),
    scc AS (
      SELECT k AS node, scc_id FROM assigned
      UNION ALL SELECT node, scc_id FROM rscc
    )
    SELECT CAST(sz AS BIGINT) AS scc_size, CAST(COUNT(*) AS BIGINT) AS n_sccs
    FROM (SELECT scc_id, COUNT(*) AS sz FROM scc GROUP BY scc_id)
    GROUP BY sz ORDER BY sz
    """,
)
def q_scc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED part-sequence
    graph (consecutive line numbers within an order define part ->
    next-part edges), summarized as an SCC size histogram — cycle
    structure is what separates 'A is usually bought after B' from
    'A and B feed each other', and directed connectivity is the one
    graph primitive the undirected CC operator cannot answer.
    Implementation: ``llm/graph.strongly_connected_components`` —
    trim + Orzan forward-max coloring + backward peel, every phase a
    shuffle-bounded join/agg loop with truncated lineage (NO
    transitive closure). The ORACLE is now the same FW-BW idea in
    recursive SQL — min-label forward coloring, root-SCC backward
    peel, exact pair closure only on the tiny residual — because the
    old quadratic closure restatement blew the sf0.1 oracle budget
    (verified identical to it at sf0.001/sf0.01; 0.5 s vs >400 s at
    sf0.1). The size
    histogram is label-invariant, so the compared surface does not
    depend on either engine's choice of representative."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 4 == 0
    )
    # l_partkey tiebreak — see the oracle comment: duplicate
    # (l_orderkey, l_linenumber) rows make the bare ordering
    # nondeterministic; with the tiebreak the VALUE sequence (and so
    # every LEAD) is total-order deterministic even where row
    # identity is not.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey"
    )
    e = (
        li.select(
            F.col("l_partkey").alias("s"),
            F.lead("l_partkey").over(w).alias("d"),
        )
        .where(F.col("d").isNotNull() & (F.col("d") != F.col("s")))
        .distinct()
    )
    from oarphpy_spark.llm.graph import strongly_connected_components

    scc = strongly_connected_components(e, "s", "d")
    sizes = (
        scc.groupBy("scc_id")
        .agg(F.count("*").alias("sz"))
        .groupBy(F.col("sz").alias("scc_size"))
        .agg(F.count("*").alias("n_sccs"))
        .orderBy("scc_size")
    )
    return hold_caches(sizes, scc)


# Exact link prediction excludes wedge CENTERS above this degree: one
# hub with degree h contributes h^2 candidate pairs, so a single
# 1M-degree node alone is 10^12 shuffled rows — the job that never
# finishes at 100 TB. Hubs are also the least informative common
# neighbors (everyone shares them; Adamic-Adar down-weights them by
# 1/log deg for the same reason), so production systems cap them out.
# 4096 is far above any tested SF's max degree (sf0.01: 206) — the cap
# never changes small-SF results; it is the guard that bounds per-center
# wedge volume at cap^2 when a real power-law graph hits this query.
_LP_DEGREE_CAP = 4096

# Sketch path: per-center adjacency truncated to the T neighbors with
# the smallest md5 rank — wedge volume bounded by n*T^2 regardless of
# skew; Horvitz-Thompson weights undo the sampling bias exactly.
_LP_SKETCH_T = 128

# Target rows per partition for the wedge-pair aggregation exchange
# (see _wedge_agg_partitions): ~750K wedge rows -> ~500K groups/task
# at the measured ~1.47 duplicate ratio -> a ~30 MB per-task
# aggregation hash table, comfortably inside one task's execution
# memory even at 32 concurrent tasks on an 8 GB heap (r16 event-log
# audit: at 64 post-shuffle partitions the same aggregation spilled
# 5-12 GB per stage).
_WEDGE_ROWS_PER_PARTITION = 750_000


def _wedge_agg_partitions(
    spark: SparkSession,
    sf_dir: str,
    *,
    degree_cap: int | None = None,
    sample_t: int | None = None,
) -> int:
    """Partition count for the wedge-pair aggregation exchange, derived
    from the DATA (guide §2 'scale-adaptive, not a constant'): the
    wedge volume is exactly sum over eligible centers of C(deg, 2) —
    computable from the session-shared |V|-row degree table with one
    1-row aggregate job (milliseconds; memoized per session/sf/cap, so
    timed bench reps never re-pay it). ``degree_cap`` sizes the exact
    path (centers above the cap are excluded before expansion);
    ``sample_t`` sizes the sketch path (a center contributes at most
    C(T, 2) wedges after top-T sampling). Exactly one of the two must
    be given; anything else raises ``ValueError``. Floor of 2x
    defaultParallelism keeps small inputs fully parallel; the result
    scales with wedge volume, never with the local core count."""
    if (degree_cap is None) == (sample_t is None):
        raise ValueError(
            "_wedge_agg_partitions needs exactly one of degree_cap and "
            f"sample_t (got degree_cap={degree_cap!r}, sample_t={sample_t!r})"
        )

    def size() -> int:
        import math

        _, _, deg = _lp_shared_relations(spark, sf_dir)
        d = F.col("dg")
        sel = deg
        if sample_t is not None:
            d = F.least(d, F.lit(sample_t))
        else:
            sel = deg.filter(F.col("dg") <= degree_cap)
        wedge_rows = (
            sel.agg(
                F.sum(
                    (d.cast("double") * (d - F.lit(1)).cast("double"))
                    / F.lit(2.0)
                ).alias("w")
            ).collect()[0]["w"]
            or 0.0
        )
        par = spark.sparkContext.defaultParallelism
        return int(
            min(
                max(
                    math.ceil(wedge_rows / _WEDGE_ROWS_PER_PARTITION),
                    2 * par,
                ),
                200_000,
            )
        )

    return session_shared(
        spark, sf_dir, ("wedge_n", degree_cap, sample_t), size
    )


@query(
    "q_link_prediction",
    # Oracle stays the NAIVE restatement on purpose. A round-13
    # experiment rewrote it to mirror the Spark plan (degrees riding
    # the adjacency, packed single-BIGINT pair key) expecting the
    # DuckDB plan to speed up like the Spark one did — it got 5x
    # SLOWER (459 s vs 260 s at sf0.1, t8/16GB: the ride-along widens
    # the ~148M-row wedge relation feeding the ~101M-group hash
    # aggregation, and DuckDB runs this aggregation at ~2 cores no
    # matter the thread count, so wider rows are pure wall time).
    # The post-aggregation degree joins the Spark plan avoids are
    # cheap here (25k-row build side). The honest ~260 s idle cost is
    # budgeted per-slug in scripts/parity_sf01.py instead.
    oracle=f"""
    WITH pr AS ({_COPURCHASE_EDGES_SQL}),
    und AS (
      SELECT s, d FROM pr UNION ALL SELECT d, s FROM pr
    ),
    deg AS (SELECT s AS node, COUNT(*) AS dg FROM und GROUP BY s),
    cn AS (
      SELECT a.d AS u, b.d AS v, CAST(COUNT(*) AS BIGINT) AS common
      FROM und a JOIN und b ON a.s = b.s AND a.d < b.d
      JOIN deg cd ON a.s = cd.node AND cd.dg <= {_LP_DEGREE_CAP}
      GROUP BY a.d, b.d
    ),
    nonedge AS (
      SELECT cn.u, cn.v, cn.common FROM cn
      LEFT JOIN pr ON pr.s = cn.u AND pr.d = cn.v
      WHERE pr.s IS NULL
    )
    SELECT u, v, common,
           ROUND(common / CAST(du.dg + dv.dg - common AS DOUBLE), 6)
             AS jaccard
    FROM nonedge
    JOIN deg du ON u = du.node
    JOIN deg dv ON v = dv.node
    ORDER BY jaccard DESC, u, v
    LIMIT 20
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph by neighborhood
    Jaccard — the classic unsupervised recommender baseline: for
    every NON-adjacent pair sharing at least one common neighbor,
    score = |N(u) n N(v)| / |N(u) u N(v)|, top-20. Candidates come
    from the wedge join through common neighbors (each shared
    neighbor contributes one (u, v) row, partial-aggregated
    map-side), then an anti-join against the edge set keeps only
    non-edges — predicted links, not existing ones. Wedge volume is
    hub-quadratic, so centers above ``_LP_DEGREE_CAP`` are excluded
    (never binds at tested SFs; bounds per-center fanout at cap^2 on
    a power-law graph) and ``q_link_prediction_sketch`` is the
    unbounded-skew scale path. The top-k is TakeOrderedAndProject —
    never a global sort. Integer common-neighbor counts; one IEEE
    division per surviving pair."""
    return _link_prediction_exact(spark, sf_dir, _LP_DEGREE_CAP)


#: Stats from the most recent exact link-prediction run in this
#: process: {"degree_cap", "excluded_centers"}. The degree-cap
#: exclusion is an accuracy contract, not just a perf guard — on a
#: skewed production graph, capped-out hubs are wedge centers whose
#: candidate pairs are silently absent from the result. This counter
#: (plus the warning below) makes the exclusion observable instead of
#: silent.
LP_LAST_STATS: dict[str, int] = {}


def _link_prediction_exact(
    spark: SparkSession, sf_dir: str, degree_cap: int
) -> DataFrame:
    out, caches = _link_prediction_exact_plan(spark, sf_dir, degree_cap)
    out = truncate_lineage(out)
    for c in caches:
        c.unpersist()
    # Enforced skew contract: count the wedge centers the cap excluded
    # and report them. The count runs on the session-shared,
    # checkpointed degree table (|V|-bounded, lineage truncated),
    # so it is a milliseconds-scale job — never a rescan of the fact
    # table — and it runs AFTER the 20-row output materialized, so the
    # measured query plan is untouched.
    _, _, deg = _lp_shared_relations(spark, sf_dir)
    excluded = deg.filter(F.col("dg") > degree_cap).count()
    LP_LAST_STATS.clear()
    LP_LAST_STATS.update(
        degree_cap=degree_cap, excluded_centers=excluded
    )
    if excluded:
        import warnings

        warnings.warn(
            f"q_link_prediction: {excluded} wedge center(s) exceed "
            f"degree cap {degree_cap} and were excluded from exact "
            f"candidate generation; use q_link_prediction_sketch for "
            f"unbounded-skew graphs",
            stacklevel=2,
        )
    return out


def _link_prediction_exact_plan(
    spark: SparkSession, sf_dir: str, degree_cap: int
) -> tuple[DataFrame, list[DataFrame]]:
    """Candidate-table discipline (the r11 rewrite, −30% at sf0.1:
    32.5 -> 22.6 s warm interleaved A/B, identical top-20): the
    aggregated candidate table is ~100x |E| (sf0.1: 101M pairs from
    1.2M edges), so NOTHING may touch it except on its own
    partitioning key. Four moves:

    * the candidate aggregation's exchange sits BELOW the aggregation
      (explicit wedge-volume-sized repartition on the packed pair
      key, r16): the default partial+final split built ~task-sized
      partial hash tables over the wedge relation for a measured
      ~1.47x reduction — 5-8 GB of map-side spill plus 12 GB of
      final-agg spill at 64 post-shuffle partitions. Raw wedge rows
      stream to the shuffle instead, and the data-derived partition
      count (see ``_wedge_agg_partitions``) bounds every task's
      aggregation state at any scale;

    * degrees ride ALONG the wedge join (d-side degree attached to the
      adjacency before expansion), so the two per-pair degree joins
      vanish — at 1B-node scale the degree table is not broadcastable
      and each of those joins would be a full reshuffle of the
      candidate table;
    * (u, v) is packed into ONE bigint (partkeys < 2^32; an id space
      past 2^32 keeps the two-column key instead), halving the
      group-key hash/compare width on the 148M-row aggregation and
      making the anti-join a single-long key;
    * the non-edge anti-join keeps the aggregation's hash(uv) output
      partitioning on the big side and SHUFFLE_HASH-hints the |E|-row
      side — no 101M-row sort (SMJ would sort the candidates), no
      broadcast-of-the-edge-set assumption (AQE would broadcast at
      local scale and silently stop at cluster scale).

    pr / und / deg come from the session-shared
    ``_lp_shared_relations`` cache (|E|-bounded, checkpointed
    once), so this and the sketch companion derive the edge set and
    degree table once between them. ``capped``
    feeds both wedge sides — persist it or each side re-runs the
    semi-join (same pathology the triangle operator had; released
    after the lineage cut materializes the 20-row output)."""
    pr, und, deg = _lp_shared_relations(spark, sf_dir)
    # Wedge centers above the cap never enter the self-join: the
    # filter lands on the (small) degree table and semi-joins the
    # adjacency BEFORE the quadratic expansion.
    # (r15 negative result: persisting this relation pre-partitioned +
    # pre-sorted on the wedge center s did NOT remove the consumer-side
    # Exchange/Sort — AQE wraps the cached plan and hides its output
    # partitioning — and A/B'd at 1.03/0.96 normalized, a wash;
    # reverted to keep the cache build one exchange cheaper.)
    capped = (
        und.join(
            deg.filter(F.col("dg") <= degree_cap).select(
                F.col("node").alias("s")
            ),
            "s",
            "left_semi",
        )
        .join(
            deg.select(F.col("node").alias("d"), F.col("dg").alias("dd")),
            "d",
        )
        .persist()
    )
    a, b = capped.alias("a"), capped.alias("b")
    uv = F.shiftleft(F.col("a.d").cast("bigint"), 32) + F.col(
        "b.d"
    ).cast("bigint")
    # Explicit repartition of the RAW wedge rows on the group key,
    # sized from the wedge volume (r16, guide §2.5/§5): with the
    # default groupBy placement the map side ran a partial aggregation
    # over its whole slice of the ~148M-row wedge relation — but the
    # global duplicate ratio is only ~1.47 (101M distinct pairs), so
    # the partial hash tables reduced almost nothing while spilling
    # 5-8 GB per stage and tripling GC (event-log audit, sf0.1/64
    # post-shuffle partitions; the final aggregation spilled another
    # 12 GB). Moving the exchange BELOW the aggregation makes the map
    # side a pure join+write (zero hash state, zero spill) and lets
    # the partition count bound each task's aggregation hash table
    # (~500K groups -> ~30 MB) regardless of scale. Raw rows are
    # (uv, du0, dv0) = 3 longs — narrower than the 4-column partial-agg
    # rows they replace (measured 2033 vs 2135 MB shuffle written).
    n_agg = _wedge_agg_partitions(spark, sf_dir, degree_cap=degree_cap)
    wedges = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .select(
            uv.alias("uv"),
            # functionally dependent on uv; min() carries them through
            # the aggregation deterministically without widening the
            # group key
            F.col("a.dd").alias("du0"),
            F.col("b.dd").alias("dv0"),
        )
        .repartition(n_agg, "uv")
    )
    cn = wedges.groupBy("uv").agg(
        F.count("*").alias("common"),
        F.min("du0").alias("du"),
        F.min("dv0").alias("dv"),
    )
    pr_uv = pr.select(
        (
            F.shiftleft(F.col("s").cast("bigint"), 32)
            + F.col("d").cast("bigint")
        ).alias("uv")
    )
    nonedge = cn.join(pr_uv.hint("SHUFFLE_HASH"), "uv", "left_anti")
    out = (
        nonedge.select(
            F.shiftright(F.col("uv"), 32).alias("u"),
            (F.col("uv") % F.lit(2 ** 32).cast("bigint")).alias("v"),
            "common",
            F.round(
                F.col("common")
                / (F.col("du") + F.col("dv") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(20)
    )
    # pr/deg are session-shared (checkpointed, not persist()ed) —
    # only the per-call capped adjacency is released by the caller.
    return out, [capped]


@query(
    "q_link_prediction_sketch",
    # Naive restatement kept on purpose — see q_link_prediction's
    # oracle note: the plan-mirroring rewrite (ride-along degrees,
    # packed pair key) is 5x slower in DuckDB; the honest cost is
    # budgeted per-slug in scripts/parity_sf01.py instead.
    oracle=f"""
    WITH pr AS ({_COPURCHASE_EDGES_SQL}),
    und AS (
      SELECT s, d FROM pr UNION ALL SELECT d, s FROM pr
    ),
    deg AS (SELECT s AS node, COUNT(*) AS dg FROM und GROUP BY s),
    samp AS (
      SELECT s, d, dg FROM (
        SELECT u.s, u.d, deg.dg,
               ROW_NUMBER() OVER (
                 PARTITION BY u.s
                 ORDER BY md5('lps|' || CAST(u.s AS VARCHAR) || '|'
                              || CAST(u.d AS VARCHAR)), u.d) AS rk
        FROM und u JOIN deg ON u.s = deg.node)
      WHERE rk <= {_LP_SKETCH_T}
    ),
    w AS (
      SELECT s, d,
             CASE WHEN dg <= {_LP_SKETCH_T} THEN CAST(1000000 AS BIGINT)
                  ELSE (1000000 * dg * (dg - 1))
                       // ({_LP_SKETCH_T} * ({_LP_SKETCH_T} - 1))
             END AS wm
      FROM samp
    ),
    cn AS (
      SELECT a.d AS u, b.d AS v, CAST(SUM(a.wm) AS BIGINT) AS sm
      FROM w a JOIN w b ON a.s = b.s AND a.d < b.d
      GROUP BY a.d, b.d
    ),
    nonedge AS (
      SELECT cn.u, cn.v, cn.sm FROM cn
      LEFT JOIN pr ON pr.s = cn.u AND pr.d = cn.v
      WHERE pr.s IS NULL
    )
    SELECT u, v, sm AS est_common_micro,
           ROUND(sm / (1000000.0 * (du.dg + dv.dg) - sm), 6)
             AS est_jaccard
    FROM nonedge
    JOIN deg du ON u = du.node
    JOIN deg dv ON v = dv.node
    ORDER BY est_jaccard DESC, u, v
    LIMIT 20
    """,
)
def q_link_prediction_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale companion to ``q_link_prediction``: Horvitz-Thompson
    neighborhood sampling bounds wedge volume at n*T^2 regardless of
    degree skew — the hub that makes the exact wedge join quadratic
    contributes at most T^2 = 16K pairs instead of deg^2 = 10^12.

    Each center keeps only its T=128 neighbors of smallest
    ``md5('lps|'||s||'|'||d)`` rank (a deterministic uniform sample —
    hash order is independent of graph structure, and the same rows
    survive in any engine, which is what makes the *estimate itself*
    exact-oracle-checkable). A wedge at a center of degree dg > T
    survives with probability T(T-1)/(dg(dg-1)), so each surviving
    wedge counts with the inverse weight, kept in exact integer
    micro-units (floor division; max weight ~1e6*dg^2/T^2 fits bigint
    through the sum). Centers at or below T are exact with weight 1.
    The estimator is unbiased: at sf0.01 the global estimated common
    count is within 0.003% of truth and the exact-top-20 pairs'
    estimates average 5.6% relative error (property-tested).

    Same candidate anti-join and top-20 ranking as the exact path,
    ranking on estimated Jaccard est/(du+dv-est) computed as ONE
    integer-exact division sm/(1e6*(du+dv)-sm)."""
    out, caches = _link_prediction_sketch_plan(spark, sf_dir)
    out = truncate_lineage(out)
    for c in caches:
        c.unpersist()
    return out


def _link_prediction_sketch_plan(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    T = _LP_SKETCH_T
    # pr / und / deg are session-shared with the exact path (VERDICT
    # r12 item 3): |E|-bounded, checkpointed once per (session,
    # sf_dir).
    pr, und, deg = _lp_shared_relations(spark, sf_dir)
    # dd = the FULL degree of the neighbor endpoint, attached before
    # sampling: it rides through the wedge join so the final per-pair
    # degree joins vanish from the candidate-table path (same
    # candidate-table discipline as the exact path — at 1B-node scale
    # the degree table is not broadcastable).
    dd = deg.select(F.col("node").alias("d"), F.col("dg").alias("dd"))
    # dg<=T bypass: a center at or below T keeps
    # ALL its neighbors (oracle: rk <= T never filters) with weight
    # exactly 1 — the collect_list/array_sort/slice sample stage is a
    # weight-1 passthrough there. Route on the HUB set:
    # |hubs| <= 2|E|/T nodes (sum of degrees bounds it), so it
    # broadcasts — the dg<=T rows then skip the sample aggregation
    # entirely (a broadcast anti-join is map-side), and only the hub
    # adjacency pays the top-T shuffle+sort. Past broadcastability
    # (~10^8 hubs at 10^10 edges) drop the hint and the routing joins
    # degrade to shuffles — still less work than sampling everything.
    # `und` is a free projection of the checkpointed edge relation, so
    # each branch re-derives its slice rather than persisting a shared
    # adjacency (measured: the extra 2|E|-row materialization cost
    # more than the double scan saves).
    hubs = deg.filter(F.col("dg") > T).select(F.col("node").alias("s"))
    low = (
        und.join(F.broadcast(hubs), "s", "left_anti")
        .join(dd, "d")
        .select(
            "s", "d", "dd", F.lit(1000000).cast("bigint").alias("wm")
        )
    )
    # Hub top-T selection as ONE hash aggregation instead of a
    # row_number() window (the window form paid a WindowGroupLimit
    # SORT): groupBy(s) computes dg (= group size — the semi-join
    # keeps every neighbor row of a hub center, so the count IS the
    # full degree, always > T here) and the sorted top-T in the same
    # pass; array_sort on struct(h, d, dd) orders lexicographically
    # by the md5 string then d — (h, d) is unique per group, so the
    # trailing dd never influences order and the surviving sample
    # rows (and hence the oracle) are unchanged. collect_list
    # partial-aggregates map-side (list concat), so the shuffle
    # carries per-key partial lists, not a global sort.
    high = (
        und.join(F.broadcast(hubs), "s", "left_semi")
        .join(dd, "d")
        .select(
            "s",
            "d",
            "dd",
            F.md5(
                F.concat_ws(
                    "|", F.lit("lps"), F.col("s").cast("string"),
                    F.col("d").cast("string"),
                )
            ).alias("h"),
        )
        .groupBy("s")
        .agg(
            F.count("*").alias("dg"),
            F.slice(
                F.array_sort(F.collect_list(F.struct("h", "d", "dd"))),
                1,
                T,
            ).alias("top"),
        )
        .select("s", "dg", F.explode("top").alias("e"))
        .select(
            "s",
            F.col("e.d").alias("d"),
            F.col("e.dd").alias("dd"),
            F.expr(
                f"(1000000L * dg * (dg - 1)) div ({T} * ({T} - 1))"
            ).alias("wm"),
        )
    )
    # w feeds BOTH wedge sides: without the persist each side re-runs
    # the routing joins (and the hub sample stage) over the full 2|E|
    # adjacency. (r15: pre-partitioning + pre-sorting the persist on s
    # was A/B'd a wash — AQE hides the cache's partitioning from the
    # merge-join consumers — and reverted; see the exact path.)
    w = low.unionAll(high).persist()
    a, b = w.alias("a"), w.alias("b")
    # (u, v) packed into one bigint — same key discipline (and the
    # same < 2^32 id-space caveat) as the exact path.
    uv = F.shiftleft(F.col("a.d").cast("bigint"), 32) + F.col(
        "b.d"
    ).cast("bigint")
    # Exchange below the aggregation, sized from the (sampled) wedge
    # volume — same restructure and rationale as the exact path (r16):
    # the map side streams raw wedge rows to the shuffle instead of
    # running a near-useless partial aggregation that spilled GBs.
    n_agg = _wedge_agg_partitions(spark, sf_dir, sample_t=T)
    wedges = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .select(
            uv.alias("uv"),
            F.col("a.wm").alias("wm0"),
            F.col("a.dd").alias("du0"),
            F.col("b.dd").alias("dv0"),
        )
        .repartition(n_agg, "uv")
    )
    cn = wedges.groupBy("uv").agg(
        F.sum("wm0").alias("sm"),
        F.min("du0").alias("du"),
        F.min("dv0").alias("dv"),
    )
    pr_uv = pr.select(
        (
            F.shiftleft(F.col("s").cast("bigint"), 32)
            + F.col("d").cast("bigint")
        ).alias("uv")
    )
    nonedge = cn.join(pr_uv.hint("SHUFFLE_HASH"), "uv", "left_anti")
    out = (
        nonedge.select(
            F.shiftright(F.col("uv"), 32).alias("u"),
            (F.col("uv") % F.lit(2 ** 32).cast("bigint")).alias("v"),
            F.col("sm").alias("est_common_micro"),
            F.round(
                F.col("sm")
                / (
                    F.lit(1000000.0) * (F.col("du") + F.col("dv"))
                    - F.col("sm")
                ),
                6,
            ).alias("est_jaccard"),
        )
        .orderBy(F.desc("est_jaccard"), "u", "v")
        .limit(20)
    )
    # pr/deg are session-shared (checkpointed, not persist()ed) —
    # only the per-call sampled-adjacency cache is released by the
    # caller.
    return out, [w]


@query(
    "q_graph_reciprocity",
    oracle="""
    WITH w AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2
    ), m AS (
      SELECT COALESCE(a.src, b.dst) AS src,
             COALESCE(a.dst, b.src) AS dst,
             COALESCE(a.w, 0) AS w_fwd,
             COALESCE(b.w, 0) AS w_rev
      FROM w a FULL OUTER JOIN w b
        ON a.src = b.dst AND a.dst = b.src
      WHERE COALESCE(a.w, 0) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(w_fwd) AS BIGINT) AS total_weight,
           ROUND(CAST(SUM(LEAST(w_fwd, w_rev)) AS DOUBLE)
                 / CAST(SUM(w_fwd) AS DOUBLE), 6) AS reciprocity
    FROM m
    """,
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reciprocity of the DIRECTED nation-to-nation trade
    graph (supplier nation ships to customer nation): the fraction of
    flow that is returned, sum(min(w_ij, w_ji)) / sum(w_ij) — the
    directed-graph counterpart to assortativity in the profile suite,
    and a structure metric SCC/PageRank don't capture (a graph can be
    one giant SCC at near-zero reciprocity). The heavy work is the
    star join down to (src_nation, dst_nation) counts — dims
    broadcast, one fact shuffle; the reciprocity combine runs on a
    |nations|^2-bounded relation via a self full-outer join on the
    reversed key. All-integer until the single final division."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("src"),
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("dst"),
    )
    w = (
        li.join(
            F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(sn), "s_nationkey")
        .join(F.broadcast(cn), "c_nationkey")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .persist()
    )
    rev = w.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("w").alias("w_rev"),
    )
    m = w.join(rev, ["src", "dst"], "left").select(
        F.col("w").alias("w_fwd"),
        F.coalesce("w_rev", F.lit(0)).alias("w_rev"),
    )
    out = m.agg(
        F.count("*").alias("n_edges"),
        F.sum("w_fwd").alias("total_weight"),
        F.round(
            F.sum(F.least("w_fwd", "w_rev")).cast("double")
            / F.sum("w_fwd").cast("double"),
            6,
        ).alias("reciprocity"),
    )
    out = truncate_lineage(out)
    w.unpersist()
    return out
