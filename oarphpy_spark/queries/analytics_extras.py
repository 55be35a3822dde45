"""Round-7 analytics extras: weighted shortest paths, market-basket
rules, classical statistical tests, exact rolling/decayed time-series
statistics, recursive-CTE traversal, exact embedding covariance,
funnel latency, a pure-relational HyperLogLog, session path mining,
hash-deterministic Monte-Carlo pi, a Python-UDTF chunker, and a 2-D
histogram — each under the exact DuckDB oracle.

Determinism discipline (see testing/parity.py): every compared float
is either (a) derived from integer-quantized inputs with the division
happening ONCE at the end, or (b) the same IEEE expression tree in
both engines rounded to a fixed number of decimals. Sums that cross
rows are always integer sums (order-independent); doubles are never
summed across rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.operators.prefix import with_global_row_number
from oarphpy_spark.registry import query
from oarphpy_spark.tables import bound_sql, plain_sql, table
from oarphpy_spark.util.checkpoints import release_checkpoint, truncate_lineage

# Canonical weighted co-purchase edges: parts sharing an order,
# s < d, with a deterministic data-derived integer weight (the demo
# stand-in for a real affinity weight — the plan shape is identical).
_WEDGES_SQL = """
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d,
             1 + (a.l_partkey + b.l_partkey) % 7 AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weight is a pure function of (s, d), so the weighted edge
    relation is a shuffle-free projection over the session-shared
    materialized co-purchase edges (graph_queries._shared_edges) —
    the DISTINCT lineitem self-join is never re-derived here. Rows
    are identical to the standalone derivation: DISTINCT(s, d, w)
    equals DISTINCT(s, d) when w is functionally dependent on them."""
    from oarphpy_spark.queries.graph_queries import _shared_edges

    return _shared_edges(spark, sf_dir).select(
        "s",
        "d",
        (F.lit(1) + (F.col("s") + F.col("d")) % 7).alias("w"),
    )


def _sssp_oracle(rounds: int = 4) -> str:
    """Unrolled Bellman-Ford recurrence, every stage MATERIALIZED (a
    non-materialized CTE would re-evaluate the whole prefix per
    reference and the unroll goes exponential)."""
    stages = [
        """
    d0 AS MATERIALIZED (
      SELECT (SELECT MIN(s) FROM e) AS node, CAST(0 AS BIGINT) AS dist
    )"""
    ]
    for i in range(1, rounds + 1):
        stages.append(f"""
    d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT sym.d AS node, p.dist + sym.w AS dist
        FROM d{i - 1} p JOIN sym ON sym.s = p.node
      ) GROUP BY node
    )""")
    return f"""
    WITH e AS MATERIALIZED ({_WEDGES_SQL}),
    sym AS MATERIALIZED (
      SELECT s, d, w FROM e UNION ALL SELECT d, s, w FROM e
    ),
    {",".join(stages)}
    SELECT node, dist FROM d{rounds}
    """


@query("q_sssp", oracle=_sssp_oracle(4))
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (4 relaxation rounds)
    from the minimum part id over the co-purchase graph
    (llm/graph.py:sssp — distributed Bellman-Ford). Integer weights
    end-to-end, so path costs are exact; the per-round plan is one
    frontier-x-edges equi-join (big side pre-partitioned + persisted,
    never re-exchanged) + one min-aggregate — partial aggregation
    collapses each node's candidate distances map-side. The oracle
    unrolls the identical recurrence as MATERIALIZED CTE stages."""
    from oarphpy_spark.llm.graph import sssp

    # Materialize the edge self-join ONCE: the seed lookup and the
    # operator's symmetric union would otherwise each re-run it.
    e = truncate_lineage(_weighted_edges(spark, sf_dir))
    seed = e.agg(F.min("s")).collect()[0][0]
    dist = sssp(e, seed, "s", "d", "w", rounds=4)
    release_checkpoint(e)  # dist is an eager cut: e is read no more
    return dist


@query(
    "q_assoc_rules",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
               FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT o) AS n FROM b),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM b GROUP BY p),
    pair AS (
      SELECT x.p AS pa, y.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p HAVING COUNT(*) >= 2
    )
    SELECT pa, pb, n_pair,
           ia.n_item AS n_a, ib.n_item AS n_b,
           ROUND(n_pair / CAST(ia.n_item AS DOUBLE), 6) AS conf_a_b,
           ROUND(n_pair / CAST(ib.n_item AS DOUBLE), 6) AS conf_b_a,
           ROUND(n_pair * (SELECT n FROM n_orders)
                 / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
    FROM pair
    JOIN item ia ON ia.p = pa
    JOIN item ib ON ib.p = pb
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: part pairs
    with support >= 2, both-direction confidence, and lift — the
    A-Priori 2-pass shape. Scale design: ONE groupBy builds each
    order's sorted distinct part array (collect_set dedups in the
    aggregate — no separate global DISTINCT), then the C(n,2) pair
    expansion happens INSIDE the array, map-side — fanout bounded by
    basket size, never by a part's global frequency, and there is no
    basket self-join at all (the oracle restates pairs as the classic
    self-join). The item-frequency table (one row per part) is
    broadcast to decorate surviving pairs. The support filter runs ON
    THE AGGREGATE before any per-item join, which is the a-priori
    prune: at 100 TB you'd add a first pass dropping infrequent items
    before pair expansion — same plan with one more array_intersect."""
    li = table(spark, sf_dir, "lineitem")
    # ONE shuffle builds per-order sorted distinct part arrays; pair
    # expansion then happens INSIDE each array (i < j, so pa < pb by
    # sortedness) — map-side, bounded by basket size, no self-join.
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    n_orders = baskets.count()
    item = baskets.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count("*").alias("n_item")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.size("ps") - (i + 1)
                ),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pair = (
        baskets.select(F.explode(pair_structs).alias("pp"))
        .groupBy(F.col("pp.pa").alias("pa"), F.col("pp.pb").alias("pb"))
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    ia = item.select(F.col("p").alias("pa"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("p").alias("pb"), F.col("n_item").alias("n_b"))
    return (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .select(
            "pa",
            "pb",
            "n_pair",
            "n_a",
            "n_b",
            F.round(
                F.col("n_pair") / F.col("n_a").cast("double"), 6
            ).alias("conf_a_b"),
            F.round(
                F.col("n_pair") / F.col("n_b").cast("double"), 6
            ).alias("conf_b_a"),
            F.round(
                F.col("n_pair")
                * F.lit(n_orders)
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q_chi_square",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ), tot AS (
      SELECT r, c, obs,
             SUM(obs) OVER (PARTITION BY r) AS row_tot,
             SUM(obs) OVER (PARTITION BY c) AS col_tot,
             SUM(obs) OVER () AS n
      FROM cell
    )
    SELECT
      ROUND(SUM(CAST(ROUND(
        (obs - row_tot * col_tot / CAST(n AS DOUBLE))
        * (obs - row_tot * col_tot / CAST(n AS DOUBLE))
        / (row_tot * col_tot / CAST(n AS DOUBLE)) * 1e6) AS BIGINT))
        / 1e6, 6) AS chi2,
      CAST((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS BIGINT)
        AS dof,
      CAST(MAX(n) AS BIGINT) AS n
    FROM tot
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status. One count aggregation produces the contingency
    table (|priorities| x |statuses| rows — tiny regardless of input
    scale); marginals come from windows OVER that tiny table, so the
    only data-sized operation is the first groupBy. Each cell's
    (obs-exp)^2/exp is quantized to integer micro-units BEFORE the
    cross-cell sum (double summation order is engine-dependent;
    integer summation is not)."""
    orders = table(spark, sf_dir, "orders")
    cell = orders.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("c"),
    ).agg(F.count("*").alias("obs"))
    tot = cell.select(
        "r",
        "c",
        "obs",
        F.sum("obs").over(Window.partitionBy("r")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("c")).alias("col_tot"),
        F.sum("obs").over(
            Window.partitionBy()
        ).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    cell_micro = F.round(
        (F.col("obs") - exp) * (F.col("obs") - exp) / exp * 1e6
    ).cast("long")
    return tot.agg(
        F.round(F.sum(cell_micro) / 1e6, 6).alias("chi2"),
        (
            (F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)
        ).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n"),
    )


@query(
    "q_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 1e3) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(SUM(CAST(ROUND(value * 1e3) AS BIGINT)
                      * CAST(ROUND(value * 1e3) AS BIGINT)) AS BIGINT)
               AS ss
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
    ), w AS (
      SELECT
        MAX(CASE WHEN grp = 'click' THEN n END) AS n1,
        MAX(CASE WHEN grp = 'purchase' THEN n END) AS n2,
        MAX(CASE WHEN grp = 'click' THEN s END) AS s1,
        MAX(CASE WHEN grp = 'purchase' THEN s END) AS s2,
        MAX(CASE WHEN grp = 'click' THEN ss END) AS ss1,
        MAX(CASE WHEN grp = 'purchase' THEN ss END) AS ss2
      FROM g
    )
    SELECT n1, n2,
      ROUND(s1 / (1e3 * n1) - s2 / (1e3 * n2), 6) AS mean_diff,
      ROUND(
        (s1 / (1e3 * n1) - s2 / (1e3 * n2))
        / sqrt(
            ((ss1 - s1 / CAST(n1 AS DOUBLE) * s1) / (n1 - 1)) / 1e6 / n1
          + ((ss2 - s2 / CAST(n2 AS DOUBLE) * s2) / (n2 - 1)) / 1e6 / n2
        ), 6) AS t_stat
    FROM w
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: click vs purchase event
    values. The entire test reduces to SIX numbers per group — n,
    sum, sum-of-squares — all integer (milli-quantized values), so
    the data-sized pass is one partial-aggregable groupBy and the
    statistic is computed on the driver-sized 2-row result with one
    identical IEEE expression tree in both engines (sqrt and division
    are correctly rounded ops; only cross-row SUMS are
    order-sensitive, and those are integer here)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    v = F.round(F.col("value") * 1e3).cast("long")
    g = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    )
    w = g.agg(
        *[
            F.max(
                F.when(F.col("grp") == grp, F.col(c))
            ).alias(f"{c}{i}")
            for i, grp in ((1, "click"), (2, "purchase"))
            for c in ("n", "s", "ss")
        ]
    )
    mean_diff = F.col("s1") / (F.lit(1e3) * F.col("n1")) - F.col("s2") / (
        F.lit(1e3) * F.col("n2")
    )
    var_over_n = lambda s, ss, n: (  # noqa: E731
        (F.col(ss) - F.col(s) / F.col(n).cast("double") * F.col(s))
        / (F.col(n) - 1)
    ) / F.lit(1e6) / F.col(n)
    t = mean_diff / F.sqrt(
        var_over_n("s1", "ss1", "n1") + var_over_n("s2", "ss2", "n2")
    )
    return w.select(
        "n1",
        "n2",
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
    )


@query(
    "q_ewma_dyadic",
    oracle="""
    WITH q AS (
      SELECT event_id, user_id,
             CAST(ROUND(value * 1e3) AS BIGINT) AS v
      FROM events
    ), arr AS (
      SELECT event_id, user_id,
             list(v) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW
             ) AS vs
      FROM q
    )
    SELECT event_id, user_id,
           ROUND(
             CAST(list_sum(list_transform(
               vs, (x, i) -> x * (CAST(1 AS BIGINT) << (i - 1))
             )) AS BIGINT)
             / (((CAST(1 AS BIGINT) << len(vs)) - 1) * 1e3), 6
           ) AS ewma
    FROM arr
    """,
)
def q_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed trailing average (alpha = 1/2) of each
    user's event values over the last 16 events — EWMA made
    hash-exact: dyadic weights 2^k are exact integers, the weighted
    numerator is an integer fold over the frame (collect_list
    preserves frame order in both engines), and the single
    normalizing division happens once at the end. No transcendentals,
    no cross-row float sums. The window is ONE shuffle on user_id;
    the fold is a JVM-side higher-order function, not a UDF."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        -15, 0
    )
    q = ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 1e3).cast("long").alias("v"),
    )
    arr = q.select(
        "event_id", "user_id", F.collect_list("v").over(w).alias("vs")
    )
    num = F.expr(
        """aggregate(
             vs,
             named_struct('s', CAST(0 AS BIGINT), 'w', CAST(1 AS BIGINT)),
             (acc, x) -> named_struct('s', acc.s + x * acc.w,
                                      'w', acc.w * 2),
             acc -> acc.s)"""
    )
    den = (
        F.expr("shiftleft(CAST(1 AS BIGINT), size(vs))") - 1
    ).cast("double") * 1e3
    return arr.select(
        "event_id",
        "user_id",
        F.round(num / den, 6).alias("ewma"),
    )


@query(
    "q_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(median(CAST(ROUND(value * 1e3) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) / 1e3, 6) AS med
    FROM events
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median of each user's last 7 event values —
    percentile(0.5) as a frame-bounded window aggregate (Spark's
    exact percentile, not approx_percentile; DuckDB's median).
    Integer milli-quantized inputs make the even-count midpoint
    interpolation identical in both engines. One shuffle on user_id;
    the per-frame sort is bounded by the 7-row frame, not the
    partition."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        -6, 0
    )
    v = F.round(F.col("value") * 1e3).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile(v, F.lit(0.5)).over(w) / 1e3, 6).alias(
            "med"
        ),
    )


@query(
    "q_anomaly_rolling_z",
    oracle="""
    WITH q AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 1e3) AS BIGINT) AS v
      FROM events
    ), stats AS (
      SELECT event_id, user_id, v,
             CAST(COUNT(v) OVER trail AS BIGINT) AS n,
             CAST(SUM(v) OVER trail AS BIGINT) AS s,
             CAST(SUM(v * v) OVER trail AS BIGINT) AS ss
      FROM q
      WINDOW trail AS (
        PARTITION BY user_id ORDER BY event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
      )
    )
    SELECT event_id, user_id, n
    FROM stats
    WHERE n >= 8
      AND (n * v - s) * (n * v - s) * (n - 1)
          > 9 * n * (n * ss - s * s)
    """,
)
def q_anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: flag events whose value
    deviates more than 3 sample standard deviations from the mean of
    the SAME user's previous <= 20 events (current row excluded — no
    self-contamination; warm-up rows with < 8 priors are not judged).
    The 3-sigma test is done entirely in integer arithmetic by
    cross-multiplying the squared z inequality — no sqrt, no float
    comparison at the decision boundary, so the flag set is
    bit-reproducible. One shuffle on user_id; trailing sums are
    frame-bounded running aggregates."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        -20, -1
    )
    v = F.round(F.col("value") * 1e3).cast("long")
    stats = ev.select(
        "event_id",
        "user_id",
        v.alias("v"),
        F.count("*").over(w).alias("n"),
        F.sum(v).over(w).alias("s"),
        F.sum(v * v).over(w).alias("ss"),
    )
    nv_s = F.col("n") * F.col("v") - F.col("s")
    return stats.filter(
        (F.col("n") >= 8)
        & (
            nv_s * nv_s * (F.col("n") - 1)
            > 9 * F.col("n") * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        )
    ).select("event_id", "user_id", "n")


_RECURSIVE_REACH_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM {lineitem} a JOIN {lineitem} b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), sym AS (
  SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e
), seed AS (
  SELECT MIN(s) AS v FROM e
), reach(node, hop) AS (
  SELECT v, 0 FROM seed
  UNION ALL
  SELECT DISTINCT sym.d, reach.hop + 1
  FROM reach JOIN sym ON sym.s = reach.node
  WHERE reach.hop < 3
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hops
FROM reach GROUP BY node
"""


@query("q_sql_recursive_reach", oracle=plain_sql(_RECURSIVE_REACH_SQL))
def q_sql_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance (<= 3 hops) from the minimum part over the
    co-purchase graph as ONE recursive CTE — the same ANSI
    ``WITH RECURSIVE`` text runs verbatim on Spark 4's recursive-CTE
    support and on DuckDB. The recursive step is level-synchronous
    with DISTINCT (Spark's recursion supports UNION ALL only, so the
    frontier dedup is in the step and the final MIN(hop) collapses
    re-visits — each node appears at most once per hop level, keeping
    every iteration bounded by |V|, not by path count; measured, the
    recursion joins dominate and pre-caching the edge CTE does not
    move the wall clock). The DataFrame-native BFS with explicit
    partitioning control is q_sssp/q_nhop_reach; this one certifies
    the SQL surface."""
    return bound_sql(spark, sf_dir, _RECURSIVE_REACH_SQL)


@query(
    "q_embedding_norm_stats",
    oracle="""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(ROUND(list_sum(list_transform(
        embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      )) * 1e4) AS BIGINT)) AS BIGINT) AS norm2_q,
      ROUND(SUM(CAST(ROUND(list_sum(list_transform(
        embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      )) * 1e4) AS BIGINT)) / (1e4 * COUNT(*)), 6) AS avg_norm2
    FROM embeddings GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm profile — the vector-column health
    check run before any ANN/dedup pass (unnormalized vectors break
    cosine shortcuts). The per-row squared norm is a JVM-side
    higher-order fold over array<float> (transform + aggregate — no
    Python, no shuffle), left-to-right like DuckDB's list_sum, cast
    element-wise to double first so both engines square identical
    doubles; each ROW's norm is then quantized to an integer before
    the cross-row sum, which is the order-independent part. One
    partial-aggregable groupBy on label."""
    emb = table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x * x,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_q = F.round(sumsq * 1e4).cast("long")
    return (
        emb.select("label", norm_q.alias("nq"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum("nq").alias("norm2_q"),
        )
        .select(
            "label",
            "n",
            "norm2_q",
            F.round(
                F.col("norm2_q") / (F.lit(1e4) * F.col("n")), 6
            ).alias("avg_norm2"),
        )
    )


@query(
    "q_token_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, u.token AS token, u.pos AS pos FROM (
        SELECT doc_id,
               unnest(list_transform(
                 string_split(lower(text), ' '),
                 (x, i) -> {'token': x, 'pos': i}
               )) AS u
        FROM documents
      )
    ),
    uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM toks GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM toks),
    big AS (
      SELECT a.token AS w1, b.token AS w2,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.token, b.token HAVING COUNT(*) >= 5
    ),
    btot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS b FROM (
        SELECT COUNT(*) AS cnt
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.token, b.token
      )
    )
    SELECT w1, w2, n_pair,
           ROUND(((((CAST(n_pair AS DOUBLE) * (SELECT t FROM tot))
                    / (SELECT b FROM btot)) * (SELECT t FROM tot))
                  / u1.n_tok) / u2.n_tok, 4) AS pmi_lift
    FROM big
    JOIN uni u1 ON u1.token = w1
    JOIN uni u2 ON u2.token = w2
    """,
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise-mutual-information LIFT
    p(w1,w2)/(p(w1)p(w2)) for every adjacent token bigram occurring
    >= 5 times — the statistic behind phrase/merge-rule discovery in
    tokenizer training (reported as the raw lift ratio, not its log:
    monotone-equivalent and free of transcendental parity concerns).
    Scale shape: bigram formation happens INSIDE each document's
    token array (transform + explode over adjacent elements) — a pure
    map-side operation with NO self-join and no shuffle before the
    (w1, w2) count aggregate; unigram totals join back onto the >= 5
    survivors only. The oracle restates bigrams as the classic
    positional self-join, which is the plan the array form avoids.
    The lift is one fixed-shape double expression over integer
    counts, identical in both engines."""
    docs = table(spark, sf_dir, "documents")
    from oarphpy_spark.functions.text import norm_tokens

    toks_arr = docs.select(norm_tokens(F.col("text")).alias("toks"))
    uni = (
        toks_arr.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_tok"))
    )
    tot = toks_arr.agg(F.sum(F.size("toks")).alias("t"))
    # Bigrams are formed INSIDE the token array (element i paired with
    # element i+1) — a map-side transform+explode, no positional
    # self-join and no shuffle before the (w1, w2) count; the oracle
    # keeps the relational self-join restatement.
    pairs = toks_arr.select(
        F.explode(
            F.transform(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                lambda x, i: F.struct(
                    x.alias("w1"),
                    F.element_at(F.col("toks"), i + 2).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big_all = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    btot = big_all.agg(F.sum("n_pair").alias("b"))
    big = big_all.filter(F.col("n_pair") >= 5)
    u1 = uni.select(
        F.col("token").alias("w1"), F.col("n_tok").alias("n1")
    )
    u2 = uni.select(
        F.col("token").alias("w2"), F.col("n_tok").alias("n2")
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.col("n_pair").cast("double")
                * F.col("t")
                / F.col("b")
                * F.col("t")
                / F.col("n1")
                / F.col("n2"),
                4,
            ).alias("pmi_lift"),
        )
    )


@query(
    "q_grouped_linreg",
    oracle="""
    WITH g AS (
      SELECT (SELECT MIN(epoch_us(ts)) FROM events) AS t0
    ), q AS (
      SELECT event_type,
             (epoch_us(ts) - (SELECT t0 FROM g)) // 60000000 AS x,
             CAST(ROUND(value * 1e3) AS BIGINT) AS y
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
      ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            / 1e3, 6) AS slope_per_min,
      ROUND(sy / (1e3 * n)
            - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              / 1e3 * (sx / CAST(n AS DOUBLE)), 6) AS intercept
    FROM s
    """,
)
def q_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ordinary-least-squares trend of value over time
    (is the metric drifting, per segment?) computed ENTIRELY from
    sufficient statistics: one partial-aggregable groupBy collecting
    (n, Σx, Σy, Σxy, Σx²) as exact integers — x in whole minutes from
    the corpus start, y milli-quantized, ranges chosen so Σx² stays in
    int64 at 100x this data — then slope and intercept as one shared
    double expression over the 5-row aggregate. The regression over a
    100 TB table costs exactly one aggregation pass; nothing iterates,
    nothing collects."""
    ev = table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.unix_micros("ts")).alias("t0"))
    q = ev.crossJoin(F.broadcast(t0)).select(
        "event_type",
        F.expr(
            "CAST((unix_micros(ts) - t0) DIV 60000000 AS BIGINT)"
        ).alias("x"),
        F.round(F.col("value") * 1e3).cast("long").alias("y"),
    )
    s = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (
        (nd * F.col("sxy") - sxd * F.col("sy"))
        / (nd * F.col("sxx") - sxd * F.col("sx"))
        / F.lit(1e3)
    )
    intercept = F.col("sy") / (F.lit(1e3) * F.col("n")) - slope * (
        F.col("sx") / nd
    )
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_min"),
        F.round(intercept, 6).alias("intercept"),
    )


@query(
    "q_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT epoch_us(h) AS bar_start_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM r GROUP BY h
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over the event stream — the canonical
    downsampling rollup for metric/financial feeds. Open/close are
    ORDERED aggregates expressed as min_by/max_by on a (ts, event_id)
    struct key (event_id breaks exact-timestamp ties
    deterministically), which partial-aggregates — each map task
    forwards one candidate per bar, no sort, no window — while the
    oracle restates them as row_number picks. High/low/volume are
    plain partial aggregates. One shuffle on the bar key; values are
    single picked doubles (no cross-row float sums), so no rounding
    is needed for parity."""
    ev = table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(h.alias("h")).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close_v"),
        F.count("*").alias("volume"),
    ).select(
        F.unix_micros("h").alias("bar_start_us"),
        "open",
        "high",
        "low",
        "close_v",
        "volume",
    )


@query(
    "q_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts + INTERVAL 30 MINUTE) AS e
      FROM events
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), numbered AS (
      SELECT *, SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), islands AS (
      SELECT user_id, island,
             MIN(s) AS island_s, MAX(e) AS island_e
      FROM numbered GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(island_e - island_s) AS BIGINT) AS covered_us,
           CAST(COUNT(*) AS BIGINT) AS n_islands
    FROM islands GROUP BY user_id
    """,
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: each event opens a 30-minute activity
    interval; per user, the total UNION length (overlaps merged) and
    the number of disjoint activity islands — the 'how much wall-clock
    was this user active' metric that naive SUM(duration) inflates
    wherever intervals overlap. The classic sweep, relationalized: a
    running MAX of interval ends (prior rows only) marks island
    starts, a running SUM numbers islands, one aggregate per island,
    one per user — three frame-bounded windows and two
    partial-aggregable groupBys, all keyed on user_id, ONE shuffle
    total (every window and groupBy shares the user_id partitioning).
    All arithmetic in integer epoch-µs."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        F.unix_micros(
            F.col("ts") + F.expr("INTERVAL 30 MINUTES")
        ).alias("e"),
    )
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max_e = F.max("e").over(w_prior)
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0).alias("new_island"),
    )
    numbered = flagged.withColumn(
        "island", F.sum("new_island").over(w_run)
    )
    islands = numbered.groupBy("user_id", "island").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    return islands.groupBy("user_id").agg(
        F.sum(F.col("island_e") - F.col("island_s")).alias("covered_us"),
        F.count("*").alias("n_islands"),
    )


@query(
    "q_embedding_covariance",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1e4) AS BIGINT)
             ) AS qv
      FROM embeddings
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
    el AS (
      SELECT vec_id, u.i AS i, u.v AS v FROM (
        SELECT vec_id,
               unnest(list_transform(
                 qv, (x, k) -> {'i': k - 1, 'v': x}
               )) AS u
        FROM q
      )
    ),
    marg AS (SELECT i, CAST(SUM(v) AS BIGINT) AS s FROM el GROUP BY i),
    pair AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS s_ij
      FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT p.i, p.j, p.s_ij,
           ROUND(
             (CAST(p.s_ij AS DOUBLE)
              - CAST(ma.s AS DOUBLE) * CAST(mb.s AS DOUBLE)
                / (SELECT n FROM tot))
             / ((SELECT n FROM tot) - 1) / 1e8, 8) AS cov
    FROM pair p
    JOIN marg ma ON ma.i = p.i
    JOIN marg mb ON mb.i = p.j
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT covariance matrix of the embedding corpus (upper
    triangle, d(d+1)/2 rows) — the one-pass sufficient-statistics
    shape behind PCA/whitening at corpus scale. Engine side:
    ``llm/embeddings.covariance_partials`` computes one numpy int64
    Gram matrix PER ARROW BATCH (a single matmul — vectorized, no
    Python loop) and ships O(batches x d^2) integer partial rows;
    integer quantization before any arithmetic makes the partials
    combine exactly, so the distributed sum is bit-equal to the
    oracle's O(rows x d^2) element self-join — the plan the batch
    decomposition exists to avoid. The covariance itself is one
    shared double expression over exact integer sums."""
    from oarphpy_spark.llm.embeddings import covariance_partials

    emb = table(spark, sf_dir, "embeddings")
    sums = covariance_partials(emb, "embedding", scale=1e4)
    n_df = (
        sums.filter((F.col("i") == -1) & (F.col("j") == -1))
        .select(F.col("s").alias("n"))
    )
    marg = sums.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("mi"), F.col("s").alias("ms")
    )
    pairs = sums.filter(F.col("j") >= 0).select(
        "i", "j", F.col("s").alias("s_ij")
    )
    ma = marg.select(F.col("mi").alias("i"), F.col("ms").alias("s_a"))
    mb = marg.select(F.col("mi").alias("j"), F.col("ms").alias("s_b"))
    return (
        pairs.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(n_df))
        .select(
            "i",
            "j",
            "s_ij",
            F.round(
                (
                    F.col("s_ij").cast("double")
                    - F.col("s_a").cast("double")
                    * F.col("s_b").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
                / F.lit(1e8),
                8,
            ).alias("cov"),
        )
    )


@query(
    "q_funnel_latency",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, epoch_us(ts) AS tsu,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
      FROM events
    ), lat AS (
      SELECT tsu - last_click_us AS latency_us
      FROM marked
      WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(quantile_cont(latency_us, 0.5), 1) AS p50_us,
           ROUND(quantile_cont(latency_us, 0.9), 1) AS p90_us,
           CAST(MAX(latency_us) AS BIGINT) AS max_us
    FROM lat
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase conversion latency: for every purchase, the
    time since the same user's most recent PRIOR click (a conditional
    running MAX over the user's ordered history — no self-join, no
    per-pair expansion), then exact p50/p90/max over the integer-µs
    latencies. One shuffle on user_id for the window; the percentile
    runs over one latency row per conversion. Spark's exact
    percentile and DuckDB's quantile_cont both interpolate linearly,
    and the inputs are exact integers, so the quantiles agree to the
    rounded decimal."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    ).over(w)
    lat = (
        ev.select(
            "event_type",
            F.unix_micros("ts").alias("tsu"),
            last_click.alias("last_click_us"),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_us").isNotNull()
        )
        .select((F.col("tsu") - F.col("last_click_us")).alias("latency_us"))
    )
    return lat.agg(
        F.count("*").alias("n_conversions"),
        F.round(F.percentile("latency_us", F.lit(0.5)), 1).alias("p50_us"),
        F.round(F.percentile("latency_us", F.lit(0.9)), 1).alias("p90_us"),
        F.max("latency_us").alias("max_us"),
    )


@query(
    "q_hll_relational",
    oracle="""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv
      FROM documents
    ), reg AS (
      SELECT hv % 256 AS bucket,
             CASE WHEN hv // 256 = 0 THEN 53
                  ELSE 53 - length(to_base(hv // 256, 2)) END AS rho
      FROM h
    ), occ AS (SELECT bucket, MAX(rho) AS mb FROM reg GROUP BY bucket),
    full_reg AS (
      SELECT g.range AS bucket, COALESCE(occ.mb, 0) AS mb
      FROM range(256) g LEFT JOIN occ ON occ.bucket = g.range
    ), s AS (
      SELECT CAST(SUM(CAST(CAST(2 AS BIGINT) ** (60 - mb)
                           AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS ssum,
             CAST(SUM(CASE WHEN mb = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_empty
      FROM full_reg
    )
    SELECT
      ROUND(0.7213 / (1.0 + 1.079 / 256) * 256 * 256
            * pow(CAST(2 AS DOUBLE), 60) / CAST(ssum AS DOUBLE), 4)
        AS hll_estimate,
      n_empty AS n_empty_registers,
      (SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) FROM documents)
        AS n_exact
    FROM s
    """,
)
def q_hll_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog implemented as a PURE relational plan — no sketch
    library, no UDF, and (because the register assignment is
    deterministic md5 bit-slicing) the estimate ITSELF sits under the
    exact value-hash oracle, unlike engine-native approx sketches
    whose internals differ per engine. Mechanics: 60-bit hash -> low
    8 bits pick one of m=256 registers, the leading-zero rank rho of
    the remaining 52 bits (via the bit-length of its binary string —
    no log2, no float) max-aggregates per register — ONE
    partial-aggregable groupBy whose shuffle carries at most m rows
    per map task regardless of input size, which is the whole point
    of HLL at 100 TB. The harmonic denominator is an EXACT decimal
    sum of the dyadic terms 2^(60-M); the raw estimate
    alpha * m^2 / sum(2^-M) follows as one shared double expression.
    Raw HLL only (no small/large-range corrections — those need ln;
    n_empty_registers is reported so a caller can apply linear
    counting); the exact distinct count rides along for calibration
    (documents carry duplicates by construction)."""
    docs = table(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15),
                16, 10).cast("long")
    # hi == (hv div 256) * 256 exactly, so when hi > 0 the bit length
    # of (hv div 256) is length(bin(hi)) - 8 — pure integer ops, no
    # division anywhere near the 2^52 double-precision edge.
    hi = hv - (hv % 256)
    reg = docs.select(
        (hv % 256).alias("bucket"),
        F.when(hi == 0, F.lit(53))
        .otherwise(F.lit(61) - F.length(F.bin(hi)))
        .alias("rho"),
    )
    occ = reg.groupBy("bucket").agg(F.max("rho").alias("mb"))
    full_reg = (
        spark.range(256).select(F.col("id").alias("bucket"))
        .join(F.broadcast(occ), "bucket", "left")
        .select(F.coalesce("mb", F.lit(0)).alias("mb"))
    )
    s = full_reg.agg(
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 60 - mb) "
                   "AS DECIMAL(38,0))")
        ).cast("decimal(38,0)").alias("ssum"),
        F.sum(F.when(F.col("mb") == 0, 1).otherwise(0))
        .cast("long").alias("n_empty"),
    )
    n_exact = docs.agg(
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias(
            "n_exact"
        )
    )
    est = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / 256)
        * 256
        * 256
        * F.pow(F.lit(2.0), 60)
        / F.col("ssum").cast("double")
    )
    return s.crossJoin(F.broadcast(n_exact)).select(
        F.round(est, 4).alias("hll_estimate"),
        F.col("n_empty").alias("n_empty_registers"),
        "n_exact",
    )


@query(
    "q_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, session_id
               ORDER BY ts, event_id) AS rn
      FROM numbered
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM ranked WHERE rn <= 5
      GROUP BY user_id, session_id
    ), counted AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY path
    )
    SELECT path, n_sessions FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY n_sessions DESC, path) AS rk
      FROM counted
    ) WHERE rk <= 20
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journey prefixes: sessionize per user (30-min
    gap), take each session's first <= 5 event types IN ORDER, count
    identical paths — the lightweight sequence-pattern pass behind
    'what do users actually do' funnels, bounded at prefix length 5
    so path cardinality can't explode. All ordering is pinned by
    (ts, event_id), so the path strings are deterministic. Engine
    side builds the ordered path with sort_array over collected
    (ts, event_id, type) structs — lexicographic struct sort equals
    the SQL ORDER BY — then one count aggregate and a
    TakeOrderedAndProject for the top 20 (ties broken by path)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap.isNull() | (gap > 30 * 60), 1
        ).otherwise(0).alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ranked = numbered.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy(
                "ts", "event_id"
            )
        ),
    ).filter(F.col("rn") <= 5)
    paths = ranked.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").alias("n_sessions")
    )
    return counted.orderBy(
        F.col("n_sessions").desc(), "path"
    ).limit(20)


@query(
    "q_pi_deterministic",
    oracle="""
    WITH pts AS (
      SELECT CAST(('0x' || substr(md5(CAST(range AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM range(100000)
    ), xy AS (
      SELECT h % 1073741824 AS x, h // 1073741824 AS y FROM pts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN x * x + y * y
                              < CAST(1073741824 AS BIGINT)
                                * 1073741824
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
           ROUND(4.0 * SUM(CASE WHEN x * x + y * y
                                     < CAST(1073741824 AS BIGINT)
                                       * 1073741824
                                THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS pi_est
    FROM xy
    """,
)
def q_pi_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo pi with HASH-DERIVED uniforms — the exact-oracle
    twin of the reference-fidelity q_monte_carlo_pi (reference
    `oarphpy_test/test_spark.py` estimates pi with RDD-parallelized
    random darts, which no second engine can replay). Each index i in
    range(100k) hashes to a 60-bit value split into two 30-bit
    coordinates; the in-circle test is pure integer arithmetic, so
    both engines count the identical dart set and the estimate itself
    hash-checks (the DOULION trick from q_triangle_count_sampled
    applied to the reference's own demo). Embarrassingly parallel:
    range -> project -> one aggregate, no shuffle beyond the final
    1-row combine."""
    r = spark.range(100000)
    h = F.conv(
        F.substring(F.md5(F.col("id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    two30 = 1 << 30
    xy = r.select((h % two30).alias("x"), (h - h % two30).alias("ys"))
    # ys = y * 2^30 exactly; compare x^2 + y^2 < 2^60 using y = ys/2^30
    # without division: x*x + (ys/2^30)^2 < 2^60  <=>
    # x*x * 2^60 + ys*ys < 2^120 — overflows; instead recover y by
    # integer arithmetic (ys is a multiple of 2^30, exact in long).
    y = (F.col("ys") / two30).cast("long")
    inside = F.when(
        F.col("x") * F.col("x") + y * y < F.lit(two30).cast("long") * two30,
        1,
    ).otherwise(0)
    return xy.agg(
        F.count("*").alias("n"),
        F.sum(inside).cast("long").alias("n_inside"),
        F.round(
            F.lit(4.0) * F.sum(inside) / F.count("*"), 6
        ).alias("pi_est"),
    )


@query(
    "q_udtf_chunks",
    oracle="""
    WITH ch AS (
      SELECT doc_id, text,
             unnest(generate_series(
               1, greatest(length(text), 1), 160)) AS s
      FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) // 160 AS BIGINT) AS chunk_idx,
           CAST(length(substr(text, s, 200)) AS BIGINT) AS chunk_len,
           md5(substr(text, s, 200)) AS chunk_hash
    FROM ch
    """,
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-window chunking (200-char windows, 160-char stride)
    through Spark 4's PYTHON UDTF surface — the table-function API
    for one-row-to-many-rows Python logic, registered and invoked
    via LATERAL in SQL. The UDTF runs Arrow-batched per partition
    (scales like any map-side op: no shuffle until a downstream agg),
    and because the chunk boundaries and hashes are deterministic
    string arithmetic, the whole expansion sits under the exact
    oracle — which restates it with generate_series + substr, the
    pure-SQL plan you'd prefer when the per-chunk logic IS
    SQL-expressible (the UDTF earns its keep when it isn't:
    tokenizers, format-aware splitters). Sibling of the SQL-native
    token chunker q_doc_chunking."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx long, chunk_len long, chunk_hash string")
    class ChunkDoc:
        def eval(self, text: str):
            import hashlib

            if text is None:
                return
            # Always at least one chunk (empty text -> one empty
            # chunk), matching generate_series(1, greatest(len, 1)).
            n = len(text)
            i = 0
            while True:
                chunk = text[i * 160 : i * 160 + 200]
                yield (
                    i,
                    len(chunk),
                    hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                )
                i += 1
                if i * 160 >= n:
                    break

    spark.udtf.register("oarphpy_chunk_doc", ChunkDoc)
    return bound_sql(
        spark,
        sf_dir,
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_len, c.chunk_hash
        FROM {documents} d, LATERAL oarphpy_chunk_doc(d.text) c
        """,
    )


@query(
    "q_histogram_2d",
    oracle="""
    SELECT CAST(least(floor(l_quantity / 10), 4) AS BIGINT) AS qty_bin,
           CAST(least(floor(l_discount * 20), 4) AS BIGINT) AS disc_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (quantity x discount, 5x5 fixed grid with
    closed top bins) weighted by revenue — the joint-distribution
    extension of the reference's 1-D ``df_histogram``
    (reference ``oarphpy/plotting.py:97-166``), which is the heatmap
    input for the same plotting layer. ONE aggregation pass: the
    grid keys are pure column expressions, so partial aggregation
    collapses to at most 25 rows per map task regardless of input
    size — the property that makes fixed-grid histograms the right
    first look at any 100 TB joint distribution (quantile-adaptive
    binning needs a second pass, see q_histogram)."""
    li = table(spark, sf_dir, "lineitem")
    qty_bin = F.least(
        F.floor(F.col("l_quantity") / 10), F.lit(4)
    ).cast("long")
    disc_bin = F.least(
        F.floor(F.col("l_discount") * 20), F.lit(4)
    ).cast("long")
    return li.groupBy(
        qty_bin.alias("qty_bin"), disc_bin.alias("disc_bin")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "q_mann_whitney",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    hist AS (
      SELECT x,
             CAST(SUM(g) AS BIGINT) AS n1v,
             CAST(COUNT(*) AS BIGINT) AS nv
      FROM v GROUP BY x
    ),
    ranked AS (
      SELECT x, n1v, nv,
             COALESCE(SUM(nv) OVER (ORDER BY x
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS below
      FROM hist
    ),
    s AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(nv - n1v) AS BIGINT) AS n2,
             CAST(SUM(n1v * (2 * (below + 1) + nv - 1)) AS BIGINT) AS r1x2
      FROM ranked
    )
    SELECT n1, n2,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           ROUND(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
                 / (2.0 * n1 * n2), 6) AS auc
    FROM s
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing click vs purchase
    values — the nonparametric two-sample test that completes the
    repo's classical-stats family (chi-square, Welch t, KS drift).
    NO global sort: rows collapse to a value HISTOGRAM first, midranks
    come from a running sum over the tiny distinct-value relation
    (midrank x2 = 2(1 + #below) + ties - 1, integer exact — the
    doubled-rank trick keeps tie-averaged ranks out of floats), and
    the rank-sum is one weighted integer aggregate. U/(n1 n2) is also
    the two-sample AUC, reported as the effect size with ONE final
    division. Scale shape: one data-sized groupBy(value), then
    window+agg over distinct values only — the classic rank-statistic
    rewrite that survives 100 TB where rank() OVER (ORDER BY v) on
    rows (single-partition window) does not."""
    v = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            F.round(F.col("value") * 100).cast("long").alias("x"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    hist = v.groupBy("x").agg(
        F.sum("g").alias("n1v"), F.count("*").alias("nv")
    )
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = hist.select(
        "x",
        "n1v",
        "nv",
        F.coalesce(F.sum("nv").over(w), F.lit(0)).alias("below"),
    )
    s = ranked.agg(
        F.sum("n1v").alias("n1"),
        F.sum(F.col("nv") - F.col("n1v")).alias("n2"),
        F.sum(
            F.col("n1v")
            * (2 * (F.col("below") + 1) + F.col("nv") - 1)
        ).alias("r1x2"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    return s.select(
        "n1",
        "n2",
        u1x2.alias("u1_x2"),
        F.round(
            u1x2.cast("double") / (2.0 * F.col("n1") * F.col("n2")), 6
        ).alias("auc"),
    )


_HLL_ALPHA = "0.7213 / (1.0 + 1.079 / 256) * 256 * 256"


@query(
    "q_hll_merge",
    oracle=f"""
    WITH reg AS (
      SELECT source, hv % 256 AS bucket,
             CASE WHEN hv // 256 = 0 THEN 53
                  ELSE 53 - length(to_base(hv // 256, 2)) END AS rho
      FROM (
        SELECT source,
               CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv
        FROM documents
      )
    ),
    per_shard AS (
      SELECT source, bucket, MAX(rho) AS mb FROM reg
      GROUP BY source, bucket
    ),
    merged_occ AS (
      SELECT bucket, MAX(mb) AS mb FROM per_shard GROUP BY bucket
    ),
    direct_occ AS (
      SELECT bucket, MAX(rho) AS mb FROM reg GROUP BY bucket
    ),
    ms AS (
      SELECT CAST(SUM(CAST(CAST(2 AS BIGINT) ** (60 - COALESCE(o.mb, 0))
                           AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS ssum
      FROM range(256) g LEFT JOIN merged_occ o ON o.bucket = g.range
    ),
    ds AS (
      SELECT CAST(SUM(CAST(CAST(2 AS BIGINT) ** (60 - COALESCE(o.mb, 0))
                           AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS ssum
      FROM range(256) g LEFT JOIN direct_occ o ON o.bucket = g.range
    )
    SELECT
      ROUND({_HLL_ALPHA} * pow(CAST(2 AS DOUBLE), 60)
            / CAST((SELECT ssum FROM ms) AS DOUBLE), 4) AS hll_merged,
      ROUND({_HLL_ALPHA} * pow(CAST(2 AS DOUBLE), 60)
            / CAST((SELECT ssum FROM ds) AS DOUBLE), 4) AS hll_direct,
      CASE WHEN (SELECT ssum FROM ms) = (SELECT ssum FROM ds)
           THEN 1 ELSE 0 END AS merged_equals_direct,
      (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents)
        AS n_shards
    """,
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGE ALGEBRA, value-hash-certified: build one register
    table per shard (the 20 document sources standing in for 20
    ingest partitions / days), merge them by register-wise MAX, and
    prove the merged estimate equals the direct single-pass estimate
    EXACTLY — max commutes with max, the algebraic fact that lets a
    100 TB pipeline sketch each partition independently and union
    later (and lets a rollup store per-day sketches instead of raw
    ids). Same md5 bit-slice registers as q_hll_relational, so the
    certificate (merged_equals_direct = 1) and both estimates sit
    under the exact oracle. Scale shape: the per-shard pass is one
    partial-aggregable groupBy(shard, bucket) carrying <= shards x
    256 rows; the merge is a 256-group MAX."""
    docs = table(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    reg = docs.select(
        "source",
        (hv % 256).alias("bucket"),
        F.when(F.floor(hv / 256) == 0, F.lit(53))
        .otherwise(53 - F.length(F.conv(F.floor(hv / 256), 10, 2)))
        .alias("rho"),
    )
    per_shard = reg.groupBy("source", "bucket").agg(
        F.max("rho").alias("mb")
    )
    merged_occ = per_shard.groupBy("bucket").agg(F.max("mb").alias("mb"))
    direct_occ = reg.groupBy("bucket").agg(F.max("rho").alias("mb"))
    buckets = spark.range(256).select(F.col("id").alias("bucket"))

    def ssum(occ: DataFrame) -> DataFrame:
        return (
            buckets.join(occ, "bucket", "left")
            .select(
                F.pow(F.lit(2.0), 60 - F.coalesce("mb", F.lit(0)))
                .cast("decimal(38,0)")
                .alias("term")
            )
            .agg(F.sum("term").alias("ssum"))
        )

    ms = ssum(merged_occ).select(F.col("ssum").alias("ssum_m"))
    ds = ssum(direct_occ).select(F.col("ssum").alias("ssum_d"))
    alpha_m2 = 0.7213 / (1.0 + 1.079 / 256) * 256 * 256
    n_shards = docs.agg(
        F.countDistinct("source").alias("n_shards")
    )
    return (
        ms.crossJoin(F.broadcast(ds))
        .crossJoin(F.broadcast(n_shards))
        .select(
            F.round(
                alpha_m2 * (2.0**60) / F.col("ssum_m").cast("double"), 4
            ).alias("hll_merged"),
            F.round(
                alpha_m2 * (2.0**60) / F.col("ssum_d").cast("double"), 4
            ).alias("hll_direct"),
            F.when(F.col("ssum_m") == F.col("ssum_d"), 1)
            .otherwise(0)
            .alias("merged_equals_direct"),
            "n_shards",
        )
    )


@query(
    "q_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT r,
             ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM rev
    ),
    s AS (
      SELECT MAX(n) AS n,
             CAST(SUM(r) AS HUGEINT) AS total,
             CAST(SUM(CAST(i AS HUGEINT) * r) AS HUGEINT) AS weighted,
             CAST(SUM(CASE WHEN i > n - n // 100
                           THEN r ELSE 0 END) AS HUGEINT) AS top_pct
      FROM ranked
    )
    SELECT n AS n_customers,
           ROUND(CAST(2 * weighted AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini,
           ROUND(CAST(top_pct AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS top1pct_share
    FROM s
    """,
)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Gini coefficient and the top-1%
    share of per-customer order revenue — the inequality profile that
    decides whether a pipeline needs skew handling at all (Gini near
    1 = a handful of keys carry the table). Gini from the
    rank-weighted identity G = 2 SUM(i * x_(i)) / (n SUM(x)) -
    (n+1)/n over centi-quantized integer revenues. The global rank
    over the AGGREGATED per-customer relation is the two-level
    distributed row-number (operators/prefix.py): range-bucket on the
    revenue value, per-bucket rank in parallel, tiny broadcast offset
    table — NO single-task global window, so the rank parallelizes
    even when "customers" is itself a billion-key relation. Ties on r
    share a bucket by construction, so the o_custkey tie-break stays
    bucket-local and globally consistent. 128-bit rank-weighted sum;
    two divisions at the end."""
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("r")
        )
    )
    ranked = with_global_row_number(
        rev, ["r", "o_custkey"], out="i", total_col="n"
    ).select("r", "i", "n")
    s = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("r").cast("decimal(38,0)")).alias("total"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("r")
        ).alias("weighted"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.floor(F.col("n") / 100),
                F.col("r"),
            )
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("top_pct"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(
            (2 * F.col("weighted")).cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(
            F.col("top_pct").cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("top1pct_share"),
    )


@query(
    "q_session_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS ni,
             CAST(ROUND(1e6 * COUNT(*) * ln(COUNT(*))) AS BIGINT)
               AS term_micro
      FROM events GROUP BY user_id, event_type
    ),
    per_user AS (
      SELECT user_id,
             CAST(ROUND(1e6 * (ln(SUM(ni))
                 - CAST(SUM(term_micro) AS DOUBLE)
                   / (1e6 * SUM(ni)))) AS BIGINT) AS h_micro
      FROM c GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(h_micro) AS DOUBLE) / (1e6 * COUNT(*)), 4)
             AS avg_entropy,
           ROUND(CAST(MAX(h_micro) AS DOUBLE) / 1e6, 4) AS max_entropy
    FROM per_user
    """,
)
def q_session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix (nats), averaged
    over users — the behavioral-diversity metric (0 = single-type
    bots, ln(5) = uniform mix) that complements the PMI collocation
    and drift queries on the information-theory axis. The discipline
    is quantize-before-every-cross-row-sum, twice: n*ln(n) terms are
    micro-quantized per (user, type) row before the per-user sum
    (identical IEEE ln per row; integer sums are order-free), and
    each user's entropy is micro-quantized before the corpus
    average. Two partial-aggregable groupBys, no joins, no windows."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("ni")
    ).select(
        "user_id",
        "ni",
        F.round(1e6 * F.col("ni") * F.log(F.col("ni")))
        .cast("long")
        .alias("term_micro"),
    )
    per_user = c.groupBy("user_id").agg(
        F.round(
            1e6
            * (
                F.log(F.sum("ni"))
                - F.sum("term_micro").cast("double")
                / (1e6 * F.sum("ni"))
            )
        )
        .cast("long")
        .alias("h_micro")
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum("h_micro").cast("double") / (1e6 * F.count("*")), 4
        ).alias("avg_entropy"),
        F.round(F.max("h_micro").cast("double") / 1e6, 4).alias(
            "max_entropy"
        ),
    )


@query(
    "q_heavy_hitters_mergeable",
    oracle="""
    WITH tok AS (
      SELECT doc_id % 8 AS shard,
             unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), cnt AS (
      SELECT shard, token, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY shard, token
    ), ranked AS (
      SELECT shard, token, n,
             ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY n DESC, token
             ) AS rk
      FROM cnt
    ), summ AS (SELECT shard, token, n FROM ranked WHERE rk <= 16),
    resid AS (
      SELECT shard,
             COALESCE(MAX(CASE WHEN rk > 16 THEN n END), 0) AS r
      FROM ranked GROUP BY shard
    ),
    tot AS (SELECT SUM(r) AS total_r FROM resid),
    cand AS (
      SELECT token,
             CAST(SUM(s.n) AS BIGINT) AS est_lo,
             CAST(SUM(r.r) AS BIGINT) AS present_r
      FROM summ s JOIN resid r ON s.shard = r.shard
      GROUP BY token
    ),
    exact AS (
      SELECT token, CAST(SUM(n) AS BIGINT) AS exact_n
      FROM cnt WHERE token IN (SELECT token FROM cand)
      GROUP BY token
    ),
    merged AS (
      SELECT c.token, c.est_lo,
             CAST(c.est_lo + t.total_r - c.present_r AS BIGINT) AS est_hi,
             e.exact_n
      FROM cand c CROSS JOIN tot t JOIN exact e ON c.token = e.token
    )
    SELECT token, est_lo, est_hi, exact_n,
           CAST(exact_n BETWEEN est_lo AND est_hi AS BIGINT) AS in_bounds
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY est_lo DESC, token) AS rk
      FROM merged
    ) WHERE rk <= 10
    ORDER BY est_lo DESC, token
    """,
)
def q_heavy_hitters_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitters summary — the SpaceSaving/Misra-Gries
    ALGEBRA restated relationally so the sketch itself value-hashes:
    each of 8 deterministic shards (doc_id % 8, standing in for data
    partitions) ships only its exact top-16 (count, token) rows plus
    one residual bound r_s = the largest count it DROPPED; the merge
    scores every shipped candidate with a certain lower bound (sum
    of counts where present) and an upper bound (+ r_s for every
    shard where absent, restated as total_r - present_r so no
    candidate x shard grid is materialized). The output carries the
    exact count and an in_bounds certificate per row — the driver
    hash therefore pins the summary's ERROR GUARANTEE, not just its
    ranking. This is the communication pattern that finds heavy
    hitters at 100 TB with k rows per partition instead of a full
    token shuffle; the same merge is associative across any shard
    tree. All-integer arithmetic."""
    from oarphpy_spark.functions.text import norm_tokens

    docs = table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            (F.col("doc_id") % 8).alias("shard"),
            F.explode(norm_tokens(F.col("text"))).alias("token"),
        )
        .groupBy("shard", "token")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    w = Window.partitionBy("shard").orderBy(F.desc("n"), "token")
    ranked = cnt.withColumn("rk", F.row_number().over(w))
    summ = ranked.filter(F.col("rk") <= 16).select("shard", "token", "n")
    resid = ranked.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") > 16, F.col("n"))), F.lit(0)
        ).alias("r")
    )
    cand = (
        summ.join(resid, "shard")
        .groupBy("token")
        .agg(
            F.sum("n").alias("est_lo"),
            F.sum("r").alias("present_r"),
        )
    )
    exact = (
        cnt.join(cand.select("token"), "token", "left_semi")
        .groupBy("token")
        .agg(F.sum("n").alias("exact_n"))
    )
    # total residual is ONE row — the broadcast-of-one-row crossJoin
    # idiom (constant-size, never a data-scale cartesian).
    tot = resid.agg(F.sum("r").alias("total_r"))
    merged = (
        cand.crossJoin(F.broadcast(tot))
        .join(exact, "token")
        .select(
            "token",
            "est_lo",
            (F.col("est_lo") + F.col("total_r") - F.col("present_r"))
            .cast("bigint")
            .alias("est_hi"),
            "exact_n",
        )
    )
    top = (
        merged.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("est_lo"), "token")
            ),
        )
        .filter(F.col("rk") <= 10)
        .select(
            "token",
            "est_lo",
            "est_hi",
            "exact_n",
            (
                (F.col("exact_n") >= F.col("est_lo"))
                & (F.col("exact_n") <= F.col("est_hi"))
            )
            .cast("bigint")
            .alias("in_bounds"),
        )
        .orderBy(F.desc("est_lo"), "token")
    )
    out = truncate_lineage(top)
    cnt.unpersist()
    return out


@query(
    "q_seasonality_index",
    oracle="""
    WITH base AS (
      SELECT isodow(ts) - 1 AS dow, EXTRACT(hour FROM ts) AS hod,
             CAST(ROUND(value * 100) AS BIGINT) AS cv
      FROM events
    ), cell AS (
      SELECT dow, hod, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cv) AS BIGINT) AS sum_cv
      FROM base GROUP BY dow, hod
    ), tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS n_tot,
             CAST(SUM(sum_cv) AS HUGEINT) AS cv_tot
      FROM cell
    )
    SELECT dow, hod, n,
           ROUND(CAST(CAST(sum_cv AS HUGEINT) * n_tot AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * cv_tot AS DOUBLE), 6)
             AS idx
    FROM cell CROSS JOIN tot
    ORDER BY dow, hod
    """,
)
def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile: each (weekday, hour) cell's
    average order value as a RATIO to the overall average — the
    multiplicative seasonal index a forecasting pipeline divides out
    before trend fitting. The ratio is restated as
    (cell_sum * total_n) / (cell_n * total_sum): both products are
    exact 128-bit integers (the weighted-sum overflow class the
    sf1.0 smoke catches — bilinears of a sum and a count overflow
    int64 long before either factor does), and the single division
    is the only IEEE op. The grand total is a one-row broadcast
    crossJoin; the cell table is at most 168 rows, so everything
    after the one data-scale groupBy is constant-size."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        F.weekday("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    cell = base.groupBy("dow", "hod").agg(
        F.count("*").alias("n"), F.sum("cv").alias("sum_cv")
    )
    tot = cell.agg(
        F.sum("n").cast("decimal(38,0)").alias("n_tot"),
        F.sum("sum_cv").cast("decimal(38,0)").alias("cv_tot"),
    )
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            "n",
            F.round(
                (
                    F.col("sum_cv").cast("decimal(38,0)") * F.col("n_tot")
                ).cast("double")
                / (
                    F.col("n").cast("decimal(38,0)") * F.col("cv_tot")
                ).cast("double"),
                6,
            ).alias("idx"),
        )
        .orderBy("dow", "hod")
    )


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ), st AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS s
      FROM daily GROUP BY event_type
    ), dev AS (
      SELECT daily.event_type, d,
             SUM(st.n * daily.x - st.s) OVER (
               PARTITION BY daily.event_type ORDER BY d
             ) AS cusum
      FROM daily JOIN st ON daily.event_type = st.event_type
    ), pick AS (
      SELECT event_type, d, ABS(cusum) AS a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY ABS(cusum) DESC, d
             ) AS rk
      FROM dev
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS cp_day,
           CAST(a AS BIGINT) AS max_abs_cusum
    FROM pick WHERE rk = 1 ORDER BY event_type
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type — the day where the
    cumulative deviation from the series mean peaks, the classic
    single-changepoint estimator. The deviation is kept INTEGER by
    cross-multiplying out the mean (dev_i = n*x_i - S instead of
    x_i - S/n), accumulated in 128-bit (an n*x bilinear of daily
    totals breaks int64 at fleet scale — the overflow class the
    sf1.0 smoke exists to catch), so the running window sum is exact
    and the argmax is bit-deterministic with an earliest-day
    tiebreak. One data-scale groupBy to daily totals; everything
    after runs on |types| x |days| rows with per-type windows."""
    ev = table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cv").alias("x"))
    )
    st = daily.groupBy("event_type").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    dev = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "d",
        F.sum(
            F.col("n") * F.col("x").cast(d38) - F.col("s")
        )
        .over(w)
        .alias("cusum"),
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "d"
    )
    return (
        dev.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("cp_day"),
            F.abs(F.col("cusum")).cast("bigint").alias("max_abs_cusum"),
        )
        .orderBy("event_type")
    )


@query(
    "q_holt_linear",
    oracle="""
    WITH q AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 1e3) AS BIGINT) AS v
      FROM events
    ), arr AS (
      SELECT user_id, list(v ORDER BY event_id) AS a
      FROM q GROUP BY user_id
    ), tail16 AS (
      SELECT user_id,
             a[greatest(len(a) - 15, 1):len(a)] AS vs
      FROM arr
    ), fold AS (
      -- state is a [level, trend] LIST, not a struct: DuckDB 1.0's
      -- list_reduce mis-evaluates multi-field STRUCT accumulators
      -- past the second step (verified: 3-step fold reuses the new
      -- level inside the trend field), while list accumulators fold
      -- correctly.
      SELECT user_id, len(vs) AS n,
             list_reduce(
               list_transform(vs,
                 x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)]),
               (a, b) -> [
                 0.5::DOUBLE * b[1] + 0.5::DOUBLE * a[1]
                   + 0.5::DOUBLE * a[2],
                 0.25::DOUBLE * b[1] - 0.25::DOUBLE * a[1]
                   + 0.75::DOUBLE * a[2]]
             ) AS st
      FROM tail16
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_obs,
           ROUND(st[1] / 1e3, 6) AS level,
           ROUND(st[2] / 1e3, 6) AS trend,
           ROUND((st[1] + st[2]) / 1e3, 6) AS forecast_1
    FROM fold ORDER BY user_id
    """,
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha =
    beta = 1/2) over each user's last 16 event values, with a 1-step
    forecast — the recurrence that can't be a window aggregate
    because each state depends on the previous state. It runs as a
    JVM higher-order STRUCT FOLD over an order-pinned array (the
    q_ewma_dyadic idiom generalized from a scalar to a (level,
    trend) accumulator): both engines left-fold the identical
    expression tree over the identical sequence, so every
    intermediate double matches bit-for-bit — the value hash checks
    the whole recurrence, not a rounded summary. One shuffle on
    user_id; no UDF, no iteration, no driver loop."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 1e3).cast("bigint").alias("v"),
    )
    arr = q.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_id, v))),"
            " p -> p.v)"
        ).alias("a")
    )
    tail = arr.select(
        "user_id",
        F.expr("slice(a, greatest(size(a) - 15, 1), 16)").alias("vs"),
    )
    # Same closed-form update as the oracle (nl = b/2 + l/2 + t/2;
    # nt = b/4 - l/4 + 3t/4 — the algebraic expansion of the textbook
    # nested form), written with the identical op shapes so every
    # intermediate double matches the oracle's fold bit-for-bit.
    st = F.expr(
        """
        aggregate(
          slice(vs, 2, size(vs) - 1),
          named_struct('l', CAST(element_at(vs, 1) AS DOUBLE), 't', 0.0D),
          (a, b) -> named_struct(
            'l', 0.5D * CAST(b AS DOUBLE) + 0.5D * a.l + 0.5D * a.t,
            't', 0.25D * CAST(b AS DOUBLE) - 0.25D * a.l + 0.75D * a.t))
        """
    )
    return (
        tail.select(
            "user_id", F.size("vs").cast("bigint").alias("n_obs"), st.alias("st")
        )
        .select(
            "user_id",
            "n_obs",
            F.round(F.col("st.l") / 1e3, 6).alias("level"),
            F.round(F.col("st.t") / 1e3, 6).alias("trend"),
            F.round((F.col("st.l") + F.col("st.t")) / 1e3, 6).alias(
                "forecast_1"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "q_kaplan_meier",
    oracle="""
    WITH span AS (SELECT MAX(ts) AS mx FROM events),
    life AS (
      SELECT user_id,
             CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
                  // 86400000000 AS BIGINT) AS dur,
             CAST(MAX(ts) >= (SELECT mx FROM span) - INTERVAL 3 DAYS
                  AS INTEGER) AS censored
      FROM events GROUP BY user_id
    ),
    at_t AS (
      SELECT dur,
             CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM life GROUP BY dur
    ),
    risk AS (
      SELECT dur, d,
             CAST((SELECT COUNT(*) FROM life) AS BIGINT)
               - CAST(COALESCE(SUM(leaving) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM at_t
    ),
    folded AS (
      SELECT dur, d, n_risk,
             list_reduce(
               list_prepend(CAST(1 AS DOUBLE),
                 list(CAST(n_risk - d AS DOUBLE)
                      / CAST(n_risk AS DOUBLE)) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
               (a, b) -> a * b) AS surv
      FROM risk
    )
    SELECT dur AS duration_days, d AS n_deaths, n_risk,
           ROUND(surv, 6) AS survival
    FROM folded WHERE d > 0 ORDER BY duration_days
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over user lifetimes (first to
    last event, in days), with RIGHT-CENSORING: users still active in
    the final 3 days of the data are censored, not dead — the
    distinction that makes KM different from 1 - ECDF and that naive
    retention curves get wrong. S(t) = prod_{t_i <= t} (1 - d_i/n_i)
    over death times, computed as an ordered-array FOLD of per-time
    hazard factors (the running-product analogue of the Holt fold;
    both engines left-multiply the identical factor sequence, so
    every intermediate double matches). The curve table is bounded
    by distinct durations, so the fold arrays are tiny; the only
    data-scale work is the per-user min/max aggregation — one
    shuffle. Risk sets via a lagged cumulative count, exact
    integers."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(F.max("ts").alias("mx"))
    life = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .crossJoin(F.broadcast(span))
        .select(
            (
                (F.unix_micros("hi") - F.unix_micros("lo"))
                / F.lit(86400000000)
            )
            .cast("bigint")
            .alias("dur"),
            (
                F.col("hi")
                >= F.col("mx") - F.expr("INTERVAL 3 DAYS")
            )
            .cast("int")
            .alias("censored"),
        )
    )
    at_t = life.groupBy("dur").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.count("*").alias("leaving"),
    )
    total = life.agg(F.count("*").alias("n_total"))
    w_prev = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = at_t.crossJoin(F.broadcast(total)).select(
        "dur",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_run = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    factors = F.collect_list(
        (F.col("n_risk") - F.col("d")).cast("double")
        / F.col("n_risk").cast("double")
    ).over(w_run)
    folded = risk.select(
        "dur",
        "d",
        "n_risk",
        F.aggregate(
            factors, F.lit(1.0), lambda a, b: a * b
        ).alias("surv"),
    )
    return (
        folded.filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            F.col("d").alias("n_deaths"),
            "n_risk",
            F.round("surv", 6).alias("survival"),
        )
        .orderBy("duration_days")
    )


@query(
    "q_acf",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, lag.l AS l, x,
             LAG(x, lag.l) OVER (
               PARTITION BY event_type, lag.l ORDER BY d) AS xl
      FROM daily, (SELECT unnest([1, 2, 3]) AS l) lag
    ), s AS (
      SELECT event_type, l,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(xl) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * xl) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(xl AS HUGEINT) * xl) AS HUGEINT) AS syy
      FROM lagged WHERE xl IS NOT NULL
      GROUP BY event_type, l
    )
    SELECT event_type, l AS lag_days, CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
    FROM s ORDER BY event_type, lag_days
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-3 days) of each event type's
    daily totals — the seasonality/persistence diagnostic every
    forecasting pipeline runs before model choice. Per (type, lag):
    Pearson correlation of the series against its lag from six exact
    128-bit integer sufficient statistics (the q_grouped_linreg /
    CUPED bilinear discipline), one sqrt + one division at the end —
    both engines evaluate the identical IEEE expression on identical
    integers. The lag explode is 3x the DAILY table (bounded), not
    the event table; the only data-scale work is the daily groupBy."""
    d38 = "decimal(38,0)"
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cv").alias("x"))
    )
    lagged = daily.select(
        "event_type",
        "d",
        "x",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("l"),
    )
    # lag amount must be a literal, so build one branch per lag
    parts = []
    for lv in (1, 2, 3):
        parts.append(
            lagged.filter(F.col("l") == lv).withColumn(
                "xl",
                F.lag("x", lv).over(
                    Window.partitionBy("event_type", "l").orderBy("d")
                ),
            )
        )
    lg = parts[0].unionByName(parts[1]).unionByName(parts[2])
    s = (
        lg.filter(F.col("xl").isNotNull())
        .groupBy("event_type", "l")
        .agg(
            F.count("*").cast(d38).alias("n"),
            F.sum("x").cast(d38).alias("sx"),
            F.sum("xl").cast(d38).alias("sy"),
            F.sum(F.col("x").cast(d38) * F.col("xl").cast(d38))
            .cast(d38)
            .alias("sxy"),
            F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
            .cast(d38)
            .alias("sxx"),
            F.sum(F.col("xl").cast(d38) * F.col("xl").cast(d38))
            .cast(d38)
            .alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return s.select(
        "event_type",
        F.col("l").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    ).orderBy("event_type", "lag_days")


@query(
    "q_p99_contributors",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cv
      FROM events
    ), thr AS (
      SELECT CAST(quantile_disc(cv, 0.99) AS BIGINT) AS p99 FROM v
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_extreme,
           CAST(SUM(cv) AS BIGINT) AS sum_extreme,
           (SELECT p99 FROM thr) AS p99_centi
    FROM v WHERE cv > (SELECT p99 FROM thr)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_p99_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-contributor analysis: which event types drive the values
    ABOVE the exact global p99 — the question behind every cost /
    latency tail investigation. The threshold is the exact
    DISCRETE 99th percentile (the ceil(0.99 n)-th order statistic)
    found by operators/quantiles.exact_ranks — bucket histogram +
    rank-located second pass, NO global sort — then one filtered
    aggregation whose predicate (cv > literal) pushes into the scan.
    Demonstrates exact_ranks as a reusable primitive beyond the
    median; the oracle's quantile_disc is the same order
    statistic."""
    from oarphpy_spark.operators.quantiles import exact_ranks

    v = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    n = v.count()
    rank = -(-99 * n // 100)  # ceil(0.99 n): quantile_disc semantics
    p99 = exact_ranks(v, "cv", [rank])[rank]
    return (
        v.filter(F.col("cv") > p99)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_extreme"),
            F.sum("cv").alias("sum_extreme"),
        )
        .withColumn("p99_centi", F.lit(p99).cast("bigint"))
        .orderBy("event_type")
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cv,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, cv, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cv) AS cum,
             SUM(w) OVER (PARTITION BY flag) AS total
      FROM g
    )
    SELECT flag, CAST(MAX(total) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN cum * 2 >= total THEN cv END) AS BIGINT)
             AS wmedian_centi
    FROM c GROUP BY flag ORDER BY flag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) median price per return flag, weighted by
    quantity — the summary a plain median gets wrong whenever rows
    represent different volumes. Computed as a pure cumulative-weight
    sweep: aggregate weights per distinct value first (so the window
    runs over |distinct values| rows, not raw rows), one per-flag
    ordered cumsum, and the median is the smallest value whose
    cumulative weight reaches half the total — an integer-exact
    definition with no interpolation to disagree on. Two shuffles
    (value-level groupBy, then per-flag window over the compacted
    relation)."""
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cv"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("flag", "cv")
        .agg(F.sum("q").alias("w"))
    )
    wc = Window.partitionBy("flag").orderBy("cv")
    wt = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "cv",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("total"),
    )
    return (
        c.groupBy("flag")
        .agg(
            F.max("total").alias("total_weight"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("total"), F.col("cv"))
            ).alias("wmedian_centi"),
        )
        .orderBy("flag")
    )


@query(
    "q_benford_digits",
    oracle="""
    WITH d AS (
      SELECT substring(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1, 1) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / t.total, 6) AS observed_p,
           ROUND(LOG10(1.0 + 1.0 / CAST(digit AS BIGINT)), 6)
             AS benford_p
    FROM c CROSS JOIN t
    ORDER BY digit
    """,
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order amounts — the
    fraud/anomaly screen auditors run on any financial column:
    observed leading-digit frequencies against the log10(1 + 1/d)
    expectation. The digit is extracted by STRING slicing of the
    exact integer cents (no logarithms touch the data path — the only
    transcendental is the 9-row expectation column, an identical
    fixed-shape expression in both engines). One map-side
    partial-aggregable groupBy into 9 rows; the total joins back as a
    broadcast one-row crossJoin."""
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .cast("string"),
                1,
                1,
            ).alias("digit")
        )
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "observed_p"
            ),
            F.round(
                F.log10(1.0 + 1.0 / F.col("digit").cast("bigint")), 6
            ).alias("benford_p"),
        )
        .orderBy("digit")
    )
