"""Join coverage (SURVEY.md §2.B(c)).

The reference implements zero joins (verified: no DataFrame/RDD .join
anywhere in oarphpy/); this module declares the join surface over the
driver's star schema, Spark-first:

* small dims are broadcast explicitly (`F.broadcast`) so the 100 TB
  fact side never shuffles for dim joins;
* the as-of join is implemented as a single-shuffle union+window rather
  than an inequality join (which would explode or BNLJ at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.registry import query
from oarphpy_spark.tables import memo_on_table, table

# Offline Bloom-filter bits per scale dir, rebuilt when the supplier
# table is rewritten (see q_join_bloom_prune).
_BLOOM_BITS: dict = {}


@query(
    "q_join_inner_hash",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi join on the shared key. At scale both sides
    shuffle on orderkey (SMJ/shuffled-hash — AQE picks); co-locating via
    bucketing on orderkey removes the shuffle entirely for repeated runs."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim joins with explicit broadcast: the orders fact never moves —
    each executor hash-joins against a replicated customer/nation map."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "q_join_left_right_full",
    oracle="""
    SELECT c_custkey,
           COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS total
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join family representative: left join preserving order-less
    customers (COUNT of the null-extended side = 0)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total"),
        )
    )


@query(
    "q_join_semi_anti",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n, 'with_orders' AS kind
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, COUNT(*) AS n, 'no_orders' AS kind
    FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence joins: left_semi + left_anti (no row multiplication —
    the planner needs only a distinct-key hash set of the right side)."""
    customer = table(spark, sf_dir, "customer")
    okeys = table(spark, sf_dir, "orders").select("o_custkey")
    cond = customer.c_custkey == okeys.o_custkey

    def agg(df: DataFrame, kind: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(F.count("*").alias("n")).withColumn(
            "kind", F.lit(kind)
        )

    semi = agg(customer.join(okeys, cond, "left_semi"), "with_orders")
    anti = agg(customer.join(okeys, cond, "left_anti"), "no_orders")
    return semi.unionByName(anti)


@query(
    "q_join_theta_range",
    oracle="""
    SELECT s_nationkey AS nationkey,
           COUNT(*) AS n_pairs,
           ROUND(AVG(s_acctbal - c_acctbal), 4) AS avg_gap
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    GROUP BY s_nationkey
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + theta (range) residual: planner runs the equi part as a
    hash/SMJ join and applies the inequality as a join filter — never a
    cartesian product."""
    supplier = table(spark, sf_dir, "supplier")
    customer = table(spark, sf_dir, "customer")
    cond = (supplier.s_nationkey == customer.c_nationkey) & (
        supplier.s_acctbal > customer.c_acctbal
    )
    return (
        supplier.join(customer, cond)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(F.col("s_acctbal") - F.col("c_acctbal")), 4).alias("avg_gap"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts) AS ts_us,
           epoch_us(c.ts) AS last_click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the nearest-earlier click by the
    same user — via the reusable ``operators.joins.asof_join``
    (union + window: single shuffle on user_id, no row explosion;
    an inequality join would be O(clicks x purchases) per user).
    """
    from oarphpy_spark.operators.joins import asof_join

    events = table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(purchases, clicks, on="user_id")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_asof").alias("last_click_ts_us"),
    )


@query(
    "q_multiway_star",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship 5-table star join (TPC-H Q5 shape). All dims broadcast:
    the only shuffle in the whole plan is lineitem x orders on orderkey,
    then the partial-aggregated 5-row result."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "q_join_bloom_prune",
    oracle="""
    SELECT s_name,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN (SELECT * FROM supplier WHERE s_acctbal >= 9000) s
      ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
)
def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side Bloom pruning before the join: the high-balance
    supplier subset's KEY SET becomes a Bloom filter probed inside the
    lineitem scan, so non-matching fact rows die before any exchange.
    Results are exactly the plain join (the join removes Bloom false
    positives) — which is why this is oracle-checkable. At 100 TB this
    is the play when the dim is too big to broadcast but its key set
    fits bits. The filter bits are an offline artifact (cached per
    scale dir, like the IVF centroids) — building them is a real job,
    not something to re-run per plan construction."""
    from oarphpy_spark.operators.bloom import bloom_prejoin, build_bloom

    li = table(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
    supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 9000)
        .withColumnRenamed("s_suppkey", "suppkey")
    )
    bits = memo_on_table(
        _BLOOM_BITS,
        sf_dir,
        sf_dir,
        "supplier",
        lambda: build_bloom(supp, "suppkey"),
    )
    return bloom_prejoin(li, supp, "suppkey", bits=bits).groupBy("s_name").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@query(
    "q_join_range_bucketed",
    oracle="""
    SELECT p.event_id,
           COUNT(*) AS n_clicks,
           CAST(MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS min_gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
    GROUP BY p.event_id
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-style range join: clicks within the hour before each
    purchase by the same user. A naive inequality join would plan as a
    nested-loop explosion; ``operators.range_join`` buckets both sides
    into hour chunks so the planner runs a plain equi hash join on
    (user_id, chunk) with the BETWEEN as a residual filter."""
    from oarphpy_spark.operators.range_join import range_join

    events = table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - 3_600_000_000).alias("lo_us"),
        F.unix_micros("ts").alias("hi_us"),
    )
    joined = range_join(
        clicks, purchases, "c_us", "lo_us", "hi_us",
        on=["user_id"], chunk=3_600_000_000,
    )
    return joined.groupBy("event_id").agg(
        F.count("*").alias("n_clicks"),
        F.min(F.col("hi_us") - F.col("c_us")).cast("bigint").alias("min_gap_us"),
    )


@query(
    "q_join_fuzzy",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_mktsegment, c_name FROM customer
    )
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM c a JOIN c b
      ON a.c_mktsegment = b.c_mktsegment
     AND substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) matching within blocks: candidate pairs
    come from a blocking-key equi-join on
    ``(c_mktsegment, prefix16(c_name))``, then JVM-side levenshtein
    verifies. The prefix key is what makes the quadratic term
    scale-safe: names are fixed-format ``Customer#`` + 9 digits, so a
    16-char prefix pins all but the last 2 characters and every block
    holds at most 100 names NO MATTER how large the table grows —
    block count grows with data, block size does not. (Blocking on
    segment alone — 5 values — would grow blocks linearly and pairs
    quadratically.) Recall tradeoff is explicit and documented: only
    pairs agreeing on the prefix are candidates, the standard
    blocking/sorted-neighborhood contract in entity resolution; never
    an all-pairs cross join."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", 1, 16).alias("blk"),
        F.col("c_name").alias("name_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", 1, 16).alias("blk"),
        F.col("c_name").alias("name_b"),
    )
    return (
        a.join(b, ["seg", "blk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
    )


@query(
    "q_join_asof_tolerance",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts) AS ts_us,
           CASE WHEN p.ts - c.ts <= INTERVAL 10 MINUTE
                THEN epoch_us(c.ts) END AS last_click_ts_us,
           CAST(CASE WHEN p.ts - c.ts <= INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END AS BIGINT) AS within_tolerance
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance window (pandas ``merge_asof``
    tolerance semantics): the nearest-earlier click counts only if it
    happened within 10 minutes of the purchase — the attribution-
    window variant every clickstream pipeline actually runs. Same
    single-shuffle union+window plan as q_join_asof (no inequality
    join, no per-user explosion); the tolerance is a post-join CASE,
    free at any scale. Oracle: DuckDB's native ASOF LEFT JOIN with
    the same gap guard."""
    from oarphpy_spark.operators.joins import asof_join

    events = table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(purchases, clicks, on="user_id")
    in_tol = F.col("ts_asof").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("ts_asof")
        <= F.lit(10 * 60 * 1_000_000)
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(in_tol, F.unix_micros("ts_asof")).alias("last_click_ts_us"),
        F.when(in_tol, F.lit(1)).otherwise(F.lit(0)).cast("long").alias(
            "within_tolerance"
        ),
    )


@query(
    "q_join_salted_skew",
    oracle="""
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANUAL SALT-SPLIT of a skewed fact-dim join, proven
    result-identical to the plain join by the exact oracle: the fact
    side gains a deterministic salt (event_id % 8), the dim side is
    exploded 8x with every salt value, and the join key becomes
    (user_id, salt) — a hot user's rows now land on 8 reducers
    instead of one. This is the technique for when AQE's skew-join
    splitting can't apply (aggregation-after-join pipelines where the
    skew is in the GROUP key, or non-AQE engines); with AQE on, the
    adaptive plan handles moderate skew without the rewrite — the
    operator documents the escape hatch and pins its correctness.
    The 8x dim explosion is the cost: only worth it when the dim
    side is broadcast-small (it is here) or the skew is severe."""
    from oarphpy_spark.tables import table

    ev = table(spark, sf_dir, "events").select(
        "user_id", "value", (F.col("event_id") % 8).alias("salt")
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_dim = cust.crossJoin(
        spark.range(8).select(F.col("id").alias("salt"))
    )
    joined = ev.join(
        F.broadcast(salted_dim),
        (ev.user_id == salted_dim.c_custkey)
        & (ev.salt == salted_dim.salt),
        "left",
    )
    return joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
