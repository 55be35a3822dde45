"""SQL-string entry path: the engine is equally drivable via
``spark.sql`` — same Catalyst plans as the DataFrame API. These
queries run ANSI SQL verbatim (which doubles as near-oracle SQL), with
the tables each statement names bound as arguments
(``tables.bound_sql``), so no query writes a session-global view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.registry import query
from oarphpy_spark.tables import bound_sql, plain_sql, table


_Q3_SQL = """
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
       o.o_orderpriority
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, date_format(o.o_orderdate, 'yyyy-MM-dd'), o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 20
"""


@query(
    "q_sql_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) submitted as a SQL string — the
    spark.sql front door over bound tables. Catalyst still pushes
    both date predicates into the scans and broadcasts customer."""
    return bound_sql(spark, sf_dir, _Q3_SQL)


@query(
    "q_join_full_outer",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
      FROM customer GROUP BY c_nationkey
    ), s AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join: nations having only customers or only suppliers
    survive with zero-filled counts."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations in one pass."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "q_sql_tpch_q6",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) via spark.sql: every
    predicate pushes into the parquet scan; the aggregation is a single
    partial+final pass with no shuffle of data rows."""
    return bound_sql(
        spark,
        sf_dir,
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
               COUNT(*) AS n_items
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
    )


_Q5_SQL = """
SELECT n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
"""


@query(
    "q_sql_tpch_q5",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-SHAPED (local supplier volume): 6-table star with the
    supplier-nation = customer-nation correlation. nation/region/
    supplier/customer all broadcast; the only real shuffle is
    lineitem x orders.

    Deliberate deviation from the spec's parameters: a TWO-year order
    window (spec: one year) so the tiny test scale factors produce
    non-trivial per-nation groups — do not compare revenue against
    published Q5 numbers."""
    return bound_sql(spark, sf_dir, _Q5_SQL)


_Q18_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
       ROUND(o.o_totalprice, 2) AS totalprice,
       ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM {lineitem} GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 270
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey,
         date_format(o.o_orderdate, 'yyyy-MM-dd'), o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 50
"""


@query(
    "q_sql_tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 270
    )
    GROUP BY c_name, c_custkey, o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-SHAPED (large-volume orders): semi-join on a HAVING
    subquery. Catalyst plans the IN as a left-semi hash join after
    partial aggregation — no correlated re-execution.

    Deliberate deviation from the spec's parameters: quantity > 270
    (spec: 300) and LIMIT 50 (spec: 100) so every test scale factor
    has a non-empty, bounded result — do not compare against published
    Q18 numbers."""
    return bound_sql(spark, sf_dir, _Q18_SQL)


_Q10_SQL = """
SELECT c.c_custkey,
       c.c_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       n.n_name
FROM {customer} c
JOIN {orders} o    ON c.c_custkey = o.o_custkey
JOIN {lineitem} l  ON l.l_orderkey = o.o_orderkey
JOIN {nation} n    ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q_sql_tpch_q10", oracle=plain_sql(_Q10_SQL))
def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): 4-table join, one quarter
    of orders, 'R'-flag lineitems only, top 20 customers by lost
    revenue. The date + returnflag predicates push into the parquet
    scans; nation broadcasts; AQE picks broadcast for the pruned
    orders quarter at small SF while the lineitem⋈orders join stays a
    shuffle hash join at 100 TB. ORDER BY carries c_custkey as the
    deterministic tie-break (the spec's revenue-only sort is
    underdetermined)."""
    return bound_sql(spark, sf_dir, _Q10_SQL)


@query(
    "q_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: the hierarchical prefix of CUBE — (priority, status),
    (priority), () — one pass, one shuffle; Spark expands grouping
    sets map-side so partial aggregation still applies."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_Q4_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
"""


@query(
    "q_sql_tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q_sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking; fixture lacks
    l_commitdate/l_receiptdate so the EXISTS condition is shipped-
    after-order): a correlated EXISTS that Catalyst rewrites to a
    LEFT SEMI join on orderkey — the orders side never duplicates no
    matter how many lineitems match, and the date predicate pushes
    into the orders scan before the join."""
    return bound_sql(spark, sf_dir, _Q4_SQL)


_Q12_SQL = """
SELECT l.l_returnflag,
       SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS high_line_count,
       SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS low_line_count
FROM {orders} o JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_returnflag
"""


@query(
    "q_sql_tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split; l_returnflag
    stands in for the fixture's missing l_shipmode): equi-join plus
    CONDITIONAL aggregation — both CASE branches accumulate in the
    same partial agg, one pass, no second join or union."""
    return bound_sql(spark, sf_dir, _Q12_SQL)


_Q14_SQL = """
SELECT ROUND(100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS promo_revenue_pct
FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@query(
    "q_sql_tpch_q14",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): tight date filter pushed into the
    lineitem scan, part broadcast (dim ≪ fact at every SF), and the
    promo/total ratio computed from two conditional sums in ONE
    aggregation — never two scans."""
    return bound_sql(spark, sf_dir, _Q14_SQL)


_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query(
    "q_sql_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship via lineitem — the
    fixture has no partsupp; negative-balance suppliers stand in for
    the complaints filter): NOT IN compiles to a null-aware ANTI join
    against a broadcast subquery, part predicates prune before the
    join, and COUNT(DISTINCT) runs as a two-phase expand+agg."""
    return bound_sql(spark, sf_dir, _Q16_SQL)


_Q19_SQL = """
SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 40)
   OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 1 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 50)
"""


@query(
    "q_sql_tpch_q19",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    GROUP BY ()
    """,
)
def q_sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the OR
    of brand/size/quantity conjunctions can't push below the join as a
    whole, but Catalyst extracts the common l_quantity bounds and the
    per-side implied predicates; part stays broadcast so the disjunction
    evaluates stream-side with zero extra shuffles."""
    return bound_sql(spark, sf_dir, _Q19_SQL)


_CORR_SCALAR_SQL = """
SELECT p.p_partkey, p.p_brand,
       ROUND(p.p_retailprice, 2) AS retailprice
FROM {part} p
WHERE p.p_retailprice = (
  SELECT MIN(p2.p_retailprice) FROM {part} p2 WHERE p2.p_brand = p.p_brand
)
"""


@query(
    "q_sql_correlated_scalar",
    oracle="""
    SELECT p_partkey, p_brand, ROUND(p_retailprice, 2) AS retailprice
    FROM part p
    WHERE p_retailprice = (
      SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
)
def q_sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (TPC-H Q2's shape: each row compared
    to a per-group minimum computed over the same table): Catalyst
    de-correlates it into a per-brand MIN aggregate joined back on the
    correlation key — one extra aggregate and one equi-join, never a
    per-row re-scan. The de-correlation IS the scale story: a naive
    nested evaluation would be O(rows x groups) scans."""
    return bound_sql(spark, sf_dir, _CORR_SCALAR_SQL)


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM {nation} n, LATERAL (
  SELECT c_name, c_acctbal FROM {customer}
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@query("q_sql_lateral_topk", oracle=plain_sql(_LATERAL_SQL))
def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in the FROM clause — per-nation
    top-3 customers by balance, VERBATIM-shared SQL (both engines
    parse the same string, its table placeholders filled with the
    table names for the oracle). Spark de-correlates the lateral into a ranked
    window + filter under the hood — same physical plan as the
    row_number() formulation, so the per-group limit never
    materializes the full per-key sort output. The lateral spelling
    matters as surface: it is how analysts write 'top-k per row of
    the outer table' in ANSI-ish SQL, and how correlated
    unnest-style enrichments arrive from DuckDB/Postgres users."""
    return bound_sql(spark, sf_dir, _LATERAL_SQL)


@query(
    "q_variant_shred",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type:
    parse_json once into an open-schema VARIANT column, then typed
    path extraction (variant_get '$.k' as long) feeding a normal
    integer aggregate. VARIANT is the Spark-4-native answer to the
    'JSON column at 100 TB' problem — the binary encoding is
    columnar-friendly and repeated path access avoids re-parsing
    text per expression, unlike get_json_object chains (covered by
    q_fn_json). The DuckDB oracle states the same shred with
    json_extract. Integer sums only — no float drift."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    return (
        v.select(
            "event_type",
            F.expr("variant_get(v, '$.k', 'long')").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


_GROUPBY_ALL_SQL = """
SELECT o_orderpriority,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM {orders}
GROUP BY ALL
ORDER BY o_orderpriority, o_orderstatus
"""


@query("q_sql_groupby_all", oracle=plain_sql(_GROUPBY_ALL_SQL))
def q_sql_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — the analyst-facing shorthand both Spark (3.4+)
    and DuckDB resolve to 'group by every non-aggregate select item'.
    The SQL string is VERBATIM-shared with the oracle, so this pins
    that the two engines infer the SAME grouping set from the same
    text (a dialect-resolution check, not just a value check). Plan
    is an ordinary partial-agg groupBy on two low-cardinality keys —
    nothing about the sugar changes the physical shape at 100 TB."""
    return bound_sql(spark, sf_dir, _GROUPBY_ALL_SQL)


_PIVOT_SQL = """
SELECT segment,
       COALESCE(n_f, 0) AS n_f,
       COALESCE(n_o, 0) AS n_o,
       COALESCE(n_p, 0) AS n_p
FROM (
  SELECT c.c_mktsegment AS segment, o.o_orderstatus AS st
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
)
PIVOT (
  COUNT(*) FOR st IN ('F' AS n_f, 'O' AS n_o, 'P' AS n_p)
)
ORDER BY segment
"""


@query(
    "q_sql_pivot_clause",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) FILTER (o.o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (o.o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (o.o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def q_sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (Spark 2.4+ dialect surface — distinct
    from q_pivot_counts' DataFrame groupBy().pivot()): order counts
    per (segment x status) rotated into columns, with the pivot
    value list DECLARED so the output schema is static — the form
    that plans as one hash aggregate with conditional counters, no
    second pass to discover columns. The DuckDB oracle restates it
    with FILTER aggregates (DuckDB's PIVOT ON syntax differs; the
    FILTER form is the engine-portable equivalent every planner
    lowers pivot to anyway). Spark's PIVOT leaves a (segment,
    status) cell NULL when it has zero rows while COUNT(*) FILTER
    yields 0, so the pivoted counts are COALESCEd to 0 — without
    that the parity breaks at any SF where some segment lacks a
    status (rare 'P' is the realistic case)."""
    return bound_sql(spark, sf_dir, _PIVOT_SQL)


_EXISTS_SQL = """
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_with_urgent,
       CAST(SUM(CASE WHEN NOT EXISTS (
              SELECT 1 FROM {orders} o2
              WHERE o2.o_custkey = c.c_custkey
                AND o2.o_orderstatus = 'F'
            ) THEN 1 ELSE 0 END) AS BIGINT) AS n_no_finished
FROM {customer} c
WHERE EXISTS (
  SELECT 1 FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment ORDER BY segment
"""


@query("q_sql_exists_decorrelate", oracle=plain_sql(_EXISTS_SQL))
def q_sql_exists_decorrelate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries, VERBATIM-shared SQL:
    customers with at least one urgent order, split by whether they
    also lack any finished order. Catalyst decorrelates both
    predicates into LeftSemi / LeftAnti hash joins on o_custkey — a
    per-outer-row re-scan never happens (the difference between an
    O(n) plan and the O(n*m) nested loop naive EXISTS implies), and
    the orders scans carry the pushed-down status/priority filters.
    Complements q_sql_correlated_scalar (scalar subquery) and
    q_sql_lateral_topk (LATERAL) on the correlation surface."""
    return bound_sql(spark, sf_dir, _EXISTS_SQL)


_GROUPING_ID_SQL = """
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(CAST(c_nationkey AS STRING), 'ALL') AS nation,
       CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey)
            AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM {customer}
GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
                        (c_mktsegment), ())
ORDER BY gid, segment, nation
"""


@query("q_sql_grouping_id", oracle=plain_sql(_GROUPING_ID_SQL))
def q_sql_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers over GROUPING SETS, VERBATIM-shared SQL:
    the standard way a consumer distinguishes 'NULL because rolled
    up' from 'NULL in the data' — COALESCE folds each rolled-up key
    to a sentinel and the composed grouping id (2*g1 + g2) labels
    the aggregation level. Complements q_grouping_sets (which pins
    the row sets) with the indicator-function surface; one expand +
    hash aggregate, same plan shape either way."""
    return bound_sql(spark, sf_dir, _GROUPING_ID_SQL)
