"""Stock relational coverage (SURVEY.md §2.B) — scans, filters, joins,
aggregations, windows, sorts, set ops, scalar function families.

Every query here is pure DataFrame API: Catalyst handles pushdown,
pruning, join selection, partial aggregation, and codegen. Floating
aggregates are rounded identically in Spark and oracle SQL so the
order-insensitive value hash is stable across summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.registry import query
from oarphpy_spark.tables import bound_sql, plain_sql, table
from oarphpy_spark.util.checkpoints import hold_caches
from oarphpy_spark.util.fs import new_scratch_dir


# ---------------------------------------------------------------------------
# (d) Aggregations
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                          AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                     AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
  ROUND(AVG(l_quantity), 4)                          AS avg_qty,
  ROUND(AVG(l_extendedprice), 4)                     AS avg_price,
  ROUND(AVG(l_discount), 4)                          AS avg_disc,
  COUNT(*)                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q_agg_sum_avg_minmax", oracle=_Q1_ORACLE)
def q_agg_sum_avg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: scan → filter → hash agg → sort.

    The flagship query (SURVEY.md §7 Phase 0). Catalyst pushes the
    ``l_shipdate`` predicate into the parquet scan and prunes to the 7
    referenced columns; aggregation runs partial (map-side) + final.
    """
    lineitem = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# (a) Scans / sources / sinks
# ---------------------------------------------------------------------------


@query("q_scan_parquet", oracle="SELECT r_regionkey, r_name FROM region")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare parquet scan: FileScan with ReadSchema pruned to 2 columns."""
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "q_source_local_rows",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', NULL)
    ) AS t(id, name, score)
    """,
)
def q_source_local_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory rows source (reference: createDataFrame throughout its
    tests, e.g. oarphpy_test/test_spark.py:31-32)."""
    rows = [
        Row(id=1, name="a", score=1.5),
        Row(id=2, name="b", score=2.5),
        Row(id=3, name="c", score=None),
    ]
    return spark.createDataFrame(rows, schema="id int, name string, score double")


_SINK_ORACLE = """
SELECT l_returnflag,
       COUNT(*)                  AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_discount > 0.05
GROUP BY l_returnflag
"""


def _sink_roundtrip(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    """Write filtered lineitem partitioned by l_returnflag with the given
    parquet codec, read it back, and aggregate — proves the sink produces
    partition-pruned, re-scannable data (reference codec checks:
    oarphpy_test/test_spark.py:54-86)."""
    out = new_scratch_dir(f"sink_{codec}")
    (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out, compression=codec)
    )
    agg = (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    return hold_caches(agg, out)


@query("q_sink_parquet_zstd", oracle=_SINK_ORACLE)
def q_sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with zstd codec + re-scan roundtrip: written bytes
    must agg identically to the source (codecs change size, not data)."""
    return _sink_roundtrip(spark, sf_dir, "zstd")


@query("q_sink_parquet_lz4", oracle=_SINK_ORACLE)
def q_sink_parquet_lz4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with lz4 codec + re-scan roundtrip — same contract
    as the zstd twin, exercising the other splittable codec."""
    return _sink_roundtrip(spark, sf_dir, "lz4")


@query(
    "q_zorder_layout",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)  AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_partkey <= 250 AND l_suppkey <= 12
    GROUP BY l_returnflag
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout sink + stats-pruned re-scan: write
    lineitem along the interleaved-bit curve of (l_partkey, l_suppkey),
    then answer a 2-D range predicate from the laid-out copy. Layout
    must never change content, so the oracle is the same predicate over
    the raw table. The scale story is in the WRITE: each output file
    owns a disjoint z-range (repartitionByRange on the z-key), so the
    2-D predicate's footer-stats pruning touches only the files whose
    z-region intersects the query box — the property
    tests/test_zorder.py measures against a linear-sort layout.
    Normalization min/max is one broadcast aggregate row; the z-key is
    pure shift/mask/OR inside codegen."""
    from oarphpy_spark.operators.zorder import write_zordered

    out = new_scratch_dir("zorder")
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_suppkey", "l_quantity"
    )
    write_zordered(li, out, ["l_partkey", "l_suppkey"], num_files=8, bits=10)
    agg = (
        spark.read.parquet(out)
        .filter((F.col("l_partkey") <= 250) & (F.col("l_suppkey") <= 12))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    return hold_caches(agg, out)


# ---------------------------------------------------------------------------
# (b) Projections / filters / predicates
# ---------------------------------------------------------------------------


@query("q_project", oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruning projection: 3 of 9 order columns — ReadSchema
    in the parquet scan must list only the projected columns."""
    return table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "q_filter_eq",
    oracle="""
    SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate pushed to the parquet scan (PushedFilters
    shows EqualTo) — selected segment only ever leaves the reader."""
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("acctbal"))
    )


@query(
    "q_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity >= 10 AND l_quantity < 20
    """,
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open range predicate, pushed down as GreaterThanOrEqual +
    LessThan so row groups outside [10, 20) never decompress."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") < 20)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "q_filter_sql_string",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
    """,
)
def q_filter_sql_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string predicate (reference: df.filter('x == False'),
    oarphpy_test/test_spark.py:377)."""
    return (
        table(spark, sf_dir, "orders")
        .filter("o_orderstatus = 'F' AND o_totalprice > 100000.0")
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_nested_path_predicate",
    oracle="""
    SELECT vec_id, label, ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0
    FROM embeddings WHERE CAST(embedding[1] AS DOUBLE) > 0.1
    """,
)
def q_nested_path_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate on a nested (array-element) path (reference analog:
    df.where('x.a[0].b[0].foo = 5'), oarphpy_test/test_spark.py:994-995)."""
    emb = table(spark, sf_dir, "embeddings")
    e0 = F.element_at("embedding", 1).cast("double")
    return emb.filter(e0 > 0.1).select(
        "vec_id", "label", F.round(e0, 6).alias("e0")
    )


@query(
    "q_select_nested_field",
    oracle="""
    SELECT o_orderkey AS okey, o_orderpriority AS priority,
           ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_totalprice > 200000.0
    """,
)
def q_select_nested_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project fields back out of a built struct column (reference:
    df.select('x.__pyclass__'), oarphpy_test/test_spark.py:510-511)."""
    orders = table(spark, sf_dir, "orders")
    nested = orders.select(
        F.struct(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderpriority").alias("priority"),
            F.round("o_totalprice", 2).alias("price"),
        ).alias("s")
    )
    return nested.filter(F.col("s.price") > 200000.0).select("s.okey", "s.priority", "s.price")


@query(
    "q_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS size_class,
           COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY 1
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CASE WHEN — the reference's bucket-assignment idiom
    (oarphpy/plotting.py:223-238), codegen'd by Catalyst."""
    orders = table(spark, sf_dir, "orders")
    size_class = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        orders.withColumn("size_class", size_class)
        .groupBy("size_class")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


# ---------------------------------------------------------------------------
# (d) More aggregations
# ---------------------------------------------------------------------------


@query(
    "q_groupby_count",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-category count (oarphpy/spark.py:201)."""
    return table(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "q_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a 2-column projection — hash aggregate with
    map-side partials; only unique pairs cross the shuffle."""
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "q_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           true AS within_5pct,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for COUNT(DISTINCT)
    over 100 TB (single pass, mergeable sketches, no shuffle of raw keys).

    Sketch estimates can't hash-match across engines, so the query is
    SELF-CERTIFYING: it returns the exact distinct count (which the
    oracle reproduces) plus a ``within_5pct`` flag asserting the HLL
    estimate (rsd=0.02) lands within 5% of it — deterministic for a
    given dataset, so the oracle states literal ``true``. A broken
    sketch shows up as a hash mismatch on the flag column."""
    est = F.approx_count_distinct("l_orderkey", 0.02)
    exact = F.countDistinct("l_orderkey")
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            exact.alias("exact_orders"),
            est.alias("approx_orders"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("within_5pct"),
            "n_rows",
        )
    )


@query(
    "q_manifest_prune",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)  AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 0 AND 250 AND l_suppkey BETWEEN 0 AND 12
    GROUP BY l_returnflag
    """,
)
def q_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven file skipping over a z-ordered layout — the
    full lakehouse data-skipping loop under the oracle gate: write the
    layout, build the footer manifest (one distributed footer-only
    pass, one manifest row per file), answer a 2-D predicate by
    opening ONLY manifest-surviving files, and prove the result equals
    the raw-table filter. Stats admit false positives and never false
    negatives, so the exact predicate is re-applied after the pruned
    read; tests/test_manifest.py asserts <=half the files survive
    pruning."""
    from oarphpy_spark.operators.zorder import write_zordered
    from oarphpy_spark.sources.manifest import build_manifest, pruned_read

    out = new_scratch_dir("manifest")
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_suppkey", "l_quantity"
    )
    write_zordered(li, out, ["l_partkey", "l_suppkey"], num_files=8, bits=10)
    man = build_manifest(spark, out, ["l_partkey", "l_suppkey"])
    agg = (
        pruned_read(
            spark, man, {"l_partkey": (0, 250), "l_suppkey": (0, 12)}
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    return hold_caches(agg, out)


@query(
    "q_approx_quantile_cert",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
           true AS within_rank_1pct,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_quantile_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` (mergeable single-pass quantile sketch) —
    the scale path for medians over 100 TB, certified the same way as
    the HLL query: the exact interpolated median (oracle-reproducible)
    plus a flag asserting the sketch median lands inside the exact
    [p49, p51] value band (rank error 1% ≫ the sketch's 1e-4 at
    accuracy=10000). Deterministic for a given dataset, so the oracle
    states literal ``true``; a broken sketch flips the flag and fails
    the hash."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("__exact"),
            F.percentile("l_extendedprice", F.lit(0.49)).alias("__lo"),
            F.percentile("l_extendedprice", F.lit(0.51)).alias("__hi"),
            F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
                "__approx"
            ),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.round("__exact", 4).alias("exact_p50"),
            (
                (F.col("__approx") >= F.col("__lo"))
                & (F.col("__approx") <= F.col("__hi"))
            ).alias("within_rank_1pct"),
            "n_rows",
        )
    )


@query(
    "q_count_min_cert",
    oracle="""
    SELECT l_suppkey AS key,
           CAST(COUNT(*) AS BIGINT) AS exact_cnt,
           true AS ge_exact,
           true AS within_eps
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q_count_min_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates, self-certified like the
    HLL/quantile sketches: per probe key the exact count (oracle-
    reproducible) plus CMS's two guarantees as flags — the estimate
    never undercounts (one-sided error) and overcounts by at most
    eps*N with eps = e/width. The sketch itself is a bounded
    depth x width counter table (<= 1024 rows here) built in one
    explode + bounded-key groupBy; estimation joins probes against the
    BROADCAST counter table and never rescans the corpus — the
    fixed-size, mergeable summary shape that survives 100 TB. Hashes
    are md5 slices (operators/sketches.py) so both engines could
    replicate the full table; the oracle needs only the exact side."""
    import math

    from oarphpy_spark.operators.sketches import (
        count_min_counts,
        count_min_estimate,
    )

    depth, width = 4, 256
    li = table(spark, sf_dir, "lineitem")
    sketch = count_min_counts(li, "l_suppkey", depth, width)
    probes = li.select("l_suppkey").distinct()
    est = count_min_estimate(sketch, probes, "l_suppkey", width)
    exact = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").alias("exact_cnt")
    )
    total = li.agg(F.count("*").alias("n_total"))
    eps = math.e / width
    return (
        exact.join(est, "key")
        .join(F.broadcast(total))
        .select(
            "key",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("ge_exact"),
            (F.col("est") <= F.col("exact_cnt") + eps * F.col("n_total")).alias(
                "within_eps"
            ),
        )
    )


@query(
    "q_mview_merge",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total,
           ROUND(SUM(o_totalprice) / COUNT(*), 6) AS avg_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_mview_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: merge a precomputed
    aggregate state with a new-data delta instead of re-aggregating
    history. The base partition (orders before 1999) and the delta
    (1999-on) are each reduced to PARTIAL states (count, sum, max —
    all mergeable; avg is DERIVED from merged sum/count, never
    averaged-of-averages), then merged by one bounded-key aggregate
    over the union of state rows. At 100 TB the base states are a
    stored table a nightly job merges deltas into — history is never
    re-scanned; the oracle proves merge == full recompute."""
    orders = table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("pn"),
            F.sum("o_totalprice").alias("psum"),
            F.max("o_totalprice").alias("pmax"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("pn").alias("n_orders"),
            F.round(F.sum("psum"), 2).alias("total"),
            F.round(F.sum("psum") / F.sum("pn"), 6).alias("avg_price"),
            F.round(F.max("pmax"), 2).alias("max_price"),
        )
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (flag, status): grand total, per-flag, and per-pair rows
    from ONE scan — Catalyst expands the grouping sets in-plan."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@query(
    "q_collect_list_examples",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           array_to_string((list_sort(list(event_id)))[1:10], ',') AS example_ids
    FROM events GROUP BY event_type
    """,
)
def q_collect_list_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group members as a (bounded, sorted) array — the DataFrame-native
    rewrite of the reference's rdd.groupBy example collection
    (oarphpy/plotting.py:257-261)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # CSV-serialized: the driver's hasher requires scalar cells.
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.sort_array(F.collect_list("event_id")), 1, 10),
                    lambda x: x.cast("string"),
                ),
            ).alias("example_ids"),
        )
    )


# ---------------------------------------------------------------------------
# (f) Sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "q_orderby",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY via range partitioning (sampled bounds), the
    scalable total sort — no single-task gather."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.col("total").desc(), "o_orderkey")
    )


@query(
    "q_limit_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def q_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: planner turns sort+limit into TakeOrderedAndProject (per-
    partition heaps + driver merge — no full sort even at 100 TB).
    Fully deterministic tiebreak so the oracle hash matches."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# (g) Set operations
# ---------------------------------------------------------------------------


@query(
    "q_union_all",
    oracle="""
    SELECT c_name AS name, ROUND(c_acctbal, 2) AS acctbal, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_name AS name, ROUND(s_acctbal, 2) AS acctbal, 'supplier' AS kind FROM supplier
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligned UNION ALL of two differently-named inputs —
    unionByName after projection, no dedup shuffle."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.round("s_acctbal", 2).alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return cust.unionByName(supp)


@query(
    "q_intersect_except",
    oracle="""
    SELECT custkey, 'with_orders' AS kind FROM (
      SELECT c_custkey AS custkey FROM customer
      INTERSECT
      SELECT o_custkey AS custkey FROM orders
    )
    UNION ALL
    SELECT custkey, 'no_orders' AS kind FROM (
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey AS custkey FROM orders
    )
    """,
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT in one result: customers with and without
    orders — both lower to aggregate + semi/anti join shapes."""
    cust = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    okeys = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    both = cust.intersect(okeys).withColumn("kind", F.lit("with_orders"))
    none = cust.exceptAll(okeys.distinct()).distinct().withColumn("kind", F.lit("no_orders"))
    return both.unionByName(none)


@query(
    "q_skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation over a pathologically hot key
    (l_returnflag has 3 values for the whole fact table — the shape
    where a plain groupBy sends a third of 100 TB through three
    reducers). Salting fans stage 1 out over (key, salt) then merges
    per key; the salt derives from row identity (xxhash64), NOT rand(),
    so results and parity are reproducible under any partitioning.
    Results are identical to the plain GROUP BY — the oracle IS the
    plain GROUP BY."""
    from oarphpy_spark.operators.skew import salted_agg

    li = table(spark, sf_dir, "lineitem").withColumn(
        "__row_salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16)).cast("int"),
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        partials={
            "n_items": F.count("*"),
            "sum_qty": F.sum("l_quantity"),
            "sum_price": F.sum("l_extendedprice"),
        },
        merges={
            "n_items": F.sum("n_items"),
            "sum_qty": F.sum("sum_qty"),
            "sum_price": F.sum("sum_price"),
        },
        salt_col="__row_salt",
    )
    return out.select(
        "l_returnflag",
        "n_items",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
    )


_TEXT_SOURCE_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""

_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _text_source_roundtrip(
    spark: SparkSession, sf_dir: str, fmt: str
) -> DataFrame:
    """Write documents through a text-based format and read it back
    with a PINNED schema (inference over 100 TB means a second full
    scan — production readers always declare), then aggregate."""
    out = new_scratch_dir(f"src_{fmt}")
    docs = table(spark, sf_dir, "documents")
    w = docs.write.mode("overwrite")
    if fmt == "json":
        w.json(out)
        back = spark.read.schema(_DOCS_SCHEMA).json(out)
    else:
        w.option("header", True).csv(out)
        back = spark.read.schema(_DOCS_SCHEMA).option("header", True).csv(out)
    agg = back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return hold_caches(agg, out)


@query("q_source_json", oracle=_TEXT_SOURCE_ORACLE)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + schema-pinned source round-trip (the interchange
    format of every scraping/annotation pipeline)."""
    return _text_source_roundtrip(spark, sf_dir, "json")


@query("q_source_csv", oracle=_TEXT_SOURCE_ORACLE)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-pinned source round-trip with header
    handling."""
    return _text_source_roundtrip(spark, sf_dir, "csv")


@query(
    "q_partition_prune",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, o_orderpriority
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning: write orders
    partitioned by priority, read back filtering on the partition
    column — the filter resolves against directory names at planning
    time, so only 1 of 5 partition subtrees is ever listed or scanned
    (tests/test_plans.py pins the pruned-partition count in the scan
    node). At 100 TB, partition design IS the first query optimizer."""
    out = new_scratch_dir("part")
    (
        table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    urgent = (
        spark.read.parquet(out)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "o_orderpriority",
        )
    )
    return hold_caches(urgent, out)


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           ROUND(l_quantity, 4) AS value
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice',
           ROUND(l_extendedprice, 4)
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', ROUND(l_discount, 4)
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', ROUND(l_tax, 4)
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measure columns to long (measure, value)
    rows via ``DataFrame.unpivot`` — a Generate-style row expansion in
    one codegen'd pass over one scan (the oracle's UNION-ALL form
    states the same relation but would scan four times if executed
    naively; Spark's Expand node is the single-scan physical shape).
    The key filter pushes to the scan BEFORE the 4x expansion."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    melted = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return melted.select(
        "l_orderkey", "l_linenumber", "measure",
        F.round("v", 4).alias("value"),
    )


_SET_OPS_ALL_SQL = """
WITH a AS (
  SELECT o_orderpriority AS p FROM {orders} WHERE o_orderstatus = 'F'
), b AS (
  SELECT o_orderpriority AS p FROM {orders} WHERE o_orderstatus = 'O'
), i AS (
  SELECT p FROM a INTERSECT ALL SELECT p FROM b
), e AS (
  SELECT p FROM a EXCEPT ALL SELECT p FROM b
)
SELECT 'intersect_all' AS op, p, CAST(COUNT(*) AS BIGINT) AS n
FROM i GROUP BY p
UNION ALL
SELECT 'except_all' AS op, p, CAST(COUNT(*) AS BIGINT) AS n
FROM e GROUP BY p
ORDER BY op, p
"""


@query("q_set_ops_all", oracle=plain_sql(_SET_OPS_ALL_SQL))
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — INTERSECT ALL (per-value min of the
    two multiplicities) and EXCEPT ALL (truncated multiplicity
    difference), the bag semantics q_intersect_except's DISTINCT
    forms don't exercise. The SQL is VERBATIM-shared with the
    oracle; Spark plans both as a single hash aggregate computing
    per-key counts on each side then replicating min(c1,c2) /
    greatest(c1-c2,0) copies — one shuffle on the value, no join,
    the same shape DuckDB uses. Counts re-aggregated per value so
    the result is a compact certificate of the multiset."""
    return bound_sql(spark, sf_dir, _SET_OPS_ALL_SQL)
