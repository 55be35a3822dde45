"""Distributed histograms + histogram-with-examples.

Capability parity with the reference's plotting operators, re-expressed
as single Catalyst pipelines:

* ``df_histogram`` (reference ``oarphpy/plotting.py:104-116``) — the
  reference dropped to ``RDD.histogram`` (two passes with per-row
  JVM→Python pickling). Here: pass 1 is a 2-scalar min/max agg; pass 2
  is a codegen'd ``floor((x-min)/width)`` bucket groupBy. Matches
  numpy/RDD.histogram semantics: equal-width bins, last bin closed
  (reference ``oarphpy/plotting.py:227-229``), empty bins present.

* ``assign_buckets`` (reference ``oarphpy/plotting.py:212-239``) — the
  chained CASE WHEN bucket id, which Catalyst whole-stage-codegens.

* ``histogram_with_examples`` (reference
  ``oarphpy/plotting.py:128-365``) — the reference collected per-bucket
  examples via ``rdd.groupBy`` (full Python-side shuffle, unbounded
  driver collect). Here: per-bucket counts + a bounded number of
  deterministic example rows chosen by content-hash rank, all JVM-side;
  nothing unbounded ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oarphpy_spark.functions.text import quote_ident


# One statement: NULL/NaN rows are excluded (numpy semantics; without
# the filter LEAST's null-skipping would put them all in the last
# bucket), the 1-row min/max relation is broadcast to both cross joins
# (zero shuffle), a degenerate range (min == max) puts everything in
# bucket 0, and the LEFT JOIN from range(n) keeps empty buckets.
_HISTOGRAM_SQL = """
WITH v AS (
  SELECT x FROM (SELECT CAST({col} AS DOUBLE) AS x FROM {{df}})
  WHERE x IS NOT NULL AND NOT isnan(x)
), mm AS (
  SELECT MIN(x) AS mn, MAX(x) AS mx FROM v
), c AS (
  SELECT /*+ BROADCAST(mm) */
         CAST(CASE WHEN mn = mx THEN 0
                   ELSE LEAST(FLOOR((x - mn) / ((mx - mn) / {n})), {n} - 1)
              END AS BIGINT) AS bucket,
         COUNT(*) AS `count`
  FROM v CROSS JOIN mm
  GROUP BY 1
)
SELECT /*+ BROADCAST(mm) */
       b.id AS bucket,
       mn + b.id * (mx - mn) / {n} AS lo,
       mn + (b.id + 1) * (mx - mn) / {n} AS hi,
       COALESCE(c.`count`, 0) AS `count`
FROM range({n}) b CROSS JOIN mm LEFT JOIN c ON b.id = c.bucket
"""


def df_histogram(df: DataFrame, col: str, num_bins: int) -> DataFrame:
    """Fixed-width histogram of a numeric column.

    Returns a DataFrame (bucket BIGINT, lo DOUBLE, hi DOUBLE, count
    BIGINT) with exactly ``num_bins`` rows, empty buckets included —
    numpy-compatible edges: lo_i = min + i*width, width=(max-min)/bins,
    the last bucket closed. The plan is one ``spark.sql`` statement
    over ``df`` bound as an argument: one parse and one analysis.
    """
    text = _HISTOGRAM_SQL.format(col=quote_ident(col), n=int(num_bins))
    return df.sparkSession.sql(text, df=df)


def histogram_to_numpy(hist_df: DataFrame) -> tuple[list[int], list[float]]:
    """Collect a ``df_histogram`` result into (counts, bucket_edges) —
    the reference's return shape (``oarphpy/plotting.py:104-116``)."""
    rows = sorted(hist_df.collect(), key=lambda r: r["bucket"])
    counts = [r["count"] for r in rows]
    edges = [r["lo"] for r in rows] + [rows[-1]["hi"]]
    return counts, edges


def assign_buckets(
    df: DataFrame, col: str, edges: list[float], bucket_col: str = "bucket"
) -> DataFrame:
    """Tag each row with its bucket id via a chained CASE WHEN over
    explicit edges — [lo, hi) per bucket, the LAST bucket closed; rows
    outside every bucket get -1. Catalyst codegens the chain."""
    if len(edges) < 2:
        raise ValueError("need at least 2 edges")
    x = F.col(col)
    chain = None
    for i in range(len(edges) - 1):
        last = i == len(edges) - 2
        cond = (x >= edges[i]) & ((x <= edges[i + 1]) if last else (x < edges[i + 1]))
        chain = F.when(cond, i) if chain is None else chain.when(cond, i)
    return df.withColumn(bucket_col, chain.otherwise(-1))


def histogram_with_examples(
    df: DataFrame,
    col: str,
    edges: list[float],
    example_cols: list[str],
    n_examples: int = 5,
    order_key: str | None = None,
) -> DataFrame:
    """Per-bucket count + up to ``n_examples`` example rows.

    Examples are chosen deterministically by md5-rank of ``order_key``
    (default: the first example column) — a stable pseudo-random draw
    that is partitioning-independent, unlike seeded ``sampleBy``
    (the reference's nondeterminism caveat:
    ``oarphpy_test/test_spark.py:282-285``). A window group-limit keeps
    the per-bucket state bounded; only n_examples rows per bucket
    survive to the collect_list."""
    key = order_key or example_cols[0]
    bucketed = assign_buckets(df, col, edges).filter(F.col("bucket") >= 0)
    counts = bucketed.groupBy("bucket").agg(F.count("*").alias("count"))
    w = Window.partitionBy("bucket").orderBy(F.md5(F.col(key).cast("string")), F.col(key))
    examples = (
        bucketed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_examples)
        .groupBy("bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(*[F.col(c) for c in example_cols]))
            ).alias("examples")
        )
    )
    return counts.join(examples, "bucket", "left").orderBy("bucket")
