"""Reference-fidelity operators as declared queries (SURVEY.md §2.A).

Each query exercises an operator from oarphpy_spark.operators /
.sources / .codec over the driver tables, with a DuckDB oracle where
the semantics are deterministic.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.operators.cluster import monte_carlo_pi
from oarphpy_spark.operators.histogram import (
    assign_buckets,
    df_histogram,
    histogram_with_examples,
)
from oarphpy_spark.operators.sampling import balanced_sample_deterministic
from oarphpy_spark.operators.union import union_dfs
from oarphpy_spark.registry import query
from oarphpy_spark.sources.archive import archive_df
from oarphpy_spark.tables import table
from oarphpy_spark.util.checkpoints import hold_caches
from oarphpy_spark.util.fs import new_scratch_dir, transient_scratch_dir


@query(
    "q_union_merge_schemas",
    oracle="""
    SELECT o_orderkey, o_totalprice AS price, CAST(NULL AS VARCHAR) AS priority
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE) AS price, o_orderpriority AS priority
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_union_merge_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-merging union (reference union_dfs, oarphpy/spark.py:149-192):
    two frames with disjoint extra columns; missing columns NULL-fill."""
    orders = table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority")
    )
    return union_dfs(a, b)


@query(
    "q_balanced_sample",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment
    ), tgt AS (
      SELECT LEAST(MIN(n), 50) AS target FROM counts
    ), ranked AS (
      SELECT c_custkey, c_mktsegment,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
      FROM customer
    )
    SELECT c_custkey, c_mktsegment FROM ranked, tgt WHERE rn <= target
    """,
)
def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-rebalanced sample (reference
    get_balanced_sample, oarphpy/spark.py:195-213; made hash-rank-
    deterministic so any cluster layout and the oracle agree — the
    seeded sampleBy variant lives in operators.sampling and is tested
    statistically in pytest, mirroring the reference's own rtol test)."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return balanced_sample_deterministic(
        cust, "c_mktsegment", "c_custkey", n_per_category=50
    )


@query(
    "q_histogram",
    oracle="""
    WITH mm AS (
      SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS mn,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS mx
      FROM lineitem
    ), b AS (
      SELECT unnest(generate_series(0, 9)) AS bucket
    ), c AS (
      SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) / ((mx - mn) / 10)), 9) AS BIGINT)
               AS bucket,
             COUNT(*) AS count
      FROM lineitem, mm GROUP BY 1
    )
    SELECT b.bucket,
           ROUND(mn + b.bucket * (mx - mn) / 10, 4) AS lo,
           ROUND(mn + (b.bucket + 1) * (mx - mn) / 10, 4) AS hi,
           COALESCE(c.count, 0) AS count
    FROM b CROSS JOIN mm LEFT JOIN c ON b.bucket = c.bucket
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width distributed histogram (reference df_histogram,
    oarphpy/plotting.py:104-116 — which used RDD.histogram; here pure
    SQL two-pass, same numpy semantics incl. closed last bucket)."""
    li = table(spark, sf_dir, "lineitem")
    h = df_histogram(li, "l_extendedprice", 10)
    return h.select(
        "bucket",
        F.round("lo", 4).alias("lo"),
        F.round("hi", 4).alias("hi"),
        "count",
    )


_BUCKET_EDGES = [0.0, 50_000.0, 100_000.0, 200_000.0, 400_000.0, 600_000.0]


@query(
    "q_bucket_case_when",
    oracle="""
    SELECT CASE
             WHEN o_totalprice >= 0      AND o_totalprice < 50000  THEN 0
             WHEN o_totalprice >= 50000  AND o_totalprice < 100000 THEN 1
             WHEN o_totalprice >= 100000 AND o_totalprice < 200000 THEN 2
             WHEN o_totalprice >= 200000 AND o_totalprice < 400000 THEN 3
             WHEN o_totalprice >= 400000 AND o_totalprice <= 600000 THEN 4
             ELSE -1
           END AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def q_bucket_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN re-bucketing (reference oarphpy/plotting.py:212-239 —
    'Spark will compile it to native code' — i.e. whole-stage codegen)."""
    orders = table(spark, sf_dir, "orders")
    return (
        assign_buckets(orders, "o_totalprice", _BUCKET_EDGES)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_hist_examples",
    oracle="""
    WITH keyed AS (
      SELECT l_extendedprice, l_orderkey * 10 + l_linenumber AS li_key
      FROM lineitem
    ), bucketed AS (
      SELECT li_key,
             CASE
               WHEN l_extendedprice >= 0      AND l_extendedprice < 50000  THEN 0
               WHEN l_extendedprice >= 50000  AND l_extendedprice < 100000 THEN 1
               WHEN l_extendedprice >= 100000 AND l_extendedprice < 200000 THEN 2
               WHEN l_extendedprice >= 200000 AND l_extendedprice < 400000 THEN 3
               WHEN l_extendedprice >= 400000 AND l_extendedprice <= 600000 THEN 4
               ELSE -1
             END AS bucket
      FROM keyed
    ), ranked AS (
      SELECT bucket, li_key,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY md5(CAST(li_key AS VARCHAR)), li_key) AS rn
      FROM bucketed WHERE bucket >= 0
    )
    SELECT bucket,
           COUNT(*) AS count,
           array_to_string(list_sort(list(li_key) FILTER (WHERE rn <= 5)), ',') AS examples
    FROM ranked
    GROUP BY bucket
    """,
)
def q_hist_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-with-examples (reference HistogramWithExamplesPlotter,
    oarphpy/plotting.py:128-365): per-bucket count + bounded example
    keys, DataFrame-native (no rdd.groupBy, nothing unbounded collected)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("li_key"),
    )
    h = histogram_with_examples(
        li, "l_extendedprice", _BUCKET_EDGES, example_cols=["li_key"], n_examples=5
    )
    # Serialized to a sorted CSV string: the driver's canonicalizer hashes
    # scalar cells only (array cells crash pandas sort_values).
    return h.select(
        "bucket",
        "count",
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.transform("examples", lambda s: s["li_key"])),
                lambda x: x.cast("string"),
            ),
        ).alias("examples"),
    )


@query(
    "q_counters",
    oracle="""
    SELECT 'by_flag' AS counter, l_returnflag AS key, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'rows_seen' AS counter, '' AS key, COUNT(*) AS n FROM lineitem
    """,
)
def q_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tallies (reference CounterCollection,
    oarphpy/spark.py:354-453). The declarative form is a side
    aggregation — shuffle-light (5 groups) and exactly checkable; the
    accumulator + df.observe mechanisms are pytest-covered."""
    li = table(spark, sf_dir, "lineitem")
    by_flag = li.groupBy(F.col("l_returnflag").alias("key")).agg(
        F.count("*").alias("n")
    ).select(F.lit("by_flag").alias("counter"), "key", "n")
    total = li.agg(F.count("*").alias("n")).select(
        F.lit("rows_seen").alias("counter"), F.lit("").alias("key"), "n"
    )
    return by_flag.unionByName(total)


_ARCHIVE_MEMBERS = ["bar", "baz", "foo"]


@query(
    "q_archive_source",
    oracle="""
    SELECT name, CAST(length(name) AS BIGINT) AS n_bytes, md5(name) AS digest
    FROM (VALUES ('bar'), ('baz'), ('foo')) AS t(name)
    """,
)
def q_archive_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip members as a DataFrame (reference archive_rdd,
    oarphpy/spark.py:457-459 + util/archive_flyweight.py). Fixture zip
    mirrors the reference's name==content members
    (oarphpy_test/test_spark.py:206-262)."""
    # The archive is read lazily, so the fixture's directory rides on
    # the result (util/fs.py: scratch lifetime).
    zdir = new_scratch_dir("fixture")
    zpath = os.path.join(zdir, "fixture.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for m in _ARCHIVE_MEMBERS:
            z.writestr(m, m)
    df = archive_df(spark, zpath)
    out = df.select(
        "name",
        F.length("data").cast("long").alias("n_bytes"),
        F.md5("data").alias("digest"),
    )
    return hold_caches(out, zdir)


@query("q_monte_carlo_pi")  # rows-only: randomized by nature
def q_monte_carlo_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-health smoke (reference oarphpy/spark.py:246-260),
    codegen'd end-to-end; accuracy asserted in pytest (|pi-3.14|<0.1)."""
    return monte_carlo_pi(spark, 1_000_000)


@query(
    "q_tfevents_scan",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'loss',      CAST(2.0 AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
      (CAST(1 AS BIGINT), 'loss',      CAST(1.5 AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
      (CAST(2 AS BIGINT), 'viz/frame', CAST(NULL AS DOUBLE),
       CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(NULL AS BIGINT)),
      (CAST(3 AS BIGINT), 'emb/vec',   CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(3 AS BIGINT))
    ) AS t(step, tag, simple_value, image_height, image_width, tensor_n)
    """,
)
def q_tfevents_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TensorBoard event-file scan surfaced as a declared query:
    scalars, an image summary (dims + PNG payload decoded from the
    protobuf wire format — no TF, no imageio), and a tensor summary
    (dtype/shape/values) — reference ``TFSummaryReader`` parity
    (``oarphpy/util/tfutil.py:253-302``). The fixture is generated
    deterministically here (an event file is just TFRecord-framed
    protobufs, both written by this repo's own codecs), and the scan
    itself is the distributed ``tfrecords`` data source read plus a
    ``parse_event`` mapInPandas, the path that handles a directory of
    real training logs at cluster scale. The
    oracle is the literal expected table — DuckDB can't read the wire
    format, but the VALUES contract pins every decoded field."""
    import struct as _struct

    import numpy as np

    from oarphpy_spark.sources.tfevents import tf_summary_df
    from oarphpy_spark.sources.tfrecords import write_tfrecords
    from oarphpy_spark.util.images import png_encode

    def _varint(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def _fld(num: int, wire: int, payload: bytes) -> bytes:
        return _varint((num << 3) | wire) + payload

    def _msg(num: int, inner: bytes) -> bytes:
        return _fld(num, 2, _varint(len(inner)) + inner)

    def _scalar(step: int, tag: str, val: float) -> bytes:
        value = _msg(1, tag.encode()) + _fld(2, 5, _struct.pack("<f", val))
        return _fld(2, 0, _varint(step)) + _msg(5, _msg(1, value))

    def _image(step: int, tag: str, h: int, w: int, png: bytes) -> bytes:
        img = (
            _fld(1, 0, _varint(h))
            + _fld(2, 0, _varint(w))
            + _fld(3, 0, _varint(3))
            + _msg(4, png)
        )
        value = _msg(1, tag.encode()) + _msg(4, img)
        return _fld(2, 0, _varint(step)) + _msg(5, _msg(1, value))

    def _tensor(step: int, tag: str, vals: list[float]) -> bytes:
        dims = _msg(2, _fld(1, 0, _varint(len(vals))))
        content = b"".join(_struct.pack("<f", v) for v in vals)
        tp = _fld(1, 0, _varint(1)) + _msg(2, dims) + _msg(4, content)
        value = _msg(1, tag.encode()) + _msg(8, tp)
        return _fld(2, 0, _varint(step)) + _msg(5, _msg(1, value))

    png = png_encode(np.zeros((4, 5, 3), dtype=np.uint8))
    events = [
        _scalar(0, "loss", 2.0),
        _scalar(1, "loss", 1.5),
        _image(2, "viz/frame", 4, 5, png),
        _tensor(3, "emb/vec", [0.5, 0.25, 0.75]),
    ]
    # Fixture lives in a private scratch dir for the DURATION OF THE
    # SCAN only, then is removed — no litter across runs. The
    # distributed ``tfrecords`` read requires executors to share the
    # driver filesystem (true in local mode and on any cluster whose
    # event-log dir is shared storage — the real deployment shape for
    # TensorBoard logs); the scan is forced eagerly below so cleanup
    # can't race it.
    with transient_scratch_dir("tfevents") as evdir:
        evpath = os.path.join(evdir, "events.out.tfevents.1.fixture")
        with open(evpath, "wb") as fobj:
            write_tfrecords(fobj, events)

        df = tf_summary_df(spark, evpath, full=True)
        out = df.select(
            "step",
            "tag",
            F.round("simple_value", 6).alias("simple_value"),
            "image_height",
            "image_width",
            F.size("tensor_values").cast("long").alias("tensor_n"),
        ).where(F.col("tag").isNotNull())
        # Materialize the (4-row-by-construction) decode now so the
        # fixture file can be deleted before returning; the heavy
        # lifting — TFRecord framing + protobuf walk + PNG decode —
        # already ran distributed above.
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
