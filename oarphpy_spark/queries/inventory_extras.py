"""Remaining SURVEY.md §2 inventory slugs: faceting, map aggregation,
cluster utilities, and driver-side util golden checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.operators.cluster import (
    cluster_cpu_count,
    cluster_get_info,
    for_each_executor,
    run_callables,
)
from oarphpy_spark.registry import query
from oarphpy_spark.tables import table
from oarphpy_spark.util.misc import as_row_of_constants, get_size_of_deep, stable_hash


@query(
    "q_sub_pivot_distinct",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents WHERE lang IS NOT NULL GROUP BY lang
    """,
)
def q_sub_pivot_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceting / sub-pivot, reference-shaped (SUB_PIVOT_COL handling,
    oarphpy/plotting.py:292-298): distinct facet values each define a
    filtered panel, i.e. distinct + one filtered aggregation per facet.
    (A single groupBy computes the same result in one shuffle — that
    form is q_groupby_count; this slug preserves the reference's
    per-facet-panel execution shape.) NULL facets are excluded in both
    engines; an empty table yields an empty result."""
    docs = table(spark, sf_dir, "documents")
    facets = sorted(
        r["lang"]
        for r in docs.select("lang").distinct().collect()
        if r["lang"] is not None
    )
    agged = docs.filter(F.col("lang").isNotNull()).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    if not facets:
        return agged.limit(0)
    panels = [agged.filter(F.col("lang") == v) for v in facets]
    out = panels[0]
    for p in panels[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_collect_as_map",
    oracle="""
    SELECT o_orderpriority AS k, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
    """,
)
def q_collect_as_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-to-map (reference rdd.collectAsMap, oarphpy/spark.py:202):
    builds a map column via map_from_entries, then explodes it back to
    rows so the oracle can hash scalars."""
    orders = table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    as_map = counts.agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "n"))
        ).alias("m")
    )
    return as_map.select(F.explode("m").alias("k", "n"))


@query("q_cluster_cpu_count")  # rows-only: value depends on the host
def q_cluster_cpu_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resource aggregation (reference oarphpy/spark.py:116-123)."""
    return spark.createDataFrame(
        [Row(cpu_count=cluster_cpu_count(spark))], "cpu_count int"
    )


@query("q_cluster_get_info")  # rows-only: values depend on the host
def q_cluster_get_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slot executor inventory (reference ``cluster_get_info``,
    oarphpy/spark.py:218-243): one typed row per task slot — hostname,
    CPU/memory/disk/GPU counts, Python version. Pytest invariant
    (tests/test_util.py): row count == task slots, every slot reports
    >= 1 CPU and a non-empty hostname."""
    return cluster_get_info(spark)


@query("q_for_each_executor")  # rows-only: result count = task slots
def q_for_each_executor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-executor execution (reference oarphpy/spark.py:88-113): run a
    probe thunk on every slot, return one row per slot."""
    import os

    results = for_each_executor(spark, os.getpid)
    return spark.createDataFrame(
        [Row(slot=i, pid=int(p)) for i, p in enumerate(results)],
        "slot int, pid long",
    )


@query(
    "q_run_callables",
    oracle="""
    SELECT * FROM (VALUES (0, 0), (1, 1), (2, 4), (3, 9)) AS t(idx, result)
    """,
)
def q_run_callables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed closure execution (reference oarphpy/spark.py:126-146):
    cloudpickled callables run as tasks; results return in input order."""
    fns = [lambda i=i: i * i for i in range(4)]
    results = run_callables(spark, fns)
    return spark.createDataFrame(
        [Row(idx=i, result=r) for i, r in enumerate(results)], "idx int, result int"
    )


# Driver-side utils: golden-pinned through the oracle (the reference
# pins stable_hash goldens the same way, test_util/test_misc.py:115-126).
_HASH_INPUTS = ["foo", "bar", "oarphpy"]


def _stable_hash_oracle() -> str:
    rows = ", ".join(
        f"('{s}', {stable_hash(s) % (2**62)})" for s in _HASH_INPUTS
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(input, hash_val)"


@query("q_stable_hash", oracle=_stable_hash_oracle())
def q_stable_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stable_hash (reference oarphpy/util/misc.py:89-122): pickle+md5
    content hash, stable across processes/machines (unlike builtin
    hash()). In-engine hashing uses F.md5/F.xxhash64 (q_fn_hash)."""
    rows = [Row(input=s, hash_val=stable_hash(s) % (2**62)) for s in _HASH_INPUTS]
    return spark.createDataFrame(rows, "input string, hash_val long")


def _size_fixtures() -> list[tuple[str, int]]:
    import numpy as np

    return [
        ("bytes_10", get_size_of_deep(b"x" * 10)),
        ("ndarray_100_int64", get_size_of_deep(np.zeros(100, dtype=np.int64))),
        ("nested_list", get_size_of_deep([[b"ab"] * 3] * 2)),
    ]


def _size_oracle() -> str:
    rows = ", ".join(f"('{k}', {v})" for k, v in _size_fixtures())
    return f"SELECT * FROM (VALUES {rows}) AS t(name, n_bytes)"


@query("q_size_of_deep", oracle=_size_oracle())
def q_size_of_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep byte-size estimation (reference oarphpy/util/misc.py:47-86);
    10 bytes -> 10, 100 int64s -> 800, nested shared containers counted
    once."""
    rows = [Row(name=k, n_bytes=v) for k, v in _size_fixtures()]
    return spark.createDataFrame(rows, "name string, n_bytes long")


class _DemoConfig:
    """Fixture config object for q_row_of_constants."""

    SHARD_COUNT = 8
    SAMPLE_RATE = 0.25
    NAME = "demo"
    _IGNORED = "private"


@query(
    "q_row_of_constants",
    oracle="""
    SELECT 'demo' AS name, 0.25 AS sample_rate, 8 AS shard_count
    """,
)
def q_row_of_constants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config row-ifier (reference as_row_of_constants,
    oarphpy/util/misc.py:158-191): UPPERCASE members flatten to one
    experiment-tracking row."""
    consts = as_row_of_constants(_DemoConfig())
    return spark.createDataFrame(
        [Row(name=consts["NAME"], sample_rate=consts["SAMPLE_RATE"],
             shard_count=consts["SHARD_COUNT"])],
        "name string, sample_rate double, shard_count int",
    )


@query(
    "q_bridge_shard_roundtrip",
    oracle="""
    SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_custkey % 20 = 0
    """,
)
def q_bridge_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ML-feed bridge (T1) under the exact-oracle gate: stream the
    customer table through ``iter_shard_batches`` — distinct shard
    listing, two concurrent per-shard Arrow reads, bounded queue — and
    rebuild a DataFrame from the consumed batches. A hash match
    against plain SQL proves the shard-parallel transport loses,
    duplicates, and mangles nothing (the reference checked its TF
    bridge the same way, by element equality:
    oarphpy_test/test_spark.py:350-406). The localize step exists
    only for the oracle harness and is bounded by the deterministic
    1-in-20 key filter (pushed to the scan); real feeds consume the
    iterator directly and never materialize."""
    from oarphpy_spark.bridges import iter_shard_batches

    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )
    rows = []
    for batch in iter_shard_batches(
        cust, "c_mktsegment", num_reader_threads=2, batch_size=256
    ):
        rows.extend(
            zip(
                (int(v) for v in batch["c_custkey"]),
                (str(v) for v in batch["c_mktsegment"]),
                (float(v) for v in batch["acctbal"]),
            )
        )
    return spark.createDataFrame(rows, schema=cust.schema)
