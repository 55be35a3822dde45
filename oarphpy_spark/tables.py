"""Helpers for loading the star-schema test tables.

Tables (see TESTDATA.md / FIXTURES.md §B): region nation customer
supplier part orders lineitem events documents embeddings — one parquet
file per table under a scale-factor directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Footer-probe cache: (path, mtime_ns, size) -> one of
# 'ns' | 'ntz' | 'utc' | 'none'.  Keyed on stat so a regenerated
# fixture re-probes, while steady-state table() calls stay probe-free.
_TS_KIND_CACHE: dict[tuple[str, int, int], str] = {}


def _probe_ts_kind_one(probe: str) -> str:
    """Footer-only ts classification of ONE parquet file (cached on
    (path, mtime, size) so steady-state calls never re-read)."""
    st = os.stat(probe)
    key = (probe, st.st_mtime_ns, st.st_size)
    kind = _TS_KIND_CACHE.get(key)
    if kind is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        field = None
        schema = pq.ParquetFile(probe).schema_arrow
        if "ts" in schema.names:
            field = schema.field("ts")
        if field is None or not pa.types.is_timestamp(field.type):
            kind = "none"
        elif field.type.unit == "ns":
            kind = "ns"
        elif field.type.tz is None:
            kind = "ntz"
        else:
            kind = "utc"
        _TS_KIND_CACHE[key] = kind
    return kind


def _events_ts_kind(path: str) -> str:
    """Classify the physical form of ``events.ts`` from parquet footers
    only (no row groups read): 'ns' (INT64 nanos — unscannable by Spark
    as a timestamp), 'ntz' (µs/ms with isAdjustedToUTC=false → Spark
    infers TIMESTAMP_NTZ), 'utc' (µs/ms UTC-adjusted → TIMESTAMP), or
    'none' (no ts column / not a timestamp).

    EVERY part file of a directory is probed (footers are a few KB
    each, and the per-file cache makes repeat calls free): a directory
    holding mixed physical forms — e.g. one ns part beside a µs part
    after a partial fixture regeneration — cannot be classified by any
    single kind and would either mis-schema the reader or die with
    PARQUET_TYPE_ILLEGAL mid-scan, so it raises loudly here instead."""
    probes = [path]
    if os.path.isdir(path):
        probes = sorted(
            os.path.join(path, n) for n in os.listdir(path)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
        if not probes:
            return "none"
    kinds = {_probe_ts_kind_one(p) for p in probes}
    if len(kinds) > 1:
        raise ValueError(
            f"mixed physical timestamp forms {sorted(kinds)} across part "
            f"files of {path}; regenerate the fixture so all parts agree"
        )
    return kinds.pop()


def _normalize_events_ts(df: DataFrame, kind: str) -> DataFrame:
    """Turn the ``ts`` column of an events scan whose physical form is
    ``kind`` (see :func:`_events_ts_kind`) into a UTC TIMESTAMP: int64
    nanos via ``timestamp_micros(ts div 1000)`` (the same ns→µs
    truncation DuckDB applies), TIMESTAMP_NTZ by a cast to TIMESTAMP;
    'utc' and 'none' pass through. Shared by the batch loader
    (:func:`table`) and the streaming scan
    (``streaming.windows.stream_events``)."""
    if kind == "ns":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain ``spark.read.parquet`` so Catalyst gets a
    pushdown-capable FileScan (predicates + column pruning reach the
    parquet reader).

    ``events.ts`` arrives in whatever physical form the fixture
    generator used, and that has varied across driver regenerations;
    all three forms normalize to the same UTC TIMESTAMP column:

    * nanosecond parquet — unscannable as a timestamp
      (PARQUET_TYPE_ILLEGAL); read as raw int64 nanos
      (``spark.sql.legacy.parquet.nanosAsLong``) and convert JVM-side
      with ``timestamp_micros(ts div 1000)`` — the same ns→µs
      truncation DuckDB applies;
    * µs/ms parquet with ``isAdjustedToUTC=false`` — Spark 4 infers
      ``TIMESTAMP_NTZ`` (``spark.sql.parquet.inferTimestampNTZ``
      defaults on); cast to TIMESTAMP, which interprets the naive
      wall-clock in the session timezone — pinned UTC below, exactly
      DuckDB's reading of a naive TIMESTAMP;
    * UTC-adjusted parquet — already TIMESTAMP, no-op.

    The session timezone is pinned to UTC here (runtime-settable conf):
    ``year``/``date_trunc``/date casts are tz-dependent, and queries
    must produce identical results under ANY caller-built session.

    The physical form is decided by a cached pyarrow FOOTER probe (no
    row groups read), so the ``nanosAsLong`` legacy conf is touched
    only when the file really is int64-nanos — and then restored to
    its prior value immediately after ``spark.read.parquet`` returns.
    Spark captures the inferred bigint schema into the relation at
    read() time, so later actions on the returned DataFrame stay
    correct (verified by tests/test_ts_schema_drift.py); other parquet
    reads on the same session never observe the conf.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)

    kind = _events_ts_kind(path)
    if kind == "ns":
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    else:
        df = spark.read.parquet(path)
    return _normalize_events_ts(df, kind)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
