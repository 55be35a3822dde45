"""Helpers for loading the star-schema test tables.

Tables (see TESTDATA.md / FIXTURES.md §B): region nation customer
supplier part orders lineitem events documents embeddings — one parquet
file per table under a scale-factor directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# Schema memo: path -> (stamp, schema inferred under that stamp).  A
# hit reads with the schema given, which skips Spark's inference job
# (one footer-reading job per call) while the file listing stays fresh.
_SCHEMA_CACHE: dict[str, tuple[tuple, StructType]] = {}

# Session confs that change what Spark 4.1 infers from parquet
# footers: the ``ParquetToSparkSchemaConverter(SQLConf)`` inputs, the
# variant-shredding switch its ``convert`` reads, and the
# ``ParquetOptions``/``ParquetFileFormat.inferSchema`` switches that
# choose which footers are merged.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)


def _files_stamp(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a file; for a directory, the sorted
    ``(relative name, mtime_ns, size)`` of every entry below it,
    skipping ``.``/``_``-prefixed names as Spark's listing does.
    ``None`` when ``path`` cannot be stat-ed locally (missing, or a
    URI): the caller then infers, and Spark reports the error."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        stamp = []
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [n for n in dirnames if not n.startswith((".", "_"))]
            for n in dirnames + filenames:
                if n.startswith((".", "_")):
                    continue
                full = os.path.join(dirpath, n)
                st = os.stat(full)
                stamp.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
        return tuple(sorted(stamp))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each path's schema once.
    The memo entry is stamped with the files' stat and the current
    values of :data:`_INFERENCE_CONFS`; a rewritten file, an added or
    removed part file, or a flipped conf misses and re-infers."""
    files = _files_stamp(path)
    if files is None:
        return spark.read.parquet(path)
    stamp = (files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (stamp, df.schema)
    return df


def memo_on_table(memo: dict, key, sf_dir: str, name: str, build):
    """``build()``, memoized in ``memo[key]`` until table ``name``
    under ``sf_dir`` is rewritten: the entry is stamped with the
    table's :func:`_files_stamp`, the stamp :func:`_read_parquet`
    keys its schemas on, so a driver-side artifact derived from a
    table (an index's dimensionality, its centroids, a filter's bits)
    is rebuilt exactly when a fresh read of the table would differ.
    A table whose files cannot be stat-ed is rebuilt on every call."""
    stamp = _files_stamp(os.path.join(sf_dir, f"{name}.parquet"))
    hit = memo.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return hit[1]
    value = build()
    memo[key] = (stamp, value)
    return value


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

    Each path's schema is inferred once (:func:`_read_parquet`): Spark
    infers a parquet schema with one job per read, ~70 ms of pure
    overhead, so a warm call instead passes the memoized schema to
    ``spark.read.schema(...)`` and launches no job. The memo entry is
    stamped with the file's ``(mtime_ns, size)`` — for a directory,
    every non-hidden entry below it — and with the session's
    schema-inference confs (``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ.enabled``, ``nanosAsLong``, ``caseSensitive``,
    ``mergeSchema`` and the rest of :data:`_INFERENCE_CONFS`). A
    rewritten, added or removed file or a changed conf re-infers; the
    file listing itself is never memoized.

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
        return _read_parquet(spark, path)

    kind = _events_ts_kind(path)
    if kind == "ns":
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = _read_parquet(spark, path)
        finally:
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    else:
        df = _read_parquet(spark, path)
    return _normalize_events_ts(df, kind)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
