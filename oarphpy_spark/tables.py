"""Helpers for loading the star-schema test tables.

Tables (see TESTDATA.md / FIXTURES.md §B): region nation customer
supplier part orders lineitem events documents embeddings — one parquet
file per table under a scale-factor directory.
"""

from __future__ import annotations

import os
import string
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.util.fs import input_files

# Schema memo: key -> (files stamp, schema); inferred schemas under
# (path, inference confs), declared events schemas under ("events",
# path).  A hit reads with the schema given, which skips Spark's
# inference job (or the events footer probe) while the file listing
# stays fresh.
_SCHEMA_CACHE: dict = {}

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

# The events table's declared schema, for batch and stream reads;
# ``{ts}`` is the type its ``ts`` column is read as, per physical form
# (see :func:`_events_ts_kind`).
_EVENTS_SCHEMA = (
    "event_id bigint, ts {ts}, user_id bigint, "
    "event_type string, value double, props string"
)
_EVENTS_TS_TYPES = {
    "ns": "bigint",
    "ntz": "timestamp_ntz",
    "utc": "timestamp",
    "none": "timestamp",
}


def _files_stamp(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a file; for a directory, the sorted
    ``(relative name, mtime_ns, size)`` of every entry below it,
    skipping ``.``/``_``-prefixed names as Spark's listing does.
    ``None`` when ``path`` cannot be stat-ed locally (missing, or a
    URI): the caller then rebuilds, and Spark reports the error."""
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


# One lock per memo key, so concurrent misses on a key build once
# while a slow build (an inference job) blocks no other key.
_BUILD_LOCKS: dict = {}
_BUILD_LOCKS_GUARD = threading.Lock()


def _build_lock(memo: dict, key) -> threading.RLock:
    with _BUILD_LOCKS_GUARD:
        return _BUILD_LOCKS.setdefault((id(memo), key), threading.RLock())


def _memo_on_files(memo: dict, key, path: str, build):
    """``build()``, memoized in ``memo[key]`` until the files at
    ``path`` change: the entry is stamped with :func:`_files_stamp`,
    so a rewritten file or an added or removed part file rebuilds.
    This is the module's one rule for "this file changed". A path
    that cannot be stat-ed is rebuilt on every call. Concurrent
    misses on one key wait for a single build."""
    stamp = _files_stamp(path)

    def current():
        hit = memo.get(key)
        return hit if stamp is not None and hit is not None and hit[0] == stamp else None

    hit = current()
    if hit is None:
        with _build_lock(memo, key):
            hit = current()
            if hit is None:
                hit = memo[key] = (stamp, build())
    return hit[1]


def memo_on_table(memo: dict, key, sf_dir: str, name: str, build):
    """``build()``, memoized in ``memo[key]`` until table ``name``
    under ``sf_dir`` is rewritten (:func:`_memo_on_files`, the stamp
    :func:`table` keys its schemas on), so a driver-side artifact
    derived from a table (an index's dimensionality, its centroids, a
    filter's bits) is rebuilt exactly when a fresh read of the table
    would differ."""
    return _memo_on_files(memo, key, os.path.join(sf_dir, f"{name}.parquet"), build)


def _inference_confs(spark: SparkSession) -> tuple:
    """The session's values of :data:`_INFERENCE_CONFS`, ``None`` where
    unset, as ``spark.conf.get(k, None)`` gives them. The explicit
    settings come over as one string (two Py4J calls: the settings
    snapshot and its rendering), not one call per conf; a value that
    holds the rendering's separator falls back to a call per conf."""
    rendered = spark.conf._jconf.getAll().mkString("\0")
    entries = [e.split(" -> ", 1) for e in rendered.split("\0")] if rendered else []
    if any(len(e) != 2 for e in entries):
        return tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    settings = dict(entries)
    return tuple(settings.get(k) for k in _INFERENCE_CONFS)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each path's schema once.
    The memo entry is stamped with the files' stat and keyed on the
    current values of :data:`_INFERENCE_CONFS`; a rewritten file, an
    added or removed part file, or a flipped conf re-infers."""
    confs = _inference_confs(spark)
    schema = _memo_on_files(
        _SCHEMA_CACHE, (path, confs), path, lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def _probe_ts_kind(probe: str) -> str:
    """The physical form of ``ts`` in ONE parquet file, from its
    footer (see :func:`_events_ts_kind`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(probe)
    schema = pf.schema_arrow
    if "ts" not in schema.names or not pa.types.is_timestamp(schema.field("ts").type):
        return "none"
    # pyarrow reports INT96 (Spark's default timestamp output) as
    # timestamp[ns]; Spark reads it as a UTC TIMESTAMP.
    leaves = (pf.schema.column(i) for i in range(len(pf.schema)))
    if next(c for c in leaves if c.path == "ts").physical_type == "INT96":
        return "utc"
    ts_type = schema.field("ts").type
    if ts_type.unit == "ns":
        return "ns"
    return "ntz" if ts_type.tz is None else "utc"


def _events_ts_kind(path: str) -> str:
    """Classify the physical form of ``events.ts`` from parquet footers
    only (no row groups read): 'ns' (INT64 nanos — unscannable by Spark
    as a timestamp), 'ntz' (µs/ms with isAdjustedToUTC=false → Spark
    reads TIMESTAMP_NTZ), 'utc' (µs/ms UTC-adjusted, or INT96 → TIMESTAMP),
    or 'none' (no ts column / not a timestamp).

    EVERY part file of a directory is probed (footers are a few KB
    each), listed by Spark's rule (``util/fs.input_files``: recursive,
    so hive partitions count): a directory holding mixed physical
    forms — e.g. one ns part beside a µs part after a partial fixture
    regeneration — cannot be read under any single schema and would
    die with a type error mid-scan, so it raises loudly here
    instead."""
    probes = input_files(path)
    if not probes:
        return "none"
    kinds = {_probe_ts_kind(p) for p in probes}
    if len(kinds) > 1:
        raise ValueError(
            f"mixed physical timestamp forms {sorted(kinds)} across part "
            f"files of {path}; regenerate the fixture so all parts agree"
        )
    return kinds.pop()


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Turn the declared ``ts`` column of an events scan into a UTC
    TIMESTAMP: ``bigint`` nanos via ``timestamp_micros(ts div 1000)``
    (the same ns→µs truncation DuckDB applies), ``timestamp_ntz`` by a
    cast to TIMESTAMP, which reads the wall clock in the session
    timezone (pinned UTC: DuckDB's reading of a naive TIMESTAMP);
    ``timestamp`` passes through."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_events(reader, path: str) -> DataFrame:
    """The events table at ``path`` (a parquet file or a directory of
    part files) through ``reader``: ``spark.read`` for a batch scan,
    ``spark.readStream`` for a stream. Both read under the one declared
    schema, :data:`_EVENTS_SCHEMA`, so a batch read runs no inference
    job and a stream gets the schema its file source requires.

    ``ts`` has been written in three physical forms, and the footers
    (:func:`_events_ts_kind`, memoized on the files' stat) pick the
    type it is declared as; :func:`_normalize_events_ts` then turns
    each into the same UTC TIMESTAMP column:

    * int64 nanoseconds: Spark cannot scan it as a timestamp
      (PARQUET_TYPE_ILLEGAL), but reads it as ``bigint`` under a
      declared schema, with no session conf set;
    * µs/ms with ``isAdjustedToUTC=false``: ``timestamp_ntz``;
    * UTC-adjusted µs/ms, or INT96 (Spark's default output): ``timestamp``.
    """
    schema = _memo_on_files(
        _SCHEMA_CACHE,
        ("events", path),
        path,
        lambda: _EVENTS_SCHEMA.format(ts=_EVENTS_TS_TYPES[_events_ts_kind(path)]),
    )
    return _normalize_events_ts(reader.schema(schema).parquet(path))


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
    """Scan one table as a parquet FileScan, so predicates and column
    pruning reach the parquet reader.

    ``events`` is read under its declared schema (:func:`_read_events`,
    shared with ``streaming.windows.stream_events``), with ``ts``
    normalized to a UTC TIMESTAMP whatever its physical form; it never
    launches a Spark job.

    Every other table's schema is inferred once per path
    (:func:`_read_parquet`): Spark infers a parquet schema with one job
    per read, ~70 ms of pure overhead, so a warm call instead passes
    the memoized schema to ``spark.read.schema(...)`` and launches no
    job. The memo entry is stamped with the file's ``(mtime_ns,
    size)`` — for a directory, every non-hidden entry below it — and
    keyed on the session's schema-inference confs (``binaryAsString``,
    ``int96AsTimestamp``, ``inferTimestampNTZ.enabled``,
    ``nanosAsLong``, ``caseSensitive``, ``mergeSchema`` and the rest of
    :data:`_INFERENCE_CONFS`). A rewritten, added or removed file or a
    changed conf re-infers; the file listing itself is never memoized.

    The session timezone is pinned to UTC here (runtime-settable conf),
    the only conf this module writes: ``year``/``date_trunc``/date
    casts are tz-dependent, and queries must produce identical results
    under ANY caller-built session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark.read, path)
    return _read_parquet(spark, path)


def bound_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """``spark.sql(text)`` over the tables the statement names: each
    ``{name}`` placeholder is bound to ``table(spark, sf_dir, name)``.
    PySpark passes every bound DataFrame to the statement under a
    unique temp-view name and drops that view once the statement is
    analyzed, so the plan goes through one parse and one analysis,
    reads only the tables it names, and leaves the session catalog as
    it found it. Literal braces in ``text`` are doubled, as in
    ``str.format``."""
    names = {f for _, f, _, _ in string.Formatter().parse(text) if f}
    return spark.sql(text, **{n: table(spark, sf_dir, n) for n in sorted(names)})


def plain_sql(text: str) -> str:
    """A :func:`bound_sql` statement with each table placeholder
    replaced by the bare table name: the same statement over views of
    those names, as a DuckDB oracle runs it."""
    return text.format(**{name: name for name in TABLE_NAMES})


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view under its own name, for
    interactive ``spark.sql`` sessions and notebooks. Queries bind
    their tables with :func:`bound_sql` instead, which writes no
    session-global view name."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
