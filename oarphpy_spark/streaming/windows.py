"""Structured Streaming event analytics.

The reference has no streaming at all (SURVEY.md §2.B(i)); this module
supplies the streaming forms of the batch event-window queries
(oarphpy_spark/queries/windows_events.py) — the transformations are
the SAME ``F.window`` / ``F.session_window`` expressions, which is
exactly why the batch oracles certify the streaming semantics.

Patterns covered:
* file-source streaming reads of the events table under the batch
  loader's declared schema (``tables._read_events``; streaming
  sources cannot infer), with no session conf written but the UTC
  timezone pin,
* watermarks for bounded state / late-data handling,
* tumbling / sliding / session windowed aggregation,
* ``Trigger.AvailableNow``-style batch-equivalence testing (see
  tests/test_streaming.py): stream results == batch results on the
  same inputs.

At scale: watermark delay bounds state size; session windows shuffle
by (user, window) with state in the state store; sink should be an
idempotent/transactional writer (Delta/Kafka/foreachBatch-upsert).
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.tables import _read_events
from oarphpy_spark.util.fs import new_scratch_dir

# Streaming file sources need a DIRECTORY; lone-file feeds get a
# symlink wrapper. One wrapper per distinct source path per process
# (not per invocation — a registry of 200+ queries re-building feeds
# would otherwise leak a dir each run), made under a lock so racing
# callers share one, and removed at interpreter exit (util/fs.py).
_FILE_WRAPPERS: dict[str, str] = {}
_FILE_WRAPPERS_LOCK = threading.Lock()


def _wrapper_dir(source_file: str) -> str:
    key = os.path.realpath(source_file)
    with _FILE_WRAPPERS_LOCK:
        d = _FILE_WRAPPERS.get(key)
        if d is None or not os.path.isdir(d):
            d = new_scratch_dir("stream")
            os.symlink(key, os.path.join(d, os.path.basename(key)))
            _FILE_WRAPPERS[key] = d
    return d


def stream_events(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of the events table at ``source_dir``, a
    directory of part files or one parquet file. It is the batch
    loader's events reader (``oarphpy_spark.tables._read_events``) on
    ``spark.readStream``: the same declared schema, with the type of
    ``ts`` picked from the footers of every part file present at call
    time, and the same normalization of ``ts`` to a UTC TIMESTAMP. So
    window and watermark logic, and the batch-equivalence tests, see
    the columns ``tables.table(spark, d, "events")`` returns. The only
    session conf written is the UTC timezone pin, as in ``table``."""
    if os.path.isfile(source_dir):
        # Streaming file sources require a directory (a lone file
        # fails with "Option 'basePath' must be a directory"); wrap
        # it (cached per source path, cleaned at exit).
        source_dir = _wrapper_dir(source_dir)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _read_events(reader, source_dir)


def tumbling_counts_stream(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Streaming tumbling-window counts with watermark: state for a
    window is dropped once the watermark passes its end (bounded state
    at any scale); late rows beyond the watermark are discarded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized_stream(
    events: DataFrame, watermark: str = "2 hours", gap: str = "30 minutes"
) -> DataFrame:
    """Streaming session windows: Spark merges overlapping session state
    per user as events arrive; a session finalizes when the watermark
    passes (last_ts + gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (availableNow trigger), landing results in an in-memory table —
    the batch-equivalence test harness. Stream-stream joins require
    ``output_mode='append'``.

    Each drain runs under its own name, ``query_name`` plus a unique
    suffix: the memory sink registers its name as a session temp view,
    and Spark refuses to start a query whose name is active. The result
    is bound to the sink's data and the view is dropped, so concurrent
    drains of one plan do not collide and the session catalog is left
    as it was found."""
    spark = stream_df.sparkSession
    name = f"{query_name}_{uuid.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"streaming query {query_name!r} did not finish in {timeout_sec}s"
            )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def enriched_counts_stream(
    events: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    seg_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a
    static dimension (re-read per batch, so a nightly-refreshed dim
    parquet is picked up automatically), then roll up per segment.
    The dim side is broadcast — the stream never shuffles for the
    join, the canonical shape for enriching a 100 TB/day event feed
    with a million-row dimension."""
    joined = events.join(
        F.broadcast(dim), events[key_col] == dim[dim_key], "left"
    )
    return joined.groupBy(
        F.coalesce(F.col(seg_col), F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def distinct_users_stream(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """EXACT distinct users per tumbling window as TWO chained
    stateful operators — the Spark 3.4+ multi-stateful pipeline in
    its documented-supported form: a streaming DEDUP keyed on
    (user, window struct) collapses to the first event per user per
    window (state linear in live distinct keys, the bound any exact
    distinct pays), then a windowed aggregation counts the
    survivors. The dedup key MUST be the `F.window(...)` struct, not
    a derived bucket column like date_trunc: the window struct
    retains the event-time watermark metadata, so the dedup state
    store evicts keys once the watermark passes their window end —
    a date_trunc bucket loses that metadata and the dedup state
    would grow without bound on a continuous stream (eviction is
    pinned by tests/test_streaming_dedup.py::
    test_distinct_users_dedup_state_evicts). The bucket is derived
    from the same `window` argument as the downstream aggregation,
    so non-hour windows count true per-window distincts. This is the
    streaming form of the two-phase exact COUNT(DISTINCT) rewrite
    batch planners do."""
    dedup = (
        events.withWatermark("ts", watermark)
        .withColumn("w", F.window("ts", window))
        .dropDuplicates(["user_id", "w"])
    )
    return (
        dedup.groupBy("w")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "n_users",
        )
    )
