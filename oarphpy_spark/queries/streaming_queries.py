"""Oracle-checked Structured Streaming queries.

A streaming query drained over a STATIC feed with
``Trigger.AvailableNow`` is deterministic — the stream processes
exactly the files on disk and emits the same aggregates the batch
plan would — so streaming operators can sit under the same exact
DuckDB oracle gate as every batch query, not a weaker rows-only
check. Each query here builds the streaming plan from
``oarphpy_spark.streaming.windows``, drains it into an in-memory
sink, and returns the sink table; the oracle is the batch SQL
restatement (identical to the batch twins in
``queries/windows_events.py``, which is the point: stream == batch
on the same input is Structured Streaming's core contract).

At scale the only differences are operational, not semantic: a real
deployment replaces the memory sink with an idempotent/transactional
sink (see streaming/sinks.py, streaming/upsert.py), keeps the
watermark for state eviction, and lets the same code run continuous
micro-batches instead of one availableNow drain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from oarphpy_spark.registry import query
from oarphpy_spark.streaming.windows import (
    enriched_counts_stream,
    run_to_memory_sink,
    sessionized_stream,
    stream_events,
    tumbling_counts_stream,
)
from oarphpy_spark.util.checkpoints import truncate_lineage


def _events_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_events(spark, os.path.join(sf_dir, "events.parquet"))


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts (watermarked, availableNow
    drain) checked against the BATCH oracle — the stream==batch
    equivalence that certifies the streaming plan's semantics
    (streaming/windows.py:tumbling_counts_stream). State per window
    is dropped when the watermark passes its end; on a static drain
    nothing is late, so the emitted aggregate equals the batch
    groupBy(window(...)) exactly."""
    return run_to_memory_sink(
        tumbling_counts_stream(_events_feed(spark, sf_dir)),
        "q_stream_tumbling_sink",
    )


@query(
    "q_stream_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-minute gap, per user) drained
    availableNow and checked against the classic gaps-and-islands SQL
    — the batch oracle of q_events_session certifying the STREAMING
    session_window operator, whose state-merge path (sessions extend
    and merge as events arrive) is the part batch execution never
    exercises."""
    return run_to_memory_sink(
        sessionized_stream(_events_feed(spark, sf_dir), gap="30 minutes"),
        "q_stream_sessionize_sink",
    )


@query(
    "q_stream_enriched",
    oracle="""
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: each micro-batch broadcast-joins the
    static customer dimension (re-read per batch — a refreshed dim
    parquet is picked up automatically), then rolls up per segment.
    The canonical 100 TB/day-feed shape: the stream never shuffles
    for the join; only the segment rollup exchanges
    (streaming/windows.py:enriched_counts_stream)."""
    from oarphpy_spark.tables import table

    dim = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return run_to_memory_sink(
        enriched_counts_stream(_events_feed(spark, sf_dir), dim),
        "q_stream_enriched_sink",
    )


@query(
    "q_stream_upsert",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT o_custkey AS k,
           o_orderkey AS last_order,
           ROUND(o_totalprice, 2) AS last_total
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming MERGE under the exact oracle: the orders
    table becomes a CDC feed (key = custkey, seq = orderkey, every
    97th order a delete), drained through run_upsert_stream — durable
    checkpoint, foreachBatch apply_cdc (max_by latest-wins compact +
    ONE full-outer join), copy-on-write generation swap, retention
    prune — and the committed snapshot is returned. The oracle is the
    latest-wins window restatement: one row per customer whose most
    recent change is not a delete. The snapshot is eagerly
    checkpointed so the scratch directory (stream feed + generations
    + checkpoint) can be removed before returning — nothing leaks."""
    import shutil

    from pyspark.sql import functions as F

    from oarphpy_spark.streaming.upsert import (
        read_snapshot,
        run_upsert_stream,
    )
    from oarphpy_spark.tables import table
    from oarphpy_spark.util.fs import scratch_dir

    work = os.path.join(
        scratch_dir(), f"oarphpy_spark_stream_upsert_{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    root = os.path.join(work, "snap")
    changes = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 97 == 0, "D").otherwise("U").alias("op"),
        F.col("o_orderkey").alias("last_order"),
        F.round("o_totalprice", 2).alias("last_total"),
    )
    changes.write.parquet(feed)
    stream = spark.readStream.schema(
        "k bigint, seq bigint, op string, last_order bigint, "
        "last_total double"
    ).parquet(feed)
    q = run_upsert_stream(stream, root, "k", f"q_stream_upsert_{os.getpid()}")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("q_stream_upsert drain did not finish")
    snap = truncate_lineage(read_snapshot(spark, root))
    shutil.rmtree(work, ignore_errors=True)
    return snap


@query(
    "q_stream_stateful_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the exact oracle:
    ``applyInPandasWithState`` keeps a running (count, sum) pair per
    user in the state store (streaming/stateful.py) — the API for
    semantics built-in windowed aggs can't express. Drained
    availableNow over the static feed, each user's final emission
    equals the batch groupBy, so the Python-side state machinery
    (Arrow batches per key per trigger, state get/update) is
    value-hash-checked, not just pytest-asserted. total_value is
    rounded to 4 dp on both sides — the repo-wide float-aggregate
    convention — because the state update's pandas (pairwise) sum and
    DuckDB's sequential sum can differ in the last ulp."""
    from pyspark.sql import functions as F

    from oarphpy_spark.streaming.stateful import running_user_totals

    sink = run_to_memory_sink(
        running_user_totals(_events_feed(spark, sf_dir)),
        "q_stream_stateful_sink",
        output_mode="update",
    )
    return sink.select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "q_stream_sliding",
    oracle="""
    SELECT (epoch_us(ts) // 900000000 - k.k) * 900000000 AS window_start_us,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 hour long, 15-minute slide — each
    event in exactly 4 windows) drained availableNow against the
    batch enumeration oracle; completes the stream==batch window trio
    (tumbling / sliding / session) under the exact gate. Sliding
    state is 4x tumbling's but still watermark-bounded
    (streaming/windows.py:sliding_counts_stream)."""
    from oarphpy_spark.streaming.windows import sliding_counts_stream

    return run_to_memory_sink(
        sliding_counts_stream(_events_feed(spark, sf_dir)),
        "q_stream_sliding_sink",
    )


@query(
    "q_stream_dropdup",
    oracle="""
    SELECT DISTINCT
      md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
        AS fingerprint
    FROM documents
    """,
)
def q_stream_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time streaming dedup with the built-in
    ``dropDuplicates``: one row per normalized-content fingerprint
    ever seen on the stream. Only the KEY is projected — which row of
    a duplicate group arrives first is scheduling-dependent, the key
    set is not — so the availableNow drain is exactly the batch
    DISTINCT and sits under the hash gate. The custom
    transformWithState variant (streaming/dedup.py) adds TTL-bounded
    state and deterministic winner selection; built-in dropDuplicates
    keeps state forever — fine for a bounded backfill, the TTL form
    is the unbounded-ingest shape."""
    import os as _os

    from pyspark.sql import functions as F

    from oarphpy_spark.streaming.windows import stream_events  # noqa: F401

    feed_path = _os.path.join(sf_dir, "documents.parquet")
    d = feed_path
    wrap = None
    if _os.path.isfile(d):
        import tempfile

        wrap = tempfile.mkdtemp(prefix="oarphpy_spark_docfeed_")
        _os.symlink(d, _os.path.join(wrap, _os.path.basename(d)))
        d = wrap
    try:
        stream = spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint"
        ).parquet(d)
        norm = F.regexp_replace(
            F.trim(F.lower(F.col("text"))), "\\s+", " "
        )
        keyed = stream.select(
            F.md5(norm.cast("binary")).alias("fingerprint")
        )
        deduped = keyed.dropDuplicates(["fingerprint"])
        return run_to_memory_sink(
            deduped, "q_stream_dropdup_sink", output_mode="append"
        )
    finally:
        if wrap is not None:
            # run_to_memory_sink drains availableNow synchronously, so
            # the wrapper dir (and its symlink) is dead weight by now.
            import shutil as _shutil

            _shutil.rmtree(wrap, ignore_errors=True)


@query(
    "q_stream_interval_join",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us,
           c.event_id AS click_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the exact oracle: purchases
    and clicks from the same feed joined as two live streams — every
    purchase matched to same-user clicks in the preceding hour
    (streaming/joins.py). Both sides carry watermarks and the join
    condition bounds the event-time gap, so the state store evicts a
    click once the watermark passes click_ts + lag — state is
    O(rate x window) forever, the only admissible stream-stream join
    shape. Drained availableNow (append mode — interval-join rows
    finalize when the watermark passes) the output equals the batch
    theta-join the oracle states."""
    from oarphpy_spark.streaming.joins import (
        purchase_click_attribution_stream,
    )

    return run_to_memory_sink(
        purchase_click_attribution_stream(_events_feed(spark, sf_dir)),
        "q_stream_interval_join_sink",
        output_mode="append",
    )


@query(
    "q_stream_late_data",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    GROUP BY 1
    """,
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA DROP under the exact oracle: a 3-batch feed
    — the on-time events split in two, then a full REPLAY of every
    event older than (max ts - 2 days) posing as a late/duplicate
    delivery — drained with maxFilesPerTrigger=1 so each file is its
    own micro-batch in mtime order. By the replay batch the watermark
    (10-minute delay) is days ahead of every replayed row, so the
    state store discards ALL of them (observable as
    numRowsDroppedByWatermark); the emitted tumbling counts equal the
    batch aggregate over the ORIGINAL events only — if even one
    replayed row survived, its window would double-count and the
    value hash would diverge. The on-time feed is split in two
    because Spark's late-record filter applies the watermark with a
    one-trigger lag (the batch-N filter uses the watermark computed
    before batch N-1 finished): a replay in batch 1 would still be
    absorbed; by batch 2 the filter is armed. This is the eviction
    semantics that bounds aggregation state at 100 TB/day: without
    the drop, every hourly window ever seen stays resident forever.
    Output: finalized windows only (append mode — window end at or
    below the final watermark)."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from oarphpy_spark.tables import table
    from oarphpy_spark.util.fs import scratch_dir

    work = os.path.join(
        scratch_dir(), f"oarphpy_spark_stream_late_{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    try:
        ev = table(spark, sf_dir, "events").select("event_id", "ts")
        mx = ev.agg(F.max("ts")).collect()[0][0]
        parts = [
            ("a1", ev.filter(F.col("event_id") % 2 == 0), 300),
            ("a2", ev.filter(F.col("event_id") % 2 == 1), 200),
            (
                "b",
                ev.filter(
                    F.col("ts") < F.lit(mx) - F.expr("INTERVAL 2 DAYS")
                ),
                100,
            ),
        ]
        now = time.time()
        for name, df, age in parts:
            tmp = os.path.join(work, f"tmp_{name}")
            df.coalesce(1).write.parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(feed, f"{name}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (now - age, now - age))
        stream = (
            spark.readStream.schema("event_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(
                F.unix_micros("w.start").alias("window_start_us"), "n"
            )
        )
        out = run_to_memory_sink(
            agg, "q_stream_late_data_sink", output_mode="append"
        )
        return truncate_lineage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q_stream_ohlc",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT epoch_us(h) AS bar_start_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM r GROUP BY h
    """,
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC bars — the q_ohlc_bars rollup as a watermarked
    tumbling-window aggregation with ORDERED picks (min_by/max_by on
    a (ts, event_id) struct) running inside the streaming state
    store, drained availableNow under the same batch oracle. The
    ordered-pick aggregates matter here: open/close in a stream
    cannot come from a window sort (state is incremental), only from
    a partial-aggregable argmin/argmax — which is exactly what
    min_by/max_by give the state store. State per bar is one
    (open-key, open, high, low, close-key, close, count) tuple,
    bounded and watermark-evicted."""
    from pyspark.sql import functions as F

    feed = _events_feed(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        feed.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close_v"),
            F.count("*").alias("volume"),
        )
        .select(
            F.unix_micros("w.start").alias("bar_start_us"),
            "open",
            "high",
            "low",
            "close_v",
            "volume",
        )
    )
    return run_to_memory_sink(agg, "q_stream_ohlc_sink")


@query(
    "q_stream_distinct_users",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct-user counts per hour window under the
    batch COUNT(DISTINCT) oracle — two CHAINED stateful operators
    (watermarked dedup on (user, hour), then a windowed count), the
    Spark 3.4+ multi-stateful pipeline that batch execution never
    exercises. The drain is availableNow over the static feed, so
    stream==batch exactly (streaming/windows.py:
    distinct_users_stream). Integer counts only."""
    from oarphpy_spark.streaming.windows import distinct_users_stream

    return run_to_memory_sink(
        distinct_users_stream(_events_feed(spark, sf_dir)),
        "q_stream_distinct_users_sink",
    )


@query(
    "q_stream_python_source",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_centi
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python data source (SimpleDataSourceStreamReader
    — the streaming half of the API whose batch half drives the
    archive/tfrecords sources): replay the events table in 4
    deterministic row-offset slices, aggregate per hour in complete
    mode, and drain by awaiting the KNOWN total row count (the feed
    is bounded, so completion is a row-count fact, not a watermark
    guess — availableNow snapshots only the first offset for simple
    readers). readBetweenOffsets reproduces any slice verbatim on
    replay, which is what makes the drained aggregate equal the batch
    oracle regardless of micro-batch boundaries or retries."""
    import os as _os
    import time
    import uuid

    from pyspark.sql import functions as F

    from oarphpy_spark.sources.replay_stream import register
    from oarphpy_spark.util.scale import parquet_row_count

    register(spark)
    path = _os.path.join(sf_dir, "events.parquet")
    n_rows = parquet_row_count(path)
    feed = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("n_rows", str(n_rows))
        .load()
    )
    agg = feed.groupBy("hour_us").agg(
        F.count("*").alias("n"),
        F.sum("v_centi").alias("sum_centi"),
    )
    # A unique name per drain, dropped at the end: the memory sink's
    # name is a session temp view (see run_to_memory_sink).
    sink = f"q_stream_python_source_sink_{uuid.uuid4().hex}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            got = (
                spark.table(sink)
                .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("t"))
                .collect()[0]["t"]
            )
            if got >= n_rows:
                break
            time.sleep(0.5)
        else:
            raise TimeoutError(
                f"replay drain incomplete: {sink} never reached {n_rows}"
            )
        return spark.table(sink).orderBy("hour_us")
    finally:
        q.stop()
        spark.catalog.dropTempView(sink)


@query(
    "q_stream_hierarchical_rollup",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT epoch_us(date_trunc('day', ts)) AS day_us,
           CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
             AS n_hours,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_centi
    FROM events
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
    GROUP BY 1
    """,
)
def q_stream_hierarchical_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED streaming window aggregations — hourly totals rolled
    into daily totals inside ONE streaming query, the Spark 3.5+
    multi-window pipeline (the second groupBy windows over
    window_time() of the first, which preserves the event-time
    column so the global watermark stays correct). This is the
    incremental form of every hierarchical rollup dashboard: the
    hourly state finalizes and flows upward without a batch
    re-aggregation; daily output is append-mode, so only days whose
    END the watermark passed are emitted — the oracle restates
    exactly that cutoff (max ts - 1 hour delay). Counts and
    centi-value sums are integers; n_hours doubles as a structural
    check that the first stage really emitted one row per hour."""
    from pyspark.sql import functions as F

    hourly = (
        _events_feed(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "hv"
            )
        )
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("dw")
        )
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("hv").alias("sum_centi"),
        )
        .select(
            F.unix_micros("dw.start").alias("day_us"),
            "n_hours",
            "sum_centi",
        )
    )
    return run_to_memory_sink(
        daily, "q_stream_hier_rollup_sink", output_mode="append"
    )


@query(
    "q_stream_dedup_within_watermark",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_centi
    FROM events
    GROUP BY 1
    """,
)
def q_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the Spark 3.5+ dedup
    variant whose KEY carries no event time at all (here: bare
    event_id), exactly the at-least-once-delivery shape
    ``dropDuplicates`` can't bound: state for a key is retained only
    within the watermark horizon of its first sighting, then
    evicted, so duplicates from retried deliveries collapse without
    the key needing a window struct. The feed replays the ENTIRE
    events table as a second micro-batch (a full redelivery); the
    watermark delay spans the data, so every replayed row is inside
    the horizon and must be eliminated by dedup STATE, not by the
    late-row filter (q_stream_late_data covers that path). Counts
    equal the batch aggregate over unique events — one surviving
    duplicate doubles a bucket and breaks the hash. Chained into a
    windowed aggregation downstream (the supported multi-stateful
    pipeline)."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from oarphpy_spark.tables import table as _table
    from oarphpy_spark.util.fs import scratch_dir

    work = os.path.join(
        scratch_dir(), f"oarphpy_spark_stream_ddww_{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    try:
        ev = _table(spark, sf_dir, "events").select(
            "event_id", "ts", "value"
        )
        now = time.time()
        for name, age in (("orig", 300), ("replay", 100)):
            tmp = os.path.join(work, f"tmp_{name}")
            ev.coalesce(1).write.parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(feed, f"{name}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (now - age, now - age))
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        deduped = stream.withWatermark(
            "ts", "60 days"
        ).dropDuplicatesWithinWatermark(["event_id"])
        agg = (
            deduped.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("bigint")
                ).alias("sum_centi"),
            )
            .select(
                F.unix_micros("w.start").alias("hour_us"),
                "n",
                "sum_centi",
            )
        )
        out = run_to_memory_sink(agg, "q_stream_ddww_sink")
        return truncate_lineage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q_stream_running_anomaly",
    oracle="""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cv
      FROM events
    ), lagged AS (
      SELECT user_id, cv,
             COUNT(*) OVER w AS n,
             CAST(COALESCE(SUM(cv) OVER w, 0) AS HUGEINT) AS s,
             CAST(COALESCE(SUM(CAST(cv AS HUGEINT) * cv) OVER w, 0)
                  AS HUGEINT) AS ss
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN n >= 8
                 AND (n * CAST(cv AS HUGEINT) - s)
                     * (n * CAST(cv AS HUGEINT) - s)
                     > 9 * (n * ss - s * s)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_flags
    FROM lagged GROUP BY user_id ORDER BY user_id
    """,
)
def q_stream_running_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator under the exact oracle:
    per-user running 3-sigma anomaly detection via
    ``applyInPandasWithState`` (streaming/stateful.py:
    running_anomaly_flags) — state is three exact integers (n, sum,
    sumsq of centi-values) per user, each arriving event is judged
    against the PRIOR state only, and the z^2 threshold is a pure
    integer cross-multiplication in arbitrary-precision Python ints.
    The feed splits the events table at its time MIDPOINT into two
    micro-batches (mtime-ordered, maxFilesPerTrigger=1), so state
    provably carries across a trigger boundary — the flag a
    mid-stream event gets depends on statistics accumulated in the
    previous batch. The oracle restates the whole run as
    lagged-cumulative windows (UNBOUNDED PRECEDING TO 1 PRECEDING) in
    128-bit — the batch form of 'judge against prior state'. This is
    the operator class (custom per-key accumulators) the built-in
    windowed aggregations can't express."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from oarphpy_spark.streaming.stateful import running_anomaly_flags
    from oarphpy_spark.streaming.windows import run_to_memory_sink
    from oarphpy_spark.tables import table as _table
    from oarphpy_spark.util.fs import scratch_dir

    work = os.path.join(
        scratch_dir(), f"oarphpy_spark_stream_anom_{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    try:
        ev = _table(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        )
        mid = ev.agg(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
            .cast("bigint")
            .alias("m")
        ).collect()[0]["m"]
        now = time.time()
        halves = [
            ("a", ev.filter(F.unix_micros("ts") < mid), 300),
            ("b", ev.filter(F.unix_micros("ts") >= mid), 100),
        ]
        for name, df, age in halves:
            tmp = os.path.join(work, f"tmp_{name}")
            df.coalesce(1).write.parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(feed, f"{name}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (now - age, now - age))
        stream = (
            spark.readStream.schema(
                "user_id bigint, ts timestamp, event_id bigint, cv bigint"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        out = run_to_memory_sink(
            running_anomaly_flags(stream),
            "q_stream_anom_sink",
            output_mode="update",
        )
        final = (
            out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.sum("n_flags").alias("n_flags"),
            )
            .orderBy("user_id")
        )
        return truncate_lineage(final)
    finally:
        shutil.rmtree(work, ignore_errors=True)
