"""Structured Streaming correctness: streaming results must equal the
batch forms of the same window expressions on the same input (the
availableNow + memory-sink harness)."""

from __future__ import annotations

import pytest

from oarphpy_spark import registry
from oarphpy_spark.streaming.stateful import running_user_totals
from oarphpy_spark.streaming.windows import (
    run_to_memory_sink,
    sessionized_stream,
    sliding_counts_stream,
    stream_events,
    tumbling_counts_stream,
)

from .conftest import SF_SMALL


def _rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_streaming_tumbling_equals_batch(spark):
    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    assert events.isStreaming
    got = run_to_memory_sink(
        tumbling_counts_stream(events), "t_tumbling_test"
    )
    want = registry.queries()["q_events_tumbling"](spark, SF_SMALL)
    cols = ["window_start_us", "event_type", "n", "sum_value"]
    assert _rows_set(got, cols) == _rows_set(want, cols)


def test_streaming_sliding_equals_batch(spark):
    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    got = run_to_memory_sink(
        sliding_counts_stream(events), "t_sliding_test"
    )
    want = registry.queries()["q_events_sliding"](spark, SF_SMALL)
    cols = ["window_start_us", "event_type", "n", "sum_value"]
    assert _rows_set(got, cols) == _rows_set(want, cols)


def test_streaming_session_equals_batch(spark):
    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    got = run_to_memory_sink(
        sessionized_stream(events), "t_session_test"
    )
    want = registry.queries()["q_events_session"](spark, SF_SMALL)
    cols = ["user_id", "session_start_us", "session_end_us", "n_events", "sum_value"]
    assert _rows_set(got, cols) == _rows_set(want, cols)


def test_stateful_running_totals(spark):
    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    totals = running_user_totals(events)
    q = (
        totals.writeStream.format("memory")
        .queryName("t_user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in spark.table("t_user_totals").collect()
    }
    from oarphpy_spark.tables import table
    from pyspark.sql import functions as F

    want = {
        r["user_id"]: (r["n"], round(r["s"], 4))
        for r in table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_static_join_equals_batch(spark):
    from oarphpy_spark.streaming.windows import enriched_counts_stream

    from pyspark.sql import functions as F

    dim = spark.read.parquet(f"{SF_SMALL}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    got = run_to_memory_sink(
        enriched_counts_stream(events, dim), "t_enrich_test"
    )
    from oarphpy_spark.tables import table

    batch_events = table(spark, SF_SMALL, "events")
    want = enriched_counts_stream(batch_events, dim)
    cols = ["segment", "n", "sum_value"]
    assert _rows_set(got, cols) == _rows_set(want, cols)


def test_stream_stream_interval_join_equals_batch(spark):
    """Stream-stream inner join with watermarks + time-interval
    condition: append-mode result over availableNow must equal the
    SAME join expressions run in batch (the interval condition is what
    makes click-state evictable — without it Spark rejects the plan)."""
    from oarphpy_spark.streaming.joins import purchase_click_attribution_stream
    from oarphpy_spark.tables import table

    events_s = stream_events(spark, f"{SF_SMALL}/events.parquet")
    got = run_to_memory_sink(
        purchase_click_attribution_stream(events_s),
        "t_ss_join_test",
        output_mode="append",
    )
    events_b = table(spark, SF_SMALL, "events")
    want = purchase_click_attribution_stream(events_b)
    cols = [
        "event_id", "user_id", "purchase_ts_us", "click_ts_us",
        "click_event_id",
    ]
    got_set, want_set = _rows_set(got, cols), _rows_set(want, cols)
    assert got_set == want_set
    assert len(want_set) > 0  # fixture must actually exercise the join


def test_stream_stream_join_interval_bounds_state(spark):
    """The time-interval condition is what lets the state store evict
    old click rows. Spark ACCEPTS an unconstrained stream-stream inner
    join (state simply grows forever), so the guard is on the plan:
    the interval join must carry watermark metadata on both sides and
    a range condition tying the two event times together."""
    from oarphpy_spark.streaming.joins import purchase_click_attribution_stream

    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    plan = purchase_click_attribution_stream(
        events
    )._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") >= 2
    # both event-time columns carry the watermark delay tag (-T...ms)
    assert plan.count("-T7200000ms") >= 2
    assert "ts_r" in plan and ">=" in plan


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """foreachBatch sink must be replay-safe: re-delivering a committed
    batch (Spark's at-least-once contract after crash recovery) adds
    zero duplicate rows."""
    from oarphpy_spark.streaming.sinks import (
        committed_batches,
        idempotent_parquet_sink,
    )

    root = str(tmp_path / "sink")
    import os
    os.makedirs(root)
    write = idempotent_parquet_sink(root)

    b0 = spark.range(10).toDF("id")
    b1 = spark.range(10, 25).toDF("id")
    write(b0, 0)
    write(b1, 1)
    write(b0, 0)  # crash-recovery replay of a committed batch
    assert committed_batches(root) == [0, 1]
    got = spark.read.parquet(root)
    assert got.count() == 25  # no duplicates
    # partition pruning on batch_id works for readers
    assert got.filter("batch_id = 1").count() == 15


def test_idempotent_sink_end_to_end_stream(spark, tmp_path):
    """The sink wired to a real availableNow stream: all input rows
    land exactly once."""
    from oarphpy_spark.streaming.sinks import idempotent_parquet_sink
    from oarphpy_spark.tables import table

    import os
    root = str(tmp_path / "sink2")
    os.makedirs(root)
    events = stream_events(spark, f"{SF_SMALL}/events.parquet")
    q = (
        events.select("event_id", "event_type")
        .writeStream.foreachBatch(idempotent_parquet_sink(root))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120)
    n_batch = table(spark, SF_SMALL, "events").count()
    assert spark.read.parquet(root).count() == n_batch


def test_ns_stream_leaves_session_conf_unset(spark, tmp_path):
    """Draining a stream over int64-nanosecond events sets no session
    conf: ``nanosAsLong`` stays unset, so an unrelated ns parquet read
    on the same session still fails as on a fresh one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from .test_ts_schema_drift import _US, _forms

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf_key)
    ns_dir = _forms(str(tmp_path))["nanos_int64"]
    events = stream_events(spark, os.path.join(ns_dir, "events.parquet"))
    got = run_to_memory_sink(
        events.select("event_id", F.unix_micros("ts").alias("us")),
        "t_ns_conf_unset",
        output_mode="append",
    )
    assert sorted(r["us"] for r in got.collect()) == sorted(_US)
    assert spark.conf.get(conf_key, None) is None

    other = os.path.join(str(tmp_path), "other.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), other)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(other).collect()


def test_concurrent_memory_sink_drains_match_oracle(spark):
    """Two threads drain ``q_stream_tumbling`` at once in one session.
    Each drain runs under its own memory-sink name, so neither start is
    refused as a duplicate of an active query, and both results match
    the DuckDB oracle."""
    import threading

    from oarphpy_spark.testing.parity import run_parity

    barrier = threading.Barrier(2)
    problems: list = [None, None]

    def drain(i):
        barrier.wait()
        try:
            problems[i] = run_parity(spark, "q_stream_tumbling", SF_SMALL)
        except Exception as e:  # noqa: BLE001 — reported below
            problems[i] = [repr(e)]

    threads = [threading.Thread(target=drain, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert problems == [[], []], problems
