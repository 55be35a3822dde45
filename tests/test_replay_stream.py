"""The streaming Python data source's replay contract: offset slices
are pure functions of the row range, so readBetweenOffsets must
reproduce exactly what the live read() path emitted — the property
Spark relies on for exactly-once recovery."""

from __future__ import annotations

import pytest

from oarphpy_spark.sources.replay_stream import (
    REPLAY_SLICES,
    ReplayStreamReader,
)
from oarphpy_spark.util.scale import parquet_row_count

PATH = "/root/testdata/sf0.001/events.parquet"


def test_slices_cover_exactly_once():
    n = parquet_row_count(PATH)
    r = ReplayStreamReader(PATH, n)
    off = r.initialOffset()
    seen = []
    batches = 0
    while True:
        rows, nxt = r.read(off)
        rows = list(rows)
        if not rows:
            break
        seen += rows
        off = nxt
        batches += 1
    assert batches == REPLAY_SLICES
    assert len(seen) == n
    assert len({t[0] for t in seen}) == n  # every event_id exactly once


def test_read_between_offsets_reproduces_live_slices():
    n = parquet_row_count(PATH)
    r = ReplayStreamReader(PATH, n)
    o0 = r.initialOffset()
    rows1, o1 = r.read(o0)
    rows2, o2 = r.read(o1)
    live = list(rows1) + list(rows2)
    replay = list(r.readBetweenOffsets(o0, o2))
    assert replay == live
    # a second reader instance (fresh process stand-in) agrees too
    again = list(ReplayStreamReader(PATH, n).readBetweenOffsets(o0, o2))
    assert again == live


# Slow tier: restart/drain soak (~17 s).
@pytest.mark.slow
def test_restart_drain_is_exactly_once(spark, tmp_path):
    """Each availableNow start against the SAME checkpoint advances
    exactly one offset slice (simple stream readers snapshot one
    batch per start); after REPLAY_SLICES restarts every row has
    landed exactly once and a further start adds nothing — the
    offset-log + readBetweenOffsets recovery contract end-to-end."""
    from oarphpy_spark.sources.replay_stream import register

    register(spark)
    n = parquet_row_count(PATH)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    counts = []
    for _ in range(REPLAY_SLICES + 1):
        q = (
            spark.readStream.format("events_replay")
            .option("path", PATH)
            .option("n_rows", str(n))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(60)
        counts.append(spark.read.parquet(out).count())
    per = -(-n // REPLAY_SLICES)
    assert counts == [
        min((i + 1) * per, n) for i in range(REPLAY_SLICES)
    ] + [n]
    df = spark.read.parquet(out)
    assert df.select("event_id").distinct().count() == n


def test_slice_rounding_is_half_away_from_zero(tmp_path):
    """_read_slice must quantize value→centi-units with the SAME
    rounding as F.round / DuckDB ROUND (half away from zero on the
    exact binary expansion). Python's builtin round() is banker's
    (12.5→12) and silently diverges on exact binary halves; 0.125 is
    exactly representable, so 0.125*100 == 12.5 exactly — the
    sharpest probe for this class."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oarphpy_spark.sources.replay_stream import _read_slice

    p = str(tmp_path / "ev.parquet")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 10:05:00"] * 3
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1],
            "value": [0.125, -0.125, 0.135],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
    got = {r[0]: r[3] for r in _read_slice(p, 0, 3)}
    assert got[1] == 13  # round() would give 12
    assert got[2] == -13  # away from zero, not toward even
    # 0.135*100 is NOT an exact binary half (13.500000000000002) —
    # both schemes agree; pins that ordinary values are untouched.
    assert got[3] == 14


def test_register_in_a_child_session_after_the_parent(spark):
    """A ``newSession()`` child registers the source after its active
    parent did, can read it, and leaves the parent active."""
    from oarphpy_spark.sources.replay_stream import register

    jsession = spark._jvm.org.apache.spark.sql.SparkSession
    register(spark)
    child = spark.newSession()
    register(child)
    assert jsession.getActiveSession().get().equals(spark._jsparkSession)
    for session in (child, spark):
        feed = (
            session.readStream.format("events_replay")
            .option("path", PATH)
            .option("n_rows", "10")
            .load()
        )
        assert feed.isStreaming
