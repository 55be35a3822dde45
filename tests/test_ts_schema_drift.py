"""Timestamp physical-form drift guard.

The driver's fixture generator has shipped ``events.ts`` in different
parquet physical forms across regenerations (int64 nanoseconds, then
microsecond TIMESTAMP with isAdjustedToUTC=false). Both the batch
loader (``oarphpy_spark.tables.table``) and the streaming source
(``oarphpy_spark.streaming.windows.stream_events``) must normalize
every form to the same UTC TIMESTAMP column — these tests write the
same logical rows in each physical form and assert identical loaded
values, so the next regeneration can't silently shift every
time-based query again.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from oarphpy_spark.tables import table

# One logical fixture: three events, microsecond-precision wall times.
_US = [1_700_000_000_000_000, 1_700_000_123_456_789, 1_700_003_600_000_000]
_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 10, 11],
    "event_type": ["view", "click", "view"],
    "value": [1.0, 2.5, 3.25],
    "props": ["{}", "{}", "{}"],
}


def _write(dirpath: str, ts_array: pa.Array) -> str:
    tbl = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(tbl, os.path.join(dirpath, "events.parquet"))
    return dirpath


def _forms(base: str) -> dict[str, str]:
    return {
        "nanos_int64": _write(
            os.path.join(base, "nanos"),
            pa.array([u * 1000 for u in _US], pa.timestamp("ns")),
        ),
        "micros_ntz": _write(
            os.path.join(base, "ntz"),
            pa.array(_US, pa.timestamp("us")),
        ),
        "micros_utc": _write(
            os.path.join(base, "utc"),
            pa.array(_US, pa.timestamp("us", tz="UTC")),
        ),
    }


def test_batch_loader_normalizes_all_ts_forms(spark, tmp_path):
    got = {}
    for form, d in _forms(str(tmp_path)).items():
        df = table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", form
        got[form] = sorted(
            (r["event_id"], r["us"])
            for r in df.select(
                "event_id", F.unix_micros("ts").alias("us")
            ).collect()
        )
    expect = sorted(zip(_ROWS["event_id"], _US))
    for form, rows in got.items():
        assert rows == expect, f"{form}: {rows}"


def test_stream_source_normalizes_all_ts_forms(spark, tmp_path):
    from oarphpy_spark.streaming.windows import stream_events

    for form, d in _forms(str(tmp_path)).items():
        events = stream_events(spark, os.path.join(d, "events.parquet"))
        assert events.isStreaming
        assert dict(events.dtypes)["ts"] == "timestamp", form
        q = (
            events.select("event_id", F.unix_micros("ts").alias("us"))
            .writeStream.format("memory")
            .queryName(f"t_drift_{form}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = sorted(
            (r["event_id"], r["us"])
            for r in spark.sql(f"SELECT * FROM t_drift_{form}").collect()
        )
        assert rows == sorted(zip(_ROWS["event_id"], _US)), form


def test_nanos_conf_not_leaked_by_batch_loader(spark, tmp_path):
    """Reading events must not mutate session conf as a side effect:
    after table() loads a genuinely-ns events fixture, an UNRELATED
    ns-timestamp parquet read on the same session must behave exactly
    as it would on a fresh session (PARQUET_TYPE_ILLEGAL), not
    silently surface as bigint — and the loaded events DataFrame must
    still collect correctly after the conf was restored."""
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf_key)

    forms = _forms(str(tmp_path))
    ns_dir = forms["nanos_int64"]
    df = table(spark, ns_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert spark.conf.get(conf_key, None) in (None, "false"), (
        "table() leaked nanosAsLong into the session"
    )

    # The returned DataFrame stays usable after the conf restore.
    rows = sorted(
        (r["event_id"], r["us"])
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    )
    assert rows == sorted(zip(_ROWS["event_id"], _US))

    # An unrelated ns parquet read hits the session-default behavior.
    other = os.path.join(str(tmp_path), "other")
    os.makedirs(other, exist_ok=True)
    pq.write_table(
        pa.table({"ts": pa.array([1, 2, 3], pa.timestamp("ns"))}),
        os.path.join(other, "other.parquet"),
    )
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(os.path.join(other, "other.parquet")).collect()

    # Non-ns events fixtures never touch the conf at all.
    table(spark, forms["micros_ntz"], "events")
    table(spark, forms["micros_utc"], "events")
    assert spark.conf.get(conf_key, None) in (None, "false")


def test_nanos_conf_prior_value_restored(spark, tmp_path):
    """If the caller had set nanosAsLong themselves, table() must put
    their value back, not clobber it."""
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(conf_key, "true")
    try:
        ns_dir = _forms(str(tmp_path))["nanos_int64"]
        table(spark, ns_dir, "events")
        assert spark.conf.get(conf_key) == "true"
    finally:
        spark.conf.unset(conf_key)


@pytest.mark.parametrize("col", ["o_orderdate"])
def test_orders_date_column_usable_under_ntz(spark, col):
    """date_trunc/year/date_format — the operations our queries apply
    to order/ship dates — must work whatever flavor the fixture
    carries (TIMESTAMP or TIMESTAMP_NTZ)."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    orders = table(spark, sf, "orders")
    out = orders.select(
        F.date_trunc("month", col).alias("m"),
        F.year(col).alias("y"),
        F.date_format(col, "yyyy-MM").alias("ym"),
    ).first()
    assert out["y"] >= 1990 and out["ym"].startswith(str(out["y"]))


def test_mixed_physical_forms_in_one_directory_raise(tmp_path):
    """A directory mixing ns and µs part files (e.g. after a partial
    fixture regeneration) cannot be classified by one kind — the
    footer probe must refuse loudly instead of mis-schematizing the
    scan (an earlier probe looked only at the first part)."""
    from oarphpy_spark.tables import _events_ts_kind

    d = tmp_path / "events.parquet"
    os.makedirs(d)
    tbl_ns = pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))})
    tbl_us = pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))})
    pq.write_table(tbl_ns, d / "part-0.parquet")
    pq.write_table(tbl_us, d / "part-1.parquet")
    with pytest.raises(ValueError, match="mixed physical timestamp forms"):
        _events_ts_kind(str(d))
    # the same mix across hive partitions
    h = tmp_path / "hive.parquet"
    for k, tbl in ((1, tbl_ns), (2, tbl_us)):
        os.makedirs(h / f"k={k}")
        pq.write_table(tbl, h / f"k={k}" / "part-0.parquet")
    with pytest.raises(ValueError, match="mixed physical timestamp forms"):
        _events_ts_kind(str(h))


def test_homogeneous_directory_probes_all_parts(tmp_path):
    from oarphpy_spark.tables import _events_ts_kind

    d = tmp_path / "events.parquet"
    os.makedirs(d)
    tbl_us = pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))})
    pq.write_table(tbl_us, d / "part-0.parquet")
    pq.write_table(tbl_us, d / "part-1.parquet")
    assert _events_ts_kind(str(d)) == "ntz"
    # hive-partitioned (k=1/, k=2/, k=3/; 5 ns rows): the parts below
    # the partition dirs are probed, not the top-level listing
    h = tmp_path / "hive.parquet"
    ns = 1_700_000_000_000_000_000
    for k, n in ((1, 2), (2, 1), (3, 2)):
        os.makedirs(h / f"k={k}")
        tbl = pa.table({"ts": pa.array([ns + i for i in range(n)], pa.timestamp("ns"))})
        pq.write_table(tbl, h / f"k={k}" / "part-0.parquet")
    assert _events_ts_kind(str(h)) == "ns"


def test_spark_written_int96_events_read_in_batch_and_stream(spark, tmp_path):
    """Spark writes timestamps as INT96 by default, which pyarrow
    reports as timestamp[ns]: the footer probe must declare ``ts`` a
    TIMESTAMP (not the int64-nanos ``bigint``), so ``table()`` and
    ``stream_events`` read a Spark-written events table as is."""
    from oarphpy_spark.streaming.windows import run_to_memory_sink, stream_events

    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        assert spark.conf.get(key) == "INT96"
        src = spark.createDataFrame(
            list(zip(_ROWS["event_id"], _US, _ROWS["user_id"], _ROWS["event_type"],
                     _ROWS["value"], _ROWS["props"])),
            "event_id bigint, us bigint, user_id bigint, event_type string, "
            "value double, props string",
        ).select(
            "event_id", F.timestamp_micros("us").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        path = os.path.join(str(tmp_path), "events.parquet")
        src.coalesce(1).write.parquet(path)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
    part = next(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )
    leaves = pq.ParquetFile(part).schema
    assert leaves.column(leaves.names.index("ts")).physical_type == "INT96"

    expect = sorted(zip(_ROWS["event_id"], _US))
    df = table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    assert sorted((r["event_id"], r["us"]) for r in got) == expect

    events = stream_events(spark, path)
    out = run_to_memory_sink(
        events.select("event_id", F.unix_micros("ts").alias("us")),
        "t_drift_int96",
        output_mode="append",
    )
    assert sorted((r["event_id"], r["us"]) for r in out.collect()) == expect


def test_reads_keep_instants_and_session_timezone(spark, tmp_path):
    """Batch and stream reads of every form give the same instants under
    a non-UTC session as under UTC, and leave the caller's timezone as
    it was: no read writes ``spark.sql.session.timeZone``."""
    from oarphpy_spark.streaming.windows import stream_events

    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    forms = _forms(str(tmp_path))
    expect = sorted(zip(_ROWS["event_id"], _US))
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set(key, tz)
            for form, d in forms.items():
                batch = table(spark, d, "events").select(
                    "event_id", F.unix_micros("ts").alias("us")
                )
                assert sorted(map(tuple, batch.collect())) == expect, (tz, form)
                q = (
                    stream_events(spark, os.path.join(d, "events.parquet"))
                    .select("event_id", F.unix_micros("ts").alias("us"))
                    .writeStream.format("memory")
                    .queryName(f"t_tz_{form}")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(60)
                rows = spark.sql(f"SELECT * FROM t_tz_{form}").collect()
                spark.sql(f"DROP VIEW IF EXISTS t_tz_{form}")
                assert sorted(map(tuple, rows)) == expect, (tz, form, "stream")
                assert spark.conf.get(key) == tz, (tz, form)
    finally:
        spark.conf.set(key, prior)
