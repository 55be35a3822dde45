"""Long-soak streaming state checks: the
eviction tests prove eviction fires once; these soaks prove state is
BOUNDED — the actual production property — by driving ~50
micro-batches and asserting the state-store row count plateaus at the
live-key working set instead of growing with batches processed."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import pytest

# Whole module is slow-tier: multi-minute state soaks; the close
# gate (SPARK_GRAFT_SLOW_TESTS=1) runs them every round.
pytestmark = pytest.mark.slow

N_BATCHES = 50
USERS_PER_BATCH = 6


def _write_batch(path: str, rows: list[tuple[int, str, int]], mtime: float) -> None:
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[ns]"),
            "user_id": [r[2] for r in rows],
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    os.utime(path, (mtime, mtime))


def test_distinct_users_state_plateaus_over_soak(spark, tmp_path):
    """50 micro-batches, one per hour of event time, the same 6 users
    recurring every hour: every batch creates 6 NEW dedup keys
    (user, window), so an unbounded state store would end at ~300
    rows. With the watermark advancing alongside event time, live
    keys are bounded by a couple of windows' worth — the row count
    must PLATEAU there, and the total evicted must be nearly
    everything ever inserted."""
    from oarphpy_spark.streaming.windows import (
        distinct_users_stream,
        stream_events,
    )

    src = tmp_path / "soak_src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    t0 = 1_700_000_000.0
    for i in range(N_BATCHES):
        ts = base + pd.Timedelta(hours=i)
        rows = [
            (i * 100 + u, str(ts + pd.Timedelta(minutes=u)), u)
            for u in range(USERS_PER_BATCH)
        ]
        # mtime pins availableNow+maxFilesPerTrigger file order.
        _write_batch(str(src / f"b{i:03d}.parquet"), rows, t0 + i)

    agg = distinct_users_stream(
        stream_events(spark, str(src), max_files_per_trigger=1),
        watermark="1 hour",
        window="1 hour",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_du_soak")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "soak_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    # Correctness through the whole soak: every hourly window counts
    # exactly the recurring user set once.
    counts = [r.n_users for r in spark.table("t_du_soak").collect()]
    assert len(counts) == N_BATCHES
    assert all(c == USERS_PER_BATCH for c in counts)

    dedup = [
        op
        for p in q.recentProgress
        for op in p["stateOperators"]
        if op["operatorName"] == "dedupe"
    ]
    assert len(dedup) >= N_BATCHES
    total_keys = N_BATCHES * USERS_PER_BATCH
    rows_by_batch = [op["numRowsTotal"] for op in dedup]
    # Plateau: after warmup the live set never exceeds ~3 windows of
    # keys (watermark lags one trigger), nowhere near total inserted.
    tail = rows_by_batch[5:]
    bound = 3 * USERS_PER_BATCH
    assert max(tail) <= bound, (max(tail), bound, rows_by_batch)
    # And eviction kept up: nearly every key ever inserted is gone.
    removed = sum(op["numRowsRemoved"] for op in dedup)
    assert removed >= total_keys - bound, (removed, total_keys)


def test_anomaly_state_plateaus_at_user_population(spark, tmp_path):
    """40 micro-batches over a FIXED population of 8 users: the
    per-user running-stats state must sit at exactly 8 rows from the
    first batch on (state is per live KEY, not per event) — 320
    events in, still 8 state rows."""
    from pyspark.sql import types as T

    from oarphpy_spark.streaming.stateful import running_anomaly_flags

    n_batches, n_users = 40, 8
    src = tmp_path / "anom_src"
    src.mkdir()
    t0 = 1_700_000_000.0
    for i in range(n_batches):
        pdf = pd.DataFrame(
            {
                "user_id": list(range(n_users)),
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:00"] * n_users
                ).astype("datetime64[ns]")
                + pd.to_timedelta([i * 60 + u for u in range(n_users)], "s"),
                "event_id": [i * 1000 + u for u in range(n_users)],
                "cv": [100 + ((i * 7 + u * 13) % 40) for u in range(n_users)],
            }
        )
        path = str(src / f"a{i:03d}.parquet")
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        # Spark reads timestamp[us]; pandas ns-precision lands as
        # Parquet INT64(NANOS) which the vectorized reader rejects.
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"),
            "ts",
            tbl.column("ts").cast(pa.timestamp("us")),
        )
        pq.write_table(tbl, path)
        os.utime(path, (t0 + i, t0 + i))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("cv", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        running_anomaly_flags(stream)
        .writeStream.format("memory")
        .queryName("t_anom_soak")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "anom_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    ops = [
        op
        for p in q.recentProgress
        for op in p["stateOperators"]
        if op["numRowsTotal"] > 0 or op["numRowsUpdated"] > 0
    ]
    assert len(ops) >= n_batches
    rows_by_batch = [op["numRowsTotal"] for op in ops]
    # Plateau at the key population from batch 1 onward — 320 events
    # never push state past 8 rows.
    assert all(r == n_users for r in rows_by_batch), rows_by_batch
    # The cumulative per-user event count is exact after the soak.
    final = {
        r.user_id: r.n_events
        for r in spark.table("t_anom_soak")
        .groupBy("user_id")
        .agg({"n_events": "max"})
        .withColumnRenamed("max(n_events)", "n_events")
        .collect()
    }
    assert final == {u: n_batches for u in range(n_users)}


def test_anomaly_state_survives_restart(spark, tmp_path):
    """Stop/extend/RESTART of the custom stateful operator: the
    persisted (n, s, ss decimal) state must be restored from the
    checkpoint, not rebuilt from zero. Feed 8 batches, drain, stop;
    add 8 more (with injected spikes) and restart on the SAME
    checkpoint. With _ANOM_MIN_N=8 and one event per user per batch,
    flagging only begins after the restart — a spike is flagged iff
    the restored statistics are the phase-A ones. The split run's
    union of emissions must equal an uninterrupted baseline run
    EXACTLY (same files, same mtime-pinned trigger order), and the
    final per-user n_events must count both phases once each."""
    from pyspark.sql import types as T

    from oarphpy_spark.streaming.stateful import running_anomaly_flags

    n_users, half = 4, 8
    t0 = 1_700_000_000.0

    def write_batch(dirpath, i):
        cvs = []
        for u in range(n_users):
            cv = 100 + ((i * 7 + u * 13) % 40)
            if i >= half and i % 3 == 0:
                cv = 500  # spike: flaggable only with restored state
            cvs.append(cv)
        pdf = pd.DataFrame(
            {
                "user_id": list(range(n_users)),
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:00"] * n_users
                ).astype("datetime64[ns]")
                + pd.to_timedelta(
                    [i * 60 + u for u in range(n_users)], "s"
                ),
                "event_id": [i * 1000 + u for u in range(n_users)],
                "cv": cvs,
            }
        )
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"),
            "ts",
            tbl.column("ts").cast(pa.timestamp("us")),
        )
        path = str(dirpath / f"a{i:03d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (t0 + i, t0 + i))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("cv", T.LongType()),
        ]
    )

    def drain(srcdir, ckpt, outdir):
        """foreachBatch parquet sink: unlike the memory sink it
        SUPPORTS restart-from-checkpoint. Rows are tagged with the
        batch id and deduped on read, making the sink idempotent
        under the one-batch replay a restart can legally perform."""
        from pyspark.sql import functions as F

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(srcdir))
        )

        def sink(df, batch_id):
            df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(str(outdir))

        q = (
            running_anomaly_flags(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return sorted(
            {
                (r.batch_id, r.user_id, r.n_events, r.n_flags)
                for r in spark.read.parquet(str(outdir)).collect()
            }
        )

    # Split run: phase A (files 0..7), restart for phase B (8..15),
    # same checkpoint, same output dir.
    src = tmp_path / "restart_src"
    src.mkdir()
    for i in range(half):
        write_batch(src, i)
    ckpt = tmp_path / "restart_ckpt"
    out = tmp_path / "restart_out"
    rows_a = drain(src, ckpt, out)
    for i in range(half, 2 * half):
        write_batch(src, i)
    rows_split = drain(src, ckpt, out)

    # Uninterrupted baseline over the identical 16 files.
    base_src = tmp_path / "baseline_src"
    base_src.mkdir()
    for i in range(2 * half):
        write_batch(base_src, i)
    rows_base = drain(
        base_src, tmp_path / "baseline_ckpt", tmp_path / "baseline_out"
    )

    # Batch ids CONTINUE across the restart (8..15), so the split
    # run's full emission history must equal the uninterrupted run's,
    # batch-for-batch.
    assert rows_split == rows_base
    assert len(rows_a) == half * n_users
    # State restored: n_events continues 9..16 after restart (a lost
    # state would restart at 1), and the spikes got flagged — which
    # requires n >= _ANOM_MIN_N (8), reachable in phase B only via
    # the restored phase-A statistics.
    phase_b = [r for r in rows_split if r[0] >= half]
    finals = {}
    for _, u, n_ev, _f in phase_b:
        finals[u] = max(finals.get(u, 0), n_ev)
    assert finals == {u: 2 * half for u in range(n_users)}
    assert sum(f for *_, f in phase_b) > 0, "no spike was ever flagged"
