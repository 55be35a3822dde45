from __future__ import annotations

import io

import pytest

from pyspark.sql import functions as F

from oarphpy_spark.bridges import (
    iter_arrow_batches,
    iter_row_batches,
    to_tf_dataset,
    to_torch_iterable,
)
from oarphpy_spark.sources.tfrecords import (
    crc32c,
    iter_tfrecords,
    tfrecords_df,
    write_tfrecords,
)


def test_iter_row_batches_streams_all_rows(spark):
    df = spark.range(2500).withColumn("v", F.col("id") * 2)
    total, n_batches = 0, 0
    for batch in iter_row_batches(df, batch_size=1000):
        assert set(batch) == {"id", "v"}
        assert len(batch["id"]) <= 1000
        assert all(v == 2 * i for i, v in zip(batch["id"], batch["v"]))
        total += len(batch["id"])
        n_batches += 1
    assert total == 2500
    assert n_batches == 3


def test_iter_arrow_batches_columnar_and_complete(spark):
    import pyarrow as pa

    df = spark.range(5000).withColumn("v", F.col("id").cast("double") * 0.5)
    batches = list(iter_arrow_batches(df))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    t = pa.Table.from_batches(batches)
    assert t.num_rows == 5000
    assert t.column("v").to_pylist() == [i * 0.5 for i in t.column("id").to_pylist()]


def _typed_frame(spark):
    """Five partitions of every Arrow-sensitive column kind."""
    return spark.range(0, 50, 1, 5).select(
        "id",
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
        (F.col("id") / 7).cast("decimal(12,3)").alias("dec"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.create_map(F.col("id").cast("string"), F.col("id") * 2).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        F.col("id").cast("string").cast("binary").alias("bin"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id").cast("string"))
        .alias("s"),
    )


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.session.timeZone": "America/Los_Angeles"},
        {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
    ],
    ids=["session_tz", "large_var_types"],
)
def test_iter_arrow_batches_equals_to_arrow(spark, conf):
    """The feed yields exactly the table ``toArrow()`` collects: same
    types (timestamps labelled UTC, large var types when enabled),
    same values, same row order."""
    import pyarrow as pa

    prior = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = _typed_frame(spark)
        got = pa.Table.from_batches(list(iter_arrow_batches(df)))
        want = df.toArrow()
        assert got.schema == want.schema
        assert got.equals(want)
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def test_iter_arrow_batches_partition_order(spark):
    df = spark.range(0, 1000, 1, 7)
    ids = [i for b in iter_arrow_batches(df) for i in b.column("id").to_pylist()]
    assert ids == list(range(1000))


def test_iter_arrow_batches_raises_task_failure(spark):
    df = spark.range(0, 100, 1, 5).select(
        F.when(F.col("id") == 42, F.raise_error(F.lit("feed-boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="feed-boom"):
        list(iter_arrow_batches(df))


def _jobs_in_group(spark, group, run):
    """Spark jobs that ``run()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "feed job count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("prefetch", [True], ids=["prefetch"])
def test_iter_arrow_batches_one_job_per_window(spark, prefetch):
    """A P-partition feed runs ceil(P / defaultParallelism) jobs, each
    computing a window of partitions in parallel."""
    import math

    window = spark.sparkContext.defaultParallelism
    for n_parts in (1, window, 2 * window + 1):
        df = spark.range(0, 10 * n_parts, 1, n_parts)
        rows = []
        jobs = _jobs_in_group(
            spark, f"feed-windows-{prefetch}-{n_parts}",
            lambda: rows.extend(b.num_rows for b in iter_arrow_batches(df)),
        )
        assert sum(rows) == 10 * n_parts
        assert len(jobs) == math.ceil(n_parts / window), (n_parts, window)


def test_iter_arrow_batches_order_across_windows(spark):
    """Partition order holds across window boundaries when the
    partition count is not a multiple of the window, with uneven and
    empty partitions."""
    window = spark.sparkContext.defaultParallelism
    assert window > 1
    n_parts = 2 * window + 1
    df = spark.range(0, 3000, 1, n_parts).filter(
        ~F.col("id").between(1000, 1600) & (F.col("id") % 5 != 2)
    )
    ids = [i for b in iter_arrow_batches(df) for i in b.column("id").to_pylist()]
    assert ids == [i for i in range(3000) if not 1000 <= i <= 1600 and i % 5 != 2]


def test_iter_arrow_batches_raises_task_failure_in_second_window(spark):
    """A failed task in the second window raises to the consumer after
    the first window's rows were delivered."""
    window = spark.sparkContext.defaultParallelism
    n_parts, per_part = 2 * window, 10
    bad = window * per_part  # first row of the second window
    df = spark.range(0, n_parts * per_part, 1, n_parts).select(
        F.when(F.col("id") == bad, F.raise_error(F.lit("window-boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    seen = []
    with pytest.raises(Exception, match="window-boom"):
        for b in iter_arrow_batches(df):
            seen.extend(b.column("id").to_pylist())
    assert seen == list(range(bad))


@pytest.mark.parametrize("prefetch,launched", [(True, 2)], ids=["prefetch"])
def test_iter_arrow_batches_close_launches_no_further_job(spark, prefetch, launched):
    """Closing the iterator after its first batch launches no job
    beyond the window being read and, with prefetch, the next one."""
    import time

    sc = spark.sparkContext
    window = sc.defaultParallelism
    df = spark.range(0, 400 * window, 1, 4 * window)
    group = f"feed-close-{prefetch}"

    def first_batch_then_close():
        it = iter_arrow_batches(df)
        next(it)
        it.close()

    _jobs_in_group(spark, group, first_batch_then_close)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:  # let the prefetched job land
        jobs = tracker.getJobIdsForGroup(group)
        if len(jobs) >= launched and not tracker.getActiveJobsIds():
            break
        time.sleep(0.1)
    time.sleep(0.5)
    assert len(tracker.getJobIdsForGroup(group)) == launched


def _with_conf(conf, key, value, run):
    """Run ``run()`` with a live SparkConf entry set, then restore it."""
    prior = conf.get(key) if conf.contains(key) else None
    conf.set(key, value)
    try:
        return run()
    finally:
        if prior is None:
            conf.remove(key)
        else:
            conf.set(key, prior)


def test_iter_arrow_batches_survives_a_slow_consumer(spark):
    """A consumer that stalls longer than the JVM's socket accept
    timeout still reads every window: the prefetched window is
    connected to as soon as its job ends."""
    import time

    sc = spark.sparkContext
    window = sc.defaultParallelism
    n_parts = 2 * window + 1
    df = spark.range(0, 10 * n_parts, 1, n_parts)

    def drain_slowly():
        ids = []
        for i, b in enumerate(iter_arrow_batches(df)):
            if i == 0:
                time.sleep(2.5)
            ids.extend(b.column("id").to_pylist())
        return ids

    env_conf = sc._jvm.org.apache.spark.SparkEnv.get().conf()
    ids = _with_conf(
        env_conf, "spark.python.authenticate.socketTimeout", "1s", drain_slowly
    )
    assert ids == list(range(10 * n_parts))


def _binary_files(directory, n_files, file_bytes):
    """``n_files`` uncompressed parquet files of incompressible binary
    rows, about ``file_bytes`` each."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    directory.mkdir()
    rows = file_bytes // 10_000
    for i in range(n_files):
        t = pa.table({"b": [os.urandom(10_000) for _ in range(rows)]})
        pq.write_table(t, str(directory / f"f{i}.parquet"), compression="none")
    return str(directory)


@pytest.mark.parametrize("prefetch", [True], ids=["prefetch"])
def test_iter_arrow_batches_windows_fit_max_result_size(spark, tmp_path, prefetch):
    """Windows shrink to fit the plan's size estimate under
    spark.driver.maxResultSize, which caps one job's results: 8
    partitions of ~250 KB stream under a 1 MB cap, two partitions per
    job. A single partition over the cap fails as it always did."""
    sc = spark.sparkContext
    small = spark.read.parquet(_binary_files(tmp_path / "small", 8, 250_000))
    big = spark.read.parquet(_binary_files(tmp_path / "big", 1, 1_500_000))

    def feed():
        assert small.rdd.getNumPartitions() == 8  # one file each
        rows = []
        jobs = _jobs_in_group(
            spark, f"feed-cap-{prefetch}",
            lambda: rows.extend(b.num_rows for b in iter_arrow_batches(small)),
        )
        assert sum(rows) == 8 * 25
        assert len(jobs) == 4  # 2 partitions, ~500 KB estimated, per job
        with pytest.raises(Exception, match="maxResultSize"):
            list(iter_arrow_batches(big))

    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "300000")
    try:
        _with_conf(sc._jsc.sc().conf(), "spark.driver.maxResultSize", "1m", feed)
    finally:
        spark.conf.set(key, prior)


def test_iter_row_batches_empty_df(spark):
    df = spark.range(10).filter("id < 0")
    assert list(iter_row_batches(df)) == []


def _row_at_a_time_batches(df, batch_size):
    """The implementation iter_row_batches replaced: pickled-Row local
    iteration + per-row column extraction. Kept here as the throughput
    baseline the Arrow path must beat."""
    batch: list = []
    cols = df.columns
    for row in df.toLocalIterator(prefetchPartitions=True):
        batch.append(row)
        if len(batch) >= batch_size:
            yield {c: [r[c] for r in batch] for c in cols}
            batch = []
    if batch:
        yield {c: [r[c] for r in batch] for c in cols}


# Slow tier: throughput A/B (~30 s), perf evidence not correctness.
@pytest.mark.slow
def test_arrow_bridge_beats_row_iterator(spark):
    """The redesign exists to kill per-row pickling (the reference's
    spark_df_to_tf_dataset paid ~9 s per 786 KB shard); assert the
    Arrow path out-throughputs row-at-a-time batch building on the
    same data and workload."""
    import time

    n = 1_200_000
    df = spark.range(n).select(
        "id",
        F.col("id").cast("double").alias("a"),
        (F.col("id") * 2).cast("double").alias("b"),
        F.sha1(F.col("id").cast("string")).alias("s"),
    )
    # Warm both paths (codegen + python-worker pool) before timing.
    list(iter_row_batches(df.limit(100), batch_size=64))
    sum(1 for _ in df.limit(100).toLocalIterator())

    def timed(fn):
        # best-of-2: a single pass is vulnerable to GC pauses /
        # noisy-neighbor stalls on shared machines
        best, count = float("inf"), 0
        for _ in range(2):
            t0 = time.monotonic()
            count = fn()
            best = min(best, time.monotonic() - t0)
        return best, count

    arrow_s, n_arrow = timed(
        lambda: sum(len(b["id"]) for b in iter_row_batches(df, batch_size=4096))
    )
    rows_s, n_rows = timed(
        lambda: sum(
            len(b["id"]) for b in _row_at_a_time_batches(df, batch_size=4096)
        )
    )

    assert n_arrow == n_rows == n
    # measured ~2-3x faster; 1.1 slack absorbs residual scheduler noise
    assert arrow_s < rows_s * 1.1, (arrow_s, rows_s)


def test_framework_bridges_are_gated(spark):
    df = spark.range(3)
    with pytest.raises(NotImplementedError):
        to_tf_dataset(df)
    with pytest.raises(NotImplementedError):
        to_torch_iterable(df)


def test_crc32c_golden_vectors():
    # Public CRC-32C test vectors (RFC 3720 appendix / common suites).
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_tfrecords_roundtrip():
    records = [b"foo", b"", b"x" * 10_000]
    buf = io.BytesIO()
    write_tfrecords(buf, records)
    buf.seek(0)
    assert list(iter_tfrecords(buf)) == records


def test_tfrecords_truncation_detected():
    buf = io.BytesIO()
    write_tfrecords(buf, [b"hello world"])
    raw = buf.getvalue()
    # Cut inside the payload and inside the trailing crc respectively.
    for cut in (len(raw) - 10, len(raw) - 2):
        with pytest.raises(IOError, match="truncated"):
            list(iter_tfrecords(io.BytesIO(raw[:cut])))


def test_tfrecords_corruption_detected():
    buf = io.BytesIO()
    write_tfrecords(buf, [b"hello world"])
    raw = bytearray(buf.getvalue())
    raw[14] ^= 0xFF  # flip a payload byte
    with pytest.raises(IOError):
        list(iter_tfrecords(io.BytesIO(bytes(raw))))


def test_tfrecords_df_source(spark, tmp_path):
    p1 = tmp_path / "a.tfrecord"
    with open(p1, "wb") as f:
        write_tfrecords(f, [b"r1", b"r2"])
    p2 = tmp_path / "b.tfrecord"
    with open(p2, "wb") as f:
        write_tfrecords(f, [b"r3"])
    df = tfrecords_df(spark, str(tmp_path / "*.tfrecord"))
    rows = df.collect()
    assert {bytes(r["record"]) for r in rows} == {b"r1", b"r2", b"r3"}
    assert all(r["record_idx"] in (0, 1) for r in rows)


def test_shard_iterator_element_equality(spark):
    """iter_shard_batches must yield exactly the rows of collect(),
    shard-interleaved (reference analog: element-equality check in
    oarphpy_test/test_spark.py:350-406)."""
    from oarphpy_spark.bridges import iter_shard_batches

    df = spark.range(1000).select(
        "id",
        (F.col("id") % 4).alias("shard"),
        (F.col("id") * 3).cast("double").alias("v"),
    )
    expected = {(r["id"], r["shard"], r["v"]) for r in df.collect()}
    got = set()
    shards_seen = []
    for batch in iter_shard_batches(
        df, "shard", num_reader_threads=2, batch_size=64,
        on_shard_start=shards_seen.append,
    ):
        got.update(zip(batch["id"], batch["shard"], batch["v"]))
    assert got == expected
    assert sorted(shards_seen) == [0, 1, 2, 3]


def test_shard_iterator_reads_concurrently(spark):
    """≥2 shards must be in flight at once: both reader threads rendezvous
    at a barrier in on_shard_start — a serial implementation would leave
    one party waiting forever (BrokenBarrierError after timeout)."""
    import threading

    from oarphpy_spark.bridges import iter_shard_batches

    barrier = threading.Barrier(2, timeout=60)
    overlap = []

    def on_start(sid):
        overlap.append(barrier.wait())  # both workers must arrive

    df = spark.range(400).select("id", (F.col("id") % 2).alias("shard"))
    total = sum(
        len(b["id"])
        for b in iter_shard_batches(
            df, "shard", num_reader_threads=2, batch_size=50,
            on_shard_start=on_start,
        )
    )
    assert total == 400
    assert len(overlap) == 2  # both threads passed the rendezvous


def test_shard_iterator_propagates_worker_errors(spark):
    from oarphpy_spark.bridges import iter_shard_batches

    df = spark.range(100).select("id", (F.col("id") % 2).alias("shard"))

    def boom(sid):
        raise RuntimeError("reader died")

    with pytest.raises(RuntimeError, match="reader died"):
        list(iter_shard_batches(df, "shard", on_shard_start=boom))


def test_shard_iterator_empty_df(spark):
    from oarphpy_spark.bridges import iter_shard_batches

    df = spark.range(10).filter("id < 0").withColumn("shard", F.col("id") % 2)
    assert list(iter_shard_batches(df, "shard")) == []


def test_shard_iterator_thruput_observer(spark):
    """Observer parity with the reference's instrumented TF bridge
    (oarphpy/spark.py:1325-1357): rows/bytes/chunk latencies metered
    on the consumer side."""
    from oarphpy_spark.bridges import iter_shard_batches
    from oarphpy_spark.util.thruput import ThruputObserver

    obs = ThruputObserver(name="feed")
    df = spark.range(500).select("id", (F.col("id") % 2).alias("shard"))
    total = sum(
        len(b["id"])
        for b in iter_shard_batches(df, "shard", batch_size=100, observer=obs)
    )
    assert total == 500
    assert obs.n == 500
    assert obs.num_bytes > 0
    assert len(obs.latencies_sec) >= 5  # one observation per batch


def test_shard_iterator_early_abandon_stops_readers(spark):
    """A consumer that stops early must not pay for the remaining
    shards: the stop flag keeps unclaimed shard jobs from launching
    and reader threads exit promptly."""
    import time

    from oarphpy_spark.bridges import iter_shard_batches

    started = []
    df = spark.range(4000).select("id", (F.col("id") % 8).alias("shard"))
    it = iter_shard_batches(
        df, "shard", num_reader_threads=2, batch_size=50,
        on_shard_start=started.append,
    )
    next(it)
    it.close()  # abandon after one batch
    time.sleep(1.0)  # let any wrongly-continuing readers claim shards
    # at most the shards already in flight when we closed (2 workers
    # + a possible race on one more claim each) — never all 8
    assert len(started) <= 4, started


def test_selftest_tensorflow_guard_or_probe(spark):
    """selftest_tensorflow (reference test_tensorflow, oarphpy/
    spark.py:317-351): with TF installed, every slot reports a version
    and an asserted-correct graph compute; without it, the guided
    optional-dependency error (same policy as to_tf_dataset)."""
    import pytest

    from oarphpy_spark import bridges

    try:
        import tensorflow  # noqa: F401

        have_tf = True
    except ImportError:
        have_tf = False

    if not have_tf:
        with pytest.raises(NotImplementedError, match="tensorflow"):
            bridges.selftest_tensorflow(spark)
        return
    infos = bridges.selftest_tensorflow(spark)
    assert infos and all(i["tf_version"] for i in infos)
