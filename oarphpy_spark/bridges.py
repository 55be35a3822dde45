"""DataFrame -> ML-framework feed bridges.

Capability parity with the reference's ``spark_df_to_tf_dataset``
(reference ``oarphpy/spark.py:1257-1380``), redesigned: the reference
ran one full Spark job per shard (filter + repartition(100) +
toLocalIterator, ~9 s per 786 KB shard in its own perf notebook). Here
the executors encode each partition to the Arrow record batches the
JVM itself builds (the same batches ``DataFrame.toArrow`` collects),
and the driver fetches them one *window* of partitions per Spark job:
up to ``defaultParallelism`` partitions computed in parallel, so every
core works in every job and a P-partition frame costs
``ceil(P / defaultParallelism)`` jobs, not P. The next window is
computed on a background thread while the consumer reads the current
one. No Python worker runs: the executors never leave the JVM, and the
driver only decodes Arrow buffers. Batches come out as pandas/numpy
dicts ready for ``tf.data.Dataset.from_generator`` / torch
``IterableDataset``.

Memory is bounded by a window, not by the frame: the JVM driver holds
the encoded batches of the window being read plus at most one
prefetched window, and Python holds one batch at a time (each window is
streamed from its socket, never listed). A window's batches are one
job's results, so ``spark.driver.maxResultSize`` caps a window where it
used to cap a partition: windows shrink, down to one partition, to fit
the optimizer's size estimate under half of it. The estimate is not a bound; a
window whose Arrow batches outgrow the cap fails its job with Spark's
"bigger than spark.driver.maxResultSize" error.

The feed reaches into the JVM DataFrame (``df._jdf``), so it needs a
classic session, not Spark Connect. Timestamps are labelled ``UTC``
whatever the session timezone, exactly as in ``toArrow()``; the
instants are unchanged.

The tf/torch wrappers are import-gated (frameworks not installed in
this environment); the batch iterator itself is fully functional and
tested.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator, Sequence
from typing import Any

from pyspark.sql import DataFrame


def iter_arrow_batches(df: DataFrame) -> Iterator["pyarrow.RecordBatch"]:  # noqa: F821
    """Stream a DataFrame to the driver as Arrow RecordBatches in
    partition order, one window of partitions per Spark job, never a
    full collect.

    A window is up to ``sc.defaultParallelism`` consecutive partitions,
    fewer when the plan's estimated size (``stats.sizeInBytes``, spread
    evenly over its partitions) of that many would exceed half of
    ``spark.driver.maxResultSize``. Each window is one job
    (``PythonRDD.runJob`` over ``toArrowBatchRdd``, the encoder behind
    ``toArrow()``; ~10k rows per batch,
    ``spark.sql.execution.arrow.maxRecordsPerBatch``) whose tasks run
    in parallel; the JVM driver then serves the window's
    Arrow IPC record-batch messages over a local socket, in partition
    order, and the driver wraps each message zero-copy against the
    schema ``toArrow()`` builds. No Python worker and no per-row object
    exists anywhere on the path.

    Memory bound: one window (at most ``defaultParallelism``
    partitions' encoded batches) in the JVM driver, plus one more: the
    next window's job runs on a background thread, under the caller's
    job group and other local properties, while the consumer reads the
    current window. The background thread also connects to the
    window's socket as soon as the job ends, since the JVM serves it
    only to a client that connects within
    ``spark.python.authenticate.socketTimeout``; a consumer may take as
    long as it likes over each window.

    The window's results must fit ``spark.driver.maxResultSize``.
    Windows are sized from the optimizer's estimate, which can be low
    (compressed files, wide strings) or high (joins without statistics,
    which then run one partition per job). A window whose encoded
    batches exceed the cap raises Spark's "bigger than
    spark.driver.maxResultSize" error, as a partition that alone
    exceeds it always did.

    Abandoning the iterator early launches no further job: the window
    in flight finishes and is discarded. A failed task raises to the
    consumer when its window is reached. Needs a classic (non-Connect)
    session. Timestamp fields carry the ``UTC`` label as in
    ``toArrow()``, not the session timezone.
    """
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _create_local_socket

    spark = df.sparkSession
    sc = spark.sparkContext
    schema = to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    n = jrdd.getNumPartitions()
    step = _window_size(df, n)
    windows = [list(range(i, min(i + step, n))) for i in range(0, n, step)]
    run_job = functools.partial(sc._jvm.PythonRDD.runJob, sc._jsc.sc(), jrdd)

    def serve(window):  # connect at once: the JVM accepts for a bounded time
        return _create_local_socket(run_job(window))

    served = _prefetched(sc, serve, windows)
    frames = NoOpSerializer()
    try:
        for sockfile in served:
            try:
                for buf in frames.load_stream(sockfile):
                    yield pa.ipc.read_record_batch(pa.py_buffer(buf), schema)
            finally:
                sockfile.close()
    finally:
        served.close()


def _window_size(df: DataFrame, n_partitions: int) -> int:
    """Partitions per feed job: ``defaultParallelism``, or fewer when
    the optimizer's size estimate for that many of the plan's
    ``n_partitions`` would exceed half of ``spark.driver.maxResultSize``
    (the bytes one job may return to the driver; 0: no cap). Half,
    because the estimate is rough."""
    sc = df.sparkSession.sparkContext
    step = max(1, sc.defaultParallelism)
    cap = sc._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if cap > 0 and n_partitions > 0:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))  # a JVM BigInt
        step = max(1, min(step, cap // 2 * n_partitions // max(1, size)))
    return step


def _prefetched(sc, run: Callable, args: Sequence) -> Iterator:
    """Yield ``run(a)`` for each ``a`` in order, computing the next one
    on a background thread while the caller holds the current one, so
    at most one result runs ahead of the consumer.

    The thread runs under a copy of the caller's JVM local properties
    (job group, tags, scheduler pool), as ``InheritableThread`` does.
    An exception from ``run`` raises here when its result is reached.
    Closing the generator starts nothing new; a result still in flight
    is closed when it lands.
    """
    from concurrent.futures import ThreadPoolExecutor

    from py4j.clientserver import ClientServer

    if not args:
        return
    inherit = None
    if isinstance(sc._gateway, ClientServer):  # pinned threads: one JVM thread each
        props = sc._jsc.sc().getLocalProperties().clone()
        inherit = lambda: sc._jsc.sc().setLocalProperties(props)  # noqa: E731
    pool = ThreadPoolExecutor(
        1, thread_name_prefix="arrow-feed-prefetch", initializer=inherit
    )
    pending = pool.submit(run, args[0])
    try:
        for nxt in args[1:]:
            current = pending.result()
            pending = pool.submit(run, nxt)
            yield current
        current, pending = pending.result(), None
        yield current
    finally:
        if pending is not None:
            pending.add_done_callback(
                lambda f: f.exception() is None and f.result().close()
            )
        pool.shutdown(wait=False)


def _columns_of(table) -> dict[str, Any]:
    """Arrow table -> {col: numpy array} — zero-copy for numeric
    columns, object arrays for strings/binary/nested. (``to_pydict``
    would rebuild every cell as a Python object and forfeit the
    columnar win.)"""
    return {
        name: table.column(name).combine_chunks().to_numpy(zero_copy_only=False)
        for name in table.column_names
    }


def iter_row_batches(
    df: DataFrame, batch_size: int = 1024
) -> Iterator[dict[str, Any]]:
    """Stream a DataFrame as column-dict batches (numpy-valued) of
    exactly ``batch_size`` rows (except the last), memory-bounded.
    Built on :func:`iter_arrow_batches`; re-chunking is zero-copy
    Arrow slices."""
    import pyarrow as pa

    buf: "pa.Table | None" = None
    for batch in iter_arrow_batches(df):
        t = pa.Table.from_batches([batch])
        buf = t if buf is None else pa.concat_tables([buf, t])
        while buf.num_rows >= batch_size:
            yield _columns_of(buf.slice(0, batch_size))
            buf = buf.slice(batch_size)
    if buf is not None and buf.num_rows:
        yield _columns_of(buf)


def iter_shard_batches(
    df: DataFrame,
    shard_col: str,
    num_reader_threads: int = 2,
    batch_size: int = 1024,
    queue_maxsize: int | None = None,
    on_shard_start=None,
    on_shard_end=None,
    observer=None,
) -> Iterator[dict[str, Any]]:
    """Shard-parallel feed: the reference's interleave semantics
    (``oarphpy/spark.py:1257-1380`` — distinct shard ids, a reader
    threadpool, one Spark read per shard) WITHOUT requiring TensorFlow.

    * ``df.select(shard_col).distinct()`` lists the shards — bounded
      by contract, exactly as in the reference (:1317): the shard
      column is user-chosen to have manageable cardinality (e.g. a
      file/partition id), never a row-unique key.
    * ``num_reader_threads`` workers each claim shards from a work
      queue and stream ``df.filter(shard_col == id)`` through the
      Arrow batch path (:func:`iter_row_batches`) — each shard read is
      an independent Spark job whose equality filter prunes at the
      scan, so concurrent shard jobs keep the cluster busy while the
      driver consumes.
    * Batches land in a BOUNDED queue (back-pressure: readers block
      when the consumer lags, so driver memory is
      O(queue_maxsize × batch) regardless of table size).

    Yields the same column-dict batches as :func:`iter_row_batches`,
    shard-interleaved in nondeterministic order (it is a training
    feed). Worker exceptions propagate to the consumer. The optional
    ``on_shard_start``/``on_shard_end`` callbacks (called with the
    shard id, from the worker thread) exist for instrumentation and
    for tests proving genuine concurrency. Pass a ``ThruputObserver``
    (``util/thruput.py``) as ``observer`` to meter rows/bytes/chunk
    latency of the feed, the same metrology the reference wrapped
    around its TF bridge (``oarphpy/spark.py:1325-1357``).
    """
    import queue as _queue
    import sys as _sys
    import threading
    import time as _time

    from pyspark.sql import functions as F

    shard_ids = [r[0] for r in df.select(shard_col).distinct().collect()]
    if not shard_ids:
        return
    n_workers = max(1, min(num_reader_threads, len(shard_ids)))
    work: "_queue.Queue" = _queue.Queue()
    for sid in shard_ids:
        work.put(sid)
    out: "_queue.Queue" = _queue.Queue(
        maxsize=queue_maxsize or max(4, 2 * n_workers)
    )
    _DONE, _ERROR = object(), object()
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                try:
                    sid = work.get_nowait()
                except _queue.Empty:
                    break
                if on_shard_start is not None:
                    on_shard_start(sid)
                shard_df = df.filter(F.col(shard_col) == F.lit(sid))
                for batch in iter_row_batches(shard_df, batch_size):
                    if stop.is_set():
                        break  # consumer gone: stop mid-shard too
                    out.put(batch)
                if on_shard_end is not None and not stop.is_set():
                    on_shard_end(sid)
        except BaseException as ex:  # propagate to the consumer
            out.put((_ERROR, ex))
        finally:
            out.put(_DONE)

    threads = [
        threading.Thread(target=reader, name=f"shard-reader-{i}", daemon=True)
        for i in range(n_workers)
    ]
    for t in threads:
        t.start()
    done = 0
    try:
        while done < n_workers:
            t0 = _time.perf_counter()
            item = out.get()
            if item is _DONE:
                done += 1
            elif isinstance(item, tuple) and len(item) == 2 and item[0] is _ERROR:
                raise item[1]
            else:
                if observer is not None:
                    n = len(next(iter(item.values()))) if item else 0
                    nbytes = sum(
                        getattr(v, "nbytes", _sys.getsizeof(v))
                        for v in item.values()
                    )
                    observer.observe(
                        n=n, num_bytes=int(nbytes),
                        dt_sec=_time.perf_counter() - t0,
                    )
                yield item
    finally:
        # Consumer abandoned early: signal readers (they quit before
        # claiming another shard and between batches — unclaimed shard
        # jobs never launch), then drain so blocked put()s unwedge.
        stop.set()
        for t in threads:
            while t.is_alive():
                try:
                    out.get_nowait()
                except _queue.Empty:
                    t.join(timeout=0.1)


def to_tf_dataset(df: DataFrame, batch_size: int = 1024, shard_col: str | None = None,
                  num_reader_threads: int = 2):
    """``tf.data.Dataset`` over ``iter_row_batches`` (requires
    tensorflow on the driver)."""
    try:
        import tensorflow as tf  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "to_tf_dataset requires tensorflow; wire "
            "tf.data.Dataset.from_generator(lambda: iter_row_batches(df)) "
            "with an output_signature matching df.schema"
        ) from ex
    import tensorflow as tf

    _TF_TYPES = {
        "bigint": tf.int64, "int": tf.int32, "smallint": tf.int32,
        "double": tf.float64, "float": tf.float32, "boolean": tf.bool,
        "string": tf.string, "binary": tf.string,
    }
    output_types = {
        name: _TF_TYPES.get(dtype, tf.string) for name, dtype in df.dtypes
    }

    def gen():
        if shard_col is not None:
            yield from iter_shard_batches(
                df, shard_col, num_reader_threads, batch_size
            )
        else:
            yield from iter_row_batches(df, batch_size)

    return tf.data.Dataset.from_generator(gen, output_types=output_types)


def to_torch_iterable(df: DataFrame, batch_size: int = 1024,
                      shard_col: str | None = None,
                      num_reader_threads: int = 2):
    """torch ``IterableDataset`` over the batch iterators (requires
    torch on the driver); pass ``shard_col`` for the shard-parallel
    read path."""
    try:
        import torch  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "to_torch_iterable requires torch; wrap iter_row_batches(df) "
            "in a torch.utils.data.IterableDataset"
        ) from ex
    import torch

    class _DFIterable(torch.utils.data.IterableDataset):
        def __iter__(self):
            if shard_col is not None:
                return iter_shard_batches(
                    df, shard_col, num_reader_threads, batch_size
                )
            return iter_row_batches(df, batch_size)

    return _DFIterable()


def selftest_tensorflow(spark) -> list[dict]:
    """Cluster TensorFlow healthcheck (reference ``test_tensorflow``,
    ``oarphpy/spark.py:317-351``): on EVERY executor slot, import
    tensorflow, run one tiny graph computation (constant multiply,
    asserted correct — a wrong answer means a broken install, not a
    missing one), and report hostname + GPU visibility. Returns the
    per-slot info dicts; raises ``NotImplementedError`` when
    tensorflow is absent on the driver (same optional-dependency
    policy as ``to_tf_dataset``)."""
    try:
        import tensorflow  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "selftest_tensorflow requires tensorflow on driver and "
            "executors"
        ) from ex

    def probe():
        import socket

        import tensorflow as tf

        x = 7
        res = int((tf.constant(x) * tf.constant(3)).numpy())
        assert res == 21, f"tf compute broken: 7*3 = {res}"
        return {
            "hostname": socket.gethostname(),
            "tf_version": tf.__version__,
            "gpus": len(tf.config.list_physical_devices("GPU")),
        }

    from oarphpy_spark.operators.cluster import for_each_executor

    return for_each_executor(spark, probe)
