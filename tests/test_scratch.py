"""Query scratch space: each call writes under a private directory
(``util/fs.new_scratch_dir``), which a lazy result holds until
``release_cached`` and an eager query removes before returning."""

from __future__ import annotations

import os
import sys
import tempfile
import threading

from oarphpy_spark import registry
from oarphpy_spark.util import fs
from oarphpy_spark.util.checkpoints import hold_caches, release_cached
from tests.conftest import SF_SMALL


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _run(session, name: str) -> list:
    df = registry.queries()[name](session, SF_SMALL)
    try:
        return _rows(df)
    finally:
        release_cached(df)


def test_scratch_queries_run_concurrently(spark):
    """Two threads, each in its own ``newSession()``, run the same
    scratch-writing query at once and each gets the serial answer: no
    call reads or removes another call's files."""
    for name in ("q_sink_parquet_zstd", "q_stream_late_data"):
        want = _run(spark, name)
        assert want, name
        for _ in range(3):
            got, errors = {}, []

            def client(i, session):
                try:
                    got[i] = _run(session, name)
                except Exception as e:  # noqa: BLE001 — reported below
                    errors.append(repr(e))

            threads = [
                threading.Thread(target=client, args=(i, spark.newSession()))
                for i in range(2)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
                assert not t.is_alive(), name
            assert not errors, (name, errors)
            assert got == {0: want, 1: want}, name


# One lazy and one eager scratch query per module that has them.
_SCRATCH_QUERIES = (
    "q_sink_parquet_zstd",  # relational, lazy
    "q_partition_prune",  # relational, lazy
    "q_compact_files",  # engineering, lazy
    "q_dynamic_partition_overwrite",  # engineering, eager
    "q_stream_upsert",  # streaming_queries, eager
    "q_rowadapter_roundtrip",  # codec_queries, eager
    "q_archive_source",  # fidelity, lazy
    "q_tfevents_scan",  # fidelity, eager
)


def test_release_cached_leaves_no_scratch(spark, tmp_path, monkeypatch):
    """After each query's result is read and released, nothing any of
    them wrote is left under the scratch or temp dir."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in _SCRATCH_QUERIES:
        assert _run(spark, name), name
        left = [n for n in os.listdir(tmp_path) if n.startswith("oarphpy_spark_")]
        assert not left, (name, left)


def test_new_scratch_dir_is_private_until_released(spark, tmp_path, monkeypatch):
    """Each call gets a new empty directory under ``scratch_dir()``;
    a result that holds it keeps it until ``release_cached``."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    dirs = [fs.new_scratch_dir("probe") for _ in range(3)]
    assert len(set(dirs)) == 3
    for d in dirs:
        assert os.path.dirname(d) == str(tmp_path)
        assert os.path.basename(d).startswith("oarphpy_spark_probe_")
        assert os.listdir(d) == []
    df = hold_caches(spark.range(3), dirs[0])
    assert os.path.isdir(dirs[0])
    release_cached(df)
    assert not os.path.exists(dirs[0])
    with fs.transient_scratch_dir("probe") as d:
        assert os.path.isdir(d)
    assert not os.path.exists(d)
    for d in dirs[1:]:
        fs.remove_scratch_dir(d)
    assert os.listdir(tmp_path) == []
    assert not set(dirs) & fs._SCRATCH_DIRS


def test_stream_wrapper_dir_shared_by_racing_callers(tmp_path, monkeypatch):
    """Threads that wrap one lone source file at once share one
    wrapper directory, made under ``scratch_dir()``."""
    from oarphpy_spark.streaming.windows import _wrapper_dir

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path / "scratch"))
    src = tmp_path / "feed.parquet"
    src.write_bytes(b"")
    n = 8
    barrier = threading.Barrier(n)
    got = []

    def wrap():
        barrier.wait(timeout=30)
        got.append(_wrapper_dir(str(src)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=wrap) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == n
    assert len(set(got)) == 1
    assert os.listdir(tmp_path / "scratch") == [os.path.basename(got[0])]
    assert os.listdir(got[0]) == ["feed.parquet"]
