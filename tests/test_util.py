from __future__ import annotations

import os

import numpy as np

from oarphpy_spark.util.misc import (
    as_row_of_constants,
    get_size_of_deep,
    ichunked,
    roundrobin,
    stable_hash,
)
from oarphpy_spark.util.thruput import ThruputObserver


def test_stable_hash_deterministic():
    # Golden-pinned (the reference pins exact ints the same way,
    # test_util/test_misc.py:115-126); any change to the hash scheme
    # must be deliberate.
    assert stable_hash("foo") == stable_hash("foo")
    assert stable_hash("foo") != stable_hash("bar")
    assert stable_hash((1, "a", 2.0)) == stable_hash((1, "a", 2.0))
    assert stable_hash("foo") == 213382587982286575857915470163185872516


def test_size_of_deep():
    assert get_size_of_deep(b"x" * 10) == 10
    assert get_size_of_deep("hello") == 5
    assert get_size_of_deep(np.zeros(100, dtype=np.int64)) == 800
    assert get_size_of_deep({"k": b"abcd"}) == 5  # 1-char key + 4 bytes
    shared = [1, 2, 3]
    assert get_size_of_deep([shared, shared]) == get_size_of_deep([shared])


def test_ichunked():
    assert list(ichunked(range(7), 3)) == [[0, 1, 2], [3, 4, 5], [6]]
    assert list(ichunked([], 3)) == []


def test_roundrobin():
    assert list(roundrobin("abc", "d", "ef")) == ["a", "d", "e", "b", "f", "c"]


def test_as_row_of_constants():
    class Inner:
        DEPTH = 2

    class Cfg:
        ALPHA = 1
        NAME = "x"
        NESTED = Inner()
        lower_ignored = True

    row = as_row_of_constants(Cfg())
    assert row["ALPHA"] == 1 and row["NAME"] == "x"
    assert row["NESTED_DEPTH"] == 2
    assert "lower_ignored" not in row


def test_thruput_observer():
    obs = ThruputObserver("t")
    for _ in range(4):
        with obs:
            pass
        obs.n += 10
        obs.num_bytes += 100
    assert obs.n == 40 and obs.num_bytes == 400
    assert len(obs.latencies_sec) == 4
    merged = ThruputObserver.union([obs, obs])
    assert merged.n == 80
    pct = obs.percentiles()
    assert set(pct) == {0.5, 0.95, 0.99}
    assert "n=40" in str(obs)


def test_thruput_wrap_generator():
    obs = ThruputObserver("g")
    out = list(obs.wrap_generator(iter([b"ab", b"cdef"]), size_of=len))
    assert out == [b"ab", b"cdef"]
    assert obs.n == 2 and obs.num_bytes == 6


def test_gpu_info_parse():
    # Mocked nvidia-smi CSV (reference tests mock the same way,
    # test_util/test_misc.py GPU section).
    from oarphpy_spark.util.gpus import GPUInfo

    out = "0, NVIDIA A100-SXM4-40GB, 40960, 1024\n1, NVIDIA A100-SXM4-40GB, 40960, 0\n"
    infos = GPUInfo.parse_smi_csv(out)
    assert len(infos) == 2
    assert infos[0].index == 0 and infos[0].mem_free_mb == 39936
    assert infos[1].mem_used_mb == 0
    # Environment has no GPU: graceful empty.
    assert GPUInfo.get_infos() == []


def test_fs_utils(tmp_path):
    from oarphpy_spark.util.fs import (
        all_files_recursive,
        cleandir,
        missing_or_empty,
        mkdir_p,
        rm_rf,
    )

    d = str(tmp_path / "a" / "b")
    mkdir_p(d)
    assert missing_or_empty(d)
    f = os.path.join(d, "x.txt")
    with open(f, "w") as fh:
        fh.write("hi")
    assert not missing_or_empty(d)
    assert list(all_files_recursive(str(tmp_path))) == [f]
    cleandir(d)
    assert missing_or_empty(d) and os.path.isdir(d)
    rm_rf(str(tmp_path / "a"))
    assert missing_or_empty(str(tmp_path / "a"))


def test_input_files_expands_files_globs_and_directory_trees(tmp_path):
    from oarphpy_spark.util.fs import input_files

    for rel in ["top.bin", "r1/a.bin", "r1/_SUCCESS", "r1/deep/b.bin",
                "r2/c.bin", "_staging/s.bin", ".cache/h.bin"]:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"")
    t = str(tmp_path)
    tree = [f"{t}/top.bin", f"{t}/r1/a.bin", f"{t}/r1/deep/b.bin", f"{t}/r2/c.bin"]

    assert input_files(t) == tree
    assert sorted(input_files(f"{t}/*")) == sorted(tree + [f"{t}/_staging/s.bin"])
    assert input_files(f"{t}/r*/*.bin") == [f"{t}/r1/a.bin", f"{t}/r2/c.bin"]
    assert input_files(f"{t}/top.bin") == [f"{t}/top.bin"]
    assert input_files(f"{t}/missing") == [f"{t}/missing"]


def test_download_copies_plain_file(tmp_path):
    from oarphpy_spark.util.fs import download

    src = tmp_path / "payload.bin"
    src.write_bytes(b"\x00\x01data")
    dest = str(tmp_path / "out" / "payload.bin")
    assert download(f"file://{src}", dest) == dest
    with open(dest, "rb") as f:
        assert f.read() == b"\x00\x01data"
    # Idempotent: re-download with changed source is skipped.
    src.write_bytes(b"changed")
    download(str(src), dest)
    with open(dest, "rb") as f:
        assert f.read() == b"\x00\x01data"


def test_download_expands_tarball(tmp_path):
    import tarfile as _tar

    from oarphpy_spark.util.fs import download

    stage = tmp_path / "stage"
    (stage / "sub").mkdir(parents=True)
    (stage / "a.txt").write_text("alpha")
    (stage / "sub" / "b.txt").write_text("beta")
    tball = tmp_path / "fixture.tar.gz"
    with _tar.open(tball, "w:gz") as t:
        t.add(stage / "a.txt", arcname="a.txt")
        t.add(stage / "sub", arcname="sub")

    dest = str(tmp_path / "expanded")
    download(f"file://{tball}", dest)
    assert (tmp_path / "expanded" / "a.txt").read_text() == "alpha"
    assert (tmp_path / "expanded" / "sub" / "b.txt").read_text() == "beta"


def test_download_expands_zip_and_blocks_traversal(tmp_path):
    import zipfile as _zip

    import pytest as _pytest

    from oarphpy_spark.util.fs import download, expand_archive

    z = tmp_path / "fixture.zip"
    with _zip.ZipFile(z, "w") as zf:
        zf.writestr("ok.txt", "fine")
    dest = str(tmp_path / "zout")
    download(str(z), dest)
    assert (tmp_path / "zout" / "ok.txt").read_text() == "fine"

    evil = tmp_path / "evil.zip"
    with _zip.ZipFile(evil, "w") as zf:
        zf.writestr("../escape.txt", "nope")
    with _pytest.raises(ValueError):
        expand_archive(str(evil), str(tmp_path / "evil_out"))


def test_wrap_generator_times_production_not_consumption():
    import time as _t
    from oarphpy_spark.util.thruput import ThruputObserver

    def slow_producer():
        for i in range(3):
            _t.sleep(0.05)
            yield i

    obs = ThruputObserver("p")
    for _ in obs.wrap_generator(slow_producer()):
        pass  # fast consumer
    assert all(dt >= 0.04 for dt in obs.latencies_sec), obs.latencies_sec

    def fast_producer():
        yield from range(3)

    obs2 = ThruputObserver("c")
    for _ in obs2.wrap_generator(fast_producer()):
        _t.sleep(0.05)  # slow consumer must NOT be attributed
    assert all(dt < 0.04 for dt in obs2.latencies_sec), obs2.latencies_sec


def test_derive_subkey_count_monotone_and_floored():
    """Scale knobs must GROW with the data (the 100×-scale contract)
    and never collapse below the parallelism floor on tiny inputs."""
    from oarphpy_spark.util.scale import derive_subkey_count

    # floor wins on small inputs
    assert derive_subkey_count(1_500, n_groups=5) == 16
    assert derive_subkey_count(0, n_groups=5) == 16
    # beyond the floor the knob scales linearly with rows
    big = derive_subkey_count(5 * 16 * 1_000_000 * 4, n_groups=5)
    assert big == 64
    # monotone in n_rows
    prev = 0
    for n in [10**3, 10**6, 10**8, 10**10, 10**12]:
        cur = derive_subkey_count(n, n_groups=5)
        assert cur >= prev
        prev = cur
    # tighter per-task budget -> more subkeys
    assert derive_subkey_count(10**9, 5, target_rows_per_task=10**5) > \
        derive_subkey_count(10**9, 5, target_rows_per_task=10**6)


def test_parquet_row_count_footer_only(tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oarphpy_spark.util.scale import parquet_row_count

    t = pa.Table.from_pandas(pd.DataFrame({"x": range(1234)}))
    f = tmp_path / "t.parquet"
    pq.write_table(t, f)
    assert parquet_row_count(str(f)) == 1234
    # directory of parts sums across footers
    d = tmp_path / "dir.parquet"
    d.mkdir()
    pq.write_table(t, d / "part-0.parquet")
    pq.write_table(t, d / "part-1.parquet")
    assert parquet_row_count(str(d)) == 2468
    # hive-partitioned: every partition's parts count, markers do not
    h = tmp_path / "hive.parquet"
    for k, n in ((1, 2), (2, 1), (3, 2)):
        (h / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"x": list(range(n))}), h / f"k={k}" / "part-0.parquet")
    (h / "_SUCCESS").write_bytes(b"")
    assert parquet_row_count(str(h)) == 5


def test_run_cmd_collect_and_check():
    import subprocess

    import pytest as _pytest

    from oarphpy_spark.util.misc import run_cmd

    assert run_cmd("echo hi", collect=True, nolog=True) == b"hi\n"
    assert run_cmd("true", nolog=True) is None
    with _pytest.raises(subprocess.CalledProcessError):
        run_cmd("false", nolog=True)
    # newlines collapse to spaces (reference behavior: one-line shell cmd)
    assert run_cmd("echo a\nb", collect=True, nolog=True) == b"a b\n"


def test_get_sys_info_shape():
    from oarphpy_spark.util.misc import get_sys_info

    info = get_sys_info()
    assert info["n_cpus"] >= 1
    assert info["hostname"]
    assert "PYTHONPATH" in info and "filepath" in info
    # fault-tolerant probes: strings even when the binary is missing
    for k in ("nvidia_smi", "cpuinfo", "disk_free", "memory", "ifconfig"):
        assert isinstance(info[k], str)


def test_cluster_get_info_dataframe_and_report(spark):
    """cluster_get_info parity (reference oarphpy/spark.py:218-243 +
    oarphpy_test/test_spark.py test_cluster_get_info): one typed row
    per task slot with sane hardware numbers, and the text report
    carries the reference's sections for every host."""
    from oarphpy_spark.operators.cluster import (
        cluster_cpu_count,
        cluster_get_info,
        cluster_get_info_report,
    )

    df = cluster_get_info(spark)
    rows = df.collect()
    assert len(rows) == cluster_cpu_count(spark)
    assert sorted(r["slot"] for r in rows) == list(range(len(rows)))
    for r in rows:
        assert r["hostname"]
        assert r["n_cpus"] >= 1
        assert r["mem_total_mb"] > 0
        assert r["disk_total_gb"] > 0
        assert r["n_gpus"] >= 0
        assert r["python_version"].count(".") == 2
        assert "pyspark" in r["python_path"] or r["python_path"]

    report = cluster_get_info_report(spark)
    # local[*]: exactly one distinct host block, reference sections
    for section in ("Host:", "Num CPUs:", "Memory:", "PYTHONPATH:",
                    "nvidia-smi:", "Disk:"):
        assert section in report, report


def test_scale_smoke_skew_audit_parses_and_flags(tmp_path):
    """skew_audit must read rolling event-log layouts and flag a stage
    whose slowest task dwarfs its p95 (and only such stages)."""
    import importlib.util
    import json as _json
    import pathlib
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "scale_smoke",
        pathlib.Path(__file__).parent.parent / "scripts" / "scale_smoke.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    logdir = tmp_path / "eventlog_v2_app1"
    logdir.mkdir()

    def task_end(stage, launch, finish):
        return _json.dumps({
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": False},
        })

    lines = []
    # stage 0: 30 uniform 2s tasks + one 30s straggler -> violation
    for i in range(30):
        lines.append(task_end(0, 0, 2000))
    lines.append(task_end(0, 0, 30000))
    # stage 1: 30 uniform tasks, no straggler -> clean
    for i in range(30):
        lines.append(task_end(1, 0, 2000))
    # stage 2: too few tasks to judge -> skipped
    lines.append(task_end(2, 0, 50000))
    (logdir / "events_1_app1").write_text("\n".join(lines))

    audit = mod.skew_audit(str(tmp_path))
    assert audit["stages_total"] == 3
    assert audit["stages_checked"] == 2
    assert len(audit["violations"]) == 1
    assert audit["violations"][0]["stage"] == 0
    assert audit["violations"][0]["ratio"] > 10


def test_spread_repartitions_single_file_scan(spark, tmp_path):
    """A one-file parquet table scans as ONE partition; spread brings
    it up to the cluster's default parallelism."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oarphpy_spark.util.partitioning import spread

    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"k": list(range(200))}), path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    assert target > 1
    out = spread(df)
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.k for r in out.collect()) == list(range(200))


def test_spread_leaves_join_and_aggregate_plans_unchanged(spark, tmp_path):
    """A plan with a join or an aggregate is returned as-is — a
    broadcast-hash join included: every logical Join counts as
    shuffle-implying."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from oarphpy_spark.util.partitioning import spread

    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"k": list(range(200))}), path)
    big = spark.read.parquet(path)
    small = spark.read.parquet(path).filter(F.col("k") < 5)
    bcast = big.join(F.broadcast(small), "k")
    physical = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in physical
    agg = big.groupBy((F.col("k") % 3).alias("m")).count()
    shuffled = big.join(small, "k")
    for df in (bcast, agg, shuffled):
        assert spread(df) is df


def test_spread_reads_scan_partitions_without_a_job(spark, tmp_path):
    """spread takes the same decision as ``df.rdd.getNumPartitions() <
    defaultParallelism`` on a one-file scan, a multi-split scan, scans
    of several files and a shuffled plan, and launches no job to take
    it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from oarphpy_spark.util.partitioning import spread

    one = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"k": list(range(200))}), one)
    split = str(tmp_path / "split.parquet")
    pq.write_table(
        pa.table({"k": list(range(60_000))}), split, row_group_size=5_000
    )
    multi = tmp_path / "multi"
    multi.mkdir()
    for i, n in enumerate([0, 10, 2_000, 50_000]):
        pq.write_table(
            pa.table({"k": list(range(n))}), str(multi / f"p{i}.parquet"),
            row_group_size=5_000,
        )
    wide = tmp_path / "wide"
    wide.mkdir()
    for i in range(20):
        pq.write_table(pa.table({"k": [i]}), str(wide / f"w{i}.parquet"))
    sc = spark.sparkContext
    target = sc.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    try:
        for max_bytes in ("134217728", "65536", "4096"):
            spark.conf.set(key, max_bytes)
            frames = {
                "one_file": spark.read.parquet(one),
                "multi_split": spark.read.parquet(split).filter(F.col("k") > 3),
                "many_files": spark.read.parquet(str(multi)).select("k"),
                "twenty_files": spark.read.parquet(str(wide)),
            }
            for name, df in frames.items():
                want = df.rdd.getNumPartitions()
                group = f"spread-probe-{max_bytes}-{name}"
                sc.setJobGroup(group, "spread")
                try:
                    out = spread(df)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                assert sc.statusTracker().getJobIdsForGroup(group) == []
                assert (out is not df) == (want < target), (max_bytes, name)
        assert spark.read.parquet(split).rdd.getNumPartitions() > 1  # splits at 4 KB
        shuffled = spark.read.parquet(one).groupBy("k").count()
        sc.setJobGroup("spread-probe-shuffled", "spread")
        try:
            assert spread(shuffled) is shuffled
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("spread-probe-shuffled") == []
    finally:
        spark.conf.set(key, prior)
