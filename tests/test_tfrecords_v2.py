from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from oarphpy_spark.sources.tfrecords import iter_tfrecords, write_tfrecords
from oarphpy_spark.sources.tfrecords import register


@pytest.fixture(scope="module")
def tfr_session(spark):
    register(spark)
    return spark


def test_read_format_tfrecords(tfr_session, tmp_path):
    with open(tmp_path / "a.tfrecord", "wb") as f:
        write_tfrecords(f, [b"r1", b"r2"])
    with open(tmp_path / "b.tfrecord", "wb") as f:
        write_tfrecords(f, [b"r3"])

    df = tfr_session.read.format("tfrecords").load(str(tmp_path / "*.tfrecord"))
    assert df.columns == ["path", "record_idx", "record"]
    rows = df.collect()
    assert {bytes(r["record"]) for r in rows} == {b"r1", b"r2", b"r3"}
    # one partition per file
    assert df.rdd.getNumPartitions() == 2


def test_write_format_tfrecords_roundtrip(tfr_session, tmp_path):
    out = str(tmp_path / "sink")
    src = tfr_session.range(100).select(
        F.sha1(F.col("id").cast("string")).cast("binary").alias("record")
    ).repartition(3)
    src.write.format("tfrecords").option("path", out).mode("append").save()

    files = [f for f in os.listdir(out) if f.endswith(".tfrecord")]
    assert len(files) == 3
    recs = []
    for fn in files:
        with open(os.path.join(out, fn), "rb") as f:
            recs.extend(iter_tfrecords(f))
    expected = {bytes(r["record"]) for r in src.collect()}
    assert set(recs) == expected and len(recs) == 100

    # and the sink's output reads back through the source
    back = tfr_session.read.format("tfrecords").load(out + "/*.tfrecord")
    assert back.count() == 100


def test_write_mode_overwrite_replaces_prior_output(tfr_session, tmp_path):
    out = str(tmp_path / "sink_ow")
    mk = lambda n: tfr_session.range(n).select(  # noqa: E731
        F.sha1(F.col("id").cast("string")).cast("binary").alias("record")
    ).coalesce(1)
    mk(5).write.format("tfrecords").option("path", out).mode("append").save()
    mk(3).write.format("tfrecords").option("path", out).mode("overwrite").save()
    back = tfr_session.read.format("tfrecords").load(out + "/*.tfrecord")
    # overwrite cleared the 5-record file; only the 3 new records remain
    assert back.count() == 3
    # staging dir is cleaned up after commit
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_read_reports_truncation(tfr_session, tmp_path):
    with open(tmp_path / "bad.tfrecord", "wb") as f:
        write_tfrecords(f, [b"hello world"])
    raw = (tmp_path / "bad.tfrecord").read_bytes()
    (tmp_path / "bad.tfrecord").write_bytes(raw[:-6])
    df = tfr_session.read.format("tfrecords").load(str(tmp_path / "bad.tfrecord"))
    with pytest.raises(Exception, match="truncated"):
        df.collect()


def test_read_directory_written_by_sink(tfr_session, tmp_path):
    """A directory path reads the files inside it, so the sink's
    output directory loads back without a glob."""
    out = str(tmp_path / "sink_dir")
    src = tfr_session.range(50).select(
        F.sha1(F.col("id").cast("string")).cast("binary").alias("record")
    ).repartition(2)
    src.write.format("tfrecords").option("path", out).mode("append").save()

    back = tfr_session.read.format("tfrecords").load(out)
    assert sorted(bytes(r["record"]) for r in back.collect()) == sorted(
        bytes(r["record"]) for r in src.collect()
    )

    (tmp_path / "empty").mkdir()
    empty = tfr_session.read.format("tfrecords").load(str(tmp_path / "empty"))
    assert empty.count() == 0


def test_read_nested_run_directories(tfr_session, tmp_path, monkeypatch):
    """Directories are read recursively, whether named directly or
    matched by a glob, pruning ``.``/``_``-prefixed subdirectories; a
    relative path resolves against the driver's current directory."""
    from oarphpy_spark.sources.tfrecords import tfrecords_df

    d = tmp_path / "runs"
    for rel, recs in [
        ("run1/x.tfrecord", [b"a", b"b"]),
        ("run2/y.tfrecord", [b"c"]),
        ("run2/deep/z.tfrecord", [b"d"]),
        ("run1/_staging/part.tfrecord", [b"staged"]),
        (".hidden/h.tfrecord", [b"hidden"]),
    ]:
        (d / rel).parent.mkdir(parents=True, exist_ok=True)
        with open(d / rel, "wb") as f:
            write_tfrecords(f, recs)
    (d / "run1" / "_SUCCESS").write_text("")

    for p in [str(d), str(d / "*")]:
        df = tfr_session.read.format("tfrecords").load(p)
        assert sorted(bytes(r["record"]) for r in df.collect()) == [
            b"a", b"b", b"c", b"d"
        ]

    monkeypatch.chdir(tmp_path)
    rows = tfrecords_df(tfr_session, "runs/run2").collect()
    assert sorted(r["path"] for r in rows) == [
        str(d / "run2" / "deep" / "z.tfrecord"),
        str(d / "run2" / "y.tfrecord"),
    ]
