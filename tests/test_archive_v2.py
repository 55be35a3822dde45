from __future__ import annotations

import tarfile
import zipfile

import pytest

from oarphpy_spark.sources.archive import register


@pytest.fixture(scope="module")
def ar_session(spark):
    register(spark)
    return spark


def test_read_zip_members(ar_session, tmp_path):
    z = tmp_path / "fixture.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("a.txt", "alpha")
        zf.writestr("sub/b.bin", b"\x00\x01")

    df = ar_session.read.format("archive").load(str(z))
    rows = {r["name"]: bytes(r["data"]) for r in df.collect()}
    assert rows == {"a.txt": b"alpha", "sub/b.bin": b"\x00\x01"}


def test_read_glob_of_archives_partitions(ar_session, tmp_path):
    for i in range(2):
        with zipfile.ZipFile(tmp_path / f"part{i}.zip", "w") as zf:
            for j in range(4):
                zf.writestr(f"doc{i}_{j}.txt", f"text {i} {j}")
    t = tmp_path / "extra.tar.gz"
    with tarfile.open(t, "w:gz") as tf:
        p = tmp_path / "c.txt"
        p.write_text("gamma")
        tf.add(p, arcname="c.txt")

    df = ar_session.read.format("archive") \
        .option("membersperpartition", 2) \
        .load(str(tmp_path / "*.zip"))
    assert df.count() == 8
    # 2 archives x 4 members / 2-per-partition = 4 partitions
    assert df.rdd.getNumPartitions() == 4
    assert df.select("archive").distinct().count() == 2

    tdf = ar_session.read.format("archive").load(str(t))
    assert {bytes(r["data"]) for r in tdf.collect()} == {b"gamma"}


def test_archive_file_flyweight_reference_alias(tmp_path):
    """ArchiveFileFlyweight parity (reference
    oarphpy/util/archive_flyweight.py:86-137): fws_from lists all
    file members as lazy flyweights; .data reads bytes on access;
    pickling ships only (name, path) metadata — the contract that
    made the reference's flyweights Spark-shippable."""
    import pickle
    import tarfile
    import zipfile

    from oarphpy_spark.sources.archive import ArchiveFileFlyweight

    zp = tmp_path / "a.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("x.txt", "alpha")
        zf.writestr("sub/y.txt", "beta")
    fws = ArchiveFileFlyweight.fws_from(str(zp))
    assert {fw.name for fw in fws} == {"x.txt", "sub/y.txt"}
    by_name = {fw.name: fw for fw in fws}
    assert by_name["x.txt"].data == b"alpha"

    # pickle round-trip carries metadata only, data still lazy-reads
    blob = pickle.dumps(by_name["sub/y.txt"])
    assert b"beta" not in blob  # bytes NOT serialized
    assert pickle.loads(blob).data == b"beta"

    tp = tmp_path / "b.tar"
    with tarfile.open(tp, "w") as tf:
        p = tmp_path / "z.txt"
        p.write_text("gamma")
        tf.add(p, arcname="z.txt")
    (tfw,) = ArchiveFileFlyweight.fws_from(str(tp))
    assert (tfw.name, tfw.data) == ("z.txt", b"gamma")


def test_read_directory_of_archives(ar_session, tmp_path):
    """A directory path reads every archive inside it and skips
    ``.``/``_``-prefixed names (which are not archives here)."""
    d = tmp_path / "archives"
    d.mkdir()
    for i in range(2):
        with zipfile.ZipFile(d / f"part{i}.zip", "w") as zf:
            zf.writestr(f"m{i}.txt", f"member {i}")
    (d / "_SUCCESS").write_text("")
    (d / ".hidden").write_text("not an archive")

    df = ar_session.read.format("archive").load(str(d))
    rows = {r["name"]: bytes(r["data"]) for r in df.collect()}
    assert rows == {"m0.txt": b"member 0", "m1.txt": b"member 1"}
