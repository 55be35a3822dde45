"""``util/zipimports``: ``importlib.invalidate_caches()`` re-reads a zip
archive on ``sys.path`` only when the archive changed on disk, and an
engine import inside a Python task installs that behaviour."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from oarphpy_spark.util import zipimports

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zipimport caches lazily itself",
)


def _write_zip(path: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zi_probe_pkg/__init__.py", "")
        z.writestr("zi_probe_pkg/mod.py", source)


def _import_fresh():
    for name in ("zi_probe_pkg.mod", "zi_probe_pkg"):
        sys.modules.pop(name, None)
    return importlib.import_module("zi_probe_pkg.mod")


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(tmp_path, monkeypatch):
    # Restore the stock method after the test, then install over it.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    zipimports.install()
    zipimports.install()  # idempotent

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert _import_fresh().VALUE == 1
        importlib.invalidate_caches()
        reads.clear()

        # Two zipimporters (the archive root and the package) share the
        # archive; neither re-reads it while it is unchanged.
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, "VALUE = 22\n")
        importlib.invalidate_caches()
        assert reads == [archive]
        assert _import_fresh().VALUE == 22
    finally:
        for name in ("zi_probe_pkg.mod", "zi_probe_pkg"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_engine_import_in_a_python_task_installs_it(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def stat_checked(ids: pd.Series) -> pd.Series:
        import zipimport

        import oarphpy_spark  # noqa: F401

        method = zipimport.zipimporter.invalidate_caches
        return pd.Series([getattr(method, "stat_checked", False)] * len(ids))

    rows = spark.range(0, 8, 1, 4).select(stat_checked("id").alias("ok")).collect()
    assert [r.ok for r in rows] == [True] * 8
    # The driver is not a task: importing the engine leaves it alone.
    assert not getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
