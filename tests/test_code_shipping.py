"""Code-shipping parity: the reference built eggs of the caller's
library and verified executors could import them (reference
oarphpy/spark.py:269-314, test_egg). Engine-native equivalent:
``sc.addPyFile`` a zip; executor Python workers import from it."""

from __future__ import annotations

import os
import zipfile

MODULE_SRC = """
SHIPPED_CONSTANT = 9001

def shipped_fn(x):
    return x * SHIPPED_CONSTANT
"""


def test_zip_module_ships_to_executors(spark, tmp_path):
    zpath = str(tmp_path / "shipped_lib.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("oarphpy_spark_test_shipped_mod.py", MODULE_SRC)
    spark.sparkContext.addPyFile(zpath)

    def use_shipped(x):
        import oarphpy_spark_test_shipped_mod as m

        return m.shipped_fn(x)

    out = spark.sparkContext.parallelize(range(4), 4).map(use_shipped).collect()
    assert out == [0, 9001, 18002, 27003]


def _write_pkg(root, name, version):
    pkg = root / name
    sub = pkg / "inner"
    sub.mkdir(parents=True)
    (pkg / "__init__.py").write_text(f"VERSION = {version}\n")
    (sub / "__init__.py").write_text("")
    (sub / "mathy.py").write_text(
        "from {} import VERSION\n"
        "def scaled(x):\n"
        "    return x * VERSION\n".format(name)
    )
    return str(pkg)


def test_ship_library_builds_and_ships_package(spark, tmp_path):
    """The reference's flagship deploy feature (egg-build + addPyFile,
    oarphpy/spark.py:541-657 / its test_egg at spark.py:269-314):
    executors must import a *nested* module of a user package that
    exists only as local source on the driver — exercised through
    mapInPandas, the hot path that needs it."""
    import pandas as pd

    from oarphpy_spark.shipping import build_library_zip, ship_library

    pkg_root = _write_pkg(tmp_path, "shiptest_userlib", 7)
    zpath = ship_library(spark, pkg_root)
    assert zpath.endswith(".zip")

    # Deterministic + content-addressed: same source -> same artifact.
    assert build_library_zip(pkg_root) == zpath

    def batch_fn(batches):
        from shiptest_userlib.inner.mathy import scaled

        for pdf in batches:
            yield pd.DataFrame({"y": [scaled(int(x)) for x in pdf["id"]]})

    out = (
        spark.range(6)
        .repartition(3)
        .mapInPandas(batch_fn, "y long")
    )
    assert sorted(r["y"] for r in out.collect()) == [0, 7, 14, 21, 28, 35]


def test_ship_library_accepts_module_and_single_file(spark, tmp_path):
    from oarphpy_spark.shipping import build_library_zip, find_package_root

    # single-file module
    mod = tmp_path / "loner_mod.py"
    mod.write_text("ANSWER = 42\n")
    assert find_package_root(str(mod)) == str(mod)
    zpath = build_library_zip(str(mod))
    with zipfile.ZipFile(zpath) as z:
        assert z.namelist() == ["loner_mod.py"]

    # nested file resolves to topmost package
    pkg_root = _write_pkg(tmp_path, "rootfind_lib", 1)
    nested = os.path.join(pkg_root, "inner", "mathy.py")
    assert find_package_root(nested) == pkg_root


def test_selftest_roundtrip_on_workers(spark, tmp_path):
    """The reference's one-call cluster healthcheck (test_egg,
    oarphpy/spark.py:269-314): ship a user package and prove every
    executor slot imports it FROM THE SHIPPED ZIP (driver source tree
    masked), both for a tmp-dir user library and for the engine
    package itself."""
    from oarphpy_spark import shipping

    pkg_root = _write_pkg(tmp_path, "selftest_userlib", 3)
    assert shipping.selftest(spark, pkg_root) is True

    # the engine package: its parent (/...repo) IS on worker sys.path,
    # so this exercises the masking — the import must still come from
    # the zip, not the checkout.
    import oarphpy_spark

    assert shipping.selftest(spark, oarphpy_spark) is True


def test_selftest_reports_failure(spark, tmp_path):
    """A library whose zip can't import (top-level raise) must fail the
    selftest with the failing slots named, not pass vacuously."""
    import pytest

    from oarphpy_spark import shipping

    pkg = tmp_path / "broken_userlib"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("raise RuntimeError('broken lib')\n")
    with pytest.raises(AssertionError, match="broken_userlib"):
        shipping.selftest(spark, str(pkg))


def test_build_library_zip_changes_digest_with_content(tmp_path):
    from oarphpy_spark.shipping import build_library_zip

    pkg_root = _write_pkg(tmp_path, "digest_lib", 1)
    z1 = build_library_zip(pkg_root)
    _write_pkg(tmp_path / "v2", "digest_lib", 2)
    z2 = build_library_zip(str(tmp_path / "v2" / "digest_lib"))
    assert z1 != z2


def test_build_library_zip_is_stored_and_byte_stable(tmp_path):
    """Entries are stored uncompressed, and the same source gives the
    same bytes wherever the zip is built."""
    from oarphpy_spark.shipping import build_library_zip

    pkg_root = _write_pkg(tmp_path, "stored_lib", 1)
    z1 = build_library_zip(pkg_root, str(tmp_path / "out1"))
    z2 = build_library_zip(pkg_root, str(tmp_path / "out2"))
    assert os.path.basename(z1) == os.path.basename(z2)
    with open(z1, "rb") as f1, open(z2, "rb") as f2:
        assert f1.read() == f2.read()
    with zipfile.ZipFile(z1) as z:
        infos = z.infolist()
    assert len(infos) == 3
    assert {i.compress_type for i in infos} == {zipfile.ZIP_STORED}


def test_infer_caller_package_root_skips_engine_frames(tmp_path):
    """Auto-inference (reference oarphpy/spark.py:590-657 stack-walk)
    must resolve the *user's* package even when the call goes through
    engine code frames."""
    import importlib
    import sys

    pkg = tmp_path / "callerlib"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "boot.py").write_text(
        "from oarphpy_spark.shipping import infer_caller_package_root\n"
        "def who_am_i():\n"
        "    return infer_caller_package_root()\n"
    )
    sys.path.insert(0, str(tmp_path))
    try:
        boot = importlib.import_module("callerlib.boot")
        assert boot.who_am_i() == str(pkg)
    finally:
        sys.path.remove(str(tmp_path))
        sys.modules.pop("callerlib.boot", None)
        sys.modules.pop("callerlib", None)


def test_executors_see_engine_package(spark):
    # The engine package itself must be importable in executor workers
    # (driver contract: the repo root is on PYTHONPATH / shipped).
    def probe(_):
        from oarphpy_spark.util.misc import stable_hash

        return stable_hash("executor") % 97

    vals = set(spark.sparkContext.parallelize(range(8), 8).map(probe).collect())
    assert len(vals) == 1  # same hash everywhere -> same code everywhere


class _StubEvents:
    def __init__(self):
        self.callbacks = {}

    def register(self, event, cb):
        self.callbacks.setdefault(event, []).append(cb)

    def unregister(self, event, cb):
        self.callbacks[event].remove(cb)

    def trigger(self, event):
        for cb in list(self.callbacks.get(event, [])):
            cb()


class _StubShell:
    def __init__(self):
        self.events = _StubEvents()


def test_cell_reship_hook_reships_on_change_only(spark, tmp_path):
    """The NBSpark-parity per-cell hook (reference
    oarphpy/spark.py:888-923): each 'cell' re-ships the library, but a
    content-addressed zip means a NEW artifact only when source
    changed."""
    from oarphpy_spark.shipping import (
        build_library_zip,
        install_cell_reship_hook,
        uninstall_cell_reship_hook,
    )

    pkg = _write_pkg(tmp_path, "nbhook_pkg", 1)
    shell = _StubShell()
    cb = install_cell_reship_hook(spark, [pkg], get_ipython=lambda: shell)
    assert cb is not None
    assert shell.events.callbacks["pre_run_cell"] == [cb]

    try:
        shell.events.trigger("pre_run_cell")
        z1 = build_library_zip(pkg)  # cached — same digest as the hook's
        shell.events.trigger("pre_run_cell")
        assert build_library_zip(pkg) == z1  # unchanged source: no new zip

        # edit the library -> next cell ships a NEW content hash
        (tmp_path / "nbhook_pkg" / "__init__.py").write_text("VERSION = 2\n")
        shell.events.trigger("pre_run_cell")
        z2 = build_library_zip(pkg)
        assert z2 != z1
        assert os.path.exists(z2)

        # re-install replaces, not stacks
        cb2 = install_cell_reship_hook(
            spark, [pkg], get_ipython=lambda: shell
        )
        assert shell.events.callbacks["pre_run_cell"] == [cb2]
    finally:
        assert uninstall_cell_reship_hook() is True
    assert shell.events.callbacks["pre_run_cell"] == []
    assert uninstall_cell_reship_hook() is False


def test_cell_reship_hook_noop_outside_ipython(spark):
    from oarphpy_spark.shipping import install_cell_reship_hook

    assert (
        install_cell_reship_hook(spark, ["/tmp"], get_ipython=lambda: None)
        is None
    )
