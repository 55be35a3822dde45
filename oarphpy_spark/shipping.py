"""Ship a user library's source to executors, automatically.

Capability parity with the reference's egg-building deploy path
(reference ``oarphpy/spark.py:541-657``: stack-walk to the calling
library, build an egg, ``addPyFile`` it; ``oarphpy/spark.py:888-923``:
notebook hot-rebuild per cell). Engine-native redesign: a plain
source zip (importable via zipimport on every executor Python) instead
of setuptools eggs — no build backend, no temp sdist, deterministic
output — and Spark's own file distribution (``addPyFile``) does the
transport exactly once per content hash.

Why this exists at all: Spark serializes *closures* with cloudpickle,
but any ``import mylib`` executed inside a UDF/``mapInPandas`` batch
resolves against the executor's ``sys.path``. On a real cluster the
driver's working tree is not on the executors, so iterating on a local
library means re-shipping its source every time — the single most-used
deployment feature of the reference. At 100 TB scale nothing here
touches data paths: zips are KB-sized driver-side artifacts.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import sys
import sysconfig
import tempfile
import zipfile
from types import ModuleType

__all__ = [
    "find_package_root",
    "infer_caller_package_root",
    "build_library_zip",
    "ship_library",
    "resolve_ship_root",
    "install_cell_reship_hook",
    "uninstall_cell_reship_hook",
]


def find_package_root(path: str) -> str:
    """Given a path to a module file (or package dir), walk up through
    ``__init__.py`` parents to the TOPMOST package directory.

    Returns the package dir itself; its parent is what must land on
    ``sys.path``. A bare script (no enclosing ``__init__.py``) returns
    the file path unchanged — shipped as a single module.
    """
    path = os.path.abspath(path)
    cur = path if os.path.isdir(path) else os.path.dirname(path)
    if not os.path.exists(os.path.join(cur, "__init__.py")):
        return path  # bare module / script
    while os.path.exists(os.path.join(os.path.dirname(cur), "__init__.py")):
        cur = os.path.dirname(cur)
    return cur


def _is_library_frame(filename: str, module_name: str, skip: tuple[str, ...]) -> bool:
    if not filename or not os.path.exists(filename):
        return False  # REPL / frozen / exec'd strings
    top = module_name.split(".")[0] if module_name else ""
    if top in skip or top in ("importlib", "runpy", "pytest", "_pytest", "pluggy"):
        return False
    fn = os.path.abspath(filename)
    # Skip stdlib and installed-distribution frames: those exist on
    # executors already (same Python image); only local source needs
    # shipping.
    prefixes = {
        sysconfig.get_paths().get(k, "\x00")
        for k in ("stdlib", "platstdlib", "purelib", "platlib")
    }
    # Also skip interpreter scratch files: ipykernel >= 6 writes each
    # notebook cell to $TMPDIR/ipykernel_<pid>/<hash>.py, which would
    # otherwise look like a shippable single-module "library".
    if f"{os.sep}ipykernel_" in fn:
        return False
    return not any(fn.startswith(os.path.abspath(p) + os.sep) for p in prefixes if p)


def infer_caller_package_root(
    skip: tuple[str, ...] = ("oarphpy_spark", "pyspark", "py4j", "IPython"),
) -> str | None:
    """Stack-walk to the nearest frame that belongs to user library
    code (not this engine, not Spark, not stdlib/site-packages) and
    return its topmost package root. ``None`` when the caller is a
    REPL cell or nothing ship-worthy is on the stack."""
    for frame_info in inspect.stack():
        name = frame_info.frame.f_globals.get("__name__", "")
        if _is_library_frame(frame_info.filename, name, skip):
            return find_package_root(frame_info.filename)
    return None


_SHIP_EXTENSIONS = (".py", ".json", ".yml", ".yaml", ".txt", ".csv", ".sql")


def build_library_zip(src_root: str, out_dir: str | None = None) -> str:
    """Build a deterministic, content-addressed zip of ``src_root``.

    * package dir  -> zip rooted at the package name (``import pkg.x``)
    * single file  -> zip holding just that module
    * identical source -> identical digest -> the cached zip is reused,
      so notebook-style "re-ship every cell" (reference NBSpark,
      ``oarphpy/spark.py:888-923``) costs nothing when code is unchanged.

    Entries are stored uncompressed (``ZIP_STORED``) with a fixed
    timestamp, so the same source gives the same bytes. Deflating the
    engine's ~1 MB of source took ~40 ms of every session start; the
    stored zip is ~3x larger, but each executor fetches it once per
    digest, and ``zipimport`` reads stored entries without inflating
    them.
    """
    src_root = os.path.abspath(src_root)
    if os.path.isfile(src_root):
        members = [(os.path.basename(src_root), src_root)]
    else:
        pkg = os.path.basename(src_root)
        members = []
        for dirpath, dirnames, filenames in os.walk(src_root):
            dirnames[:] = sorted(
                d for d in dirnames
                if d not in ("__pycache__", ".git") and not d.endswith(".egg-info")
            )
            for f in sorted(filenames):
                if f.endswith(_SHIP_EXTENSIONS):
                    full = os.path.join(dirpath, f)
                    arc = os.path.join(pkg, os.path.relpath(full, src_root))
                    members.append((arc, full))
    if not members:
        raise ValueError(f"nothing shippable under {src_root!r}")

    digest = hashlib.sha256()
    for arc, full in members:
        digest.update(arc.encode())
        with open(full, "rb") as fin:
            digest.update(fin.read())
    name = os.path.basename(src_root.rstrip("/")).removesuffix(".py")
    out_dir = out_dir or os.path.join(
        tempfile.gettempdir(), "oarphpy_spark_shipping"
    )
    os.makedirs(out_dir, exist_ok=True)
    zpath = os.path.join(out_dir, f"{name}-{digest.hexdigest()[:16]}.zip")
    if os.path.exists(zpath):
        return zpath
    tmp = zpath + f".tmp.{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for arc, full in members:
            with open(full, "rb") as fin:
                # Fixed timestamp keeps the archive byte-stable for a
                # given content digest.
                info = zipfile.ZipInfo(arc, date_time=(2020, 1, 1, 0, 0, 0))
                z.writestr(info, fin.read())
    os.replace(tmp, zpath)
    return zpath


def ship_library(spark, lib: str | ModuleType | None = None) -> str | None:
    """Build a zip of ``lib`` (module object, package/module path, or
    ``None`` = infer the calling library) and ``addPyFile`` it so every
    executor can import it. Returns the zip path, or ``None`` when
    auto-inference found nothing to ship.

    ``addPyFile`` is idempotent per path, and the path is content-
    addressed — so calling this repeatedly (every notebook cell) ships
    a new zip only when the source actually changed. Pair with
    ``spark.files.overwrite=true`` + ``spark.python.worker.reuse=false``
    (see ``NotebookSessionFactory``) for hot reload semantics.
    """
    src = resolve_ship_root(lib)
    if src is None:
        return None
    zpath = build_library_zip(src)
    spark.sparkContext.addPyFile(zpath)
    return zpath


def resolve_ship_root(lib: str | ModuleType | None) -> str | None:
    """Resolve a ship target (module object, path, or None = infer the
    calling user library) to its topmost package root path."""
    if isinstance(lib, ModuleType):
        return find_package_root(lib.__file__)
    if lib is not None:
        return find_package_root(lib)
    return infer_caller_package_root()


def selftest(spark, lib: str | ModuleType | None = None) -> bool:
    """Prove the shipped library actually imports and runs ON THE
    EXECUTORS — the reference's ``test_egg`` / ``SessFactory.selftest``
    (``oarphpy/spark.py:269-314, 786-791``) re-expressed for the
    zip-shipping path. One call:

    1. builds + ships ``lib`` (same content-addressed zip as
       ``ship_library``);
    2. on EVERY task slot: checks the zip landed on ``sys.path``,
       masks the driver-local source tree off the path and evicts any
       already-imported copy (so the import cannot silently satisfy
       itself from a shared filesystem — the reference edited
       PYTHONPATH in the child for the same reason), then imports the
       library and verifies the loaded module's ``__file__`` points
       INTO the shipped zip;
    3. restores the worker's ``sys.path``/``sys.modules`` exactly
       (worker processes are reused across tasks).

    Raises ``AssertionError`` naming the failing slots; returns True
    when every slot imported from the zip."""
    src = resolve_ship_root(lib)
    if src is None:
        raise ValueError("selftest: no shippable library found")
    zpath = build_library_zip(src)
    spark.sparkContext.addPyFile(zpath)
    zname = os.path.basename(zpath)
    pkg = os.path.basename(src.rstrip("/")).removesuffix(".py")
    src_parent = os.path.dirname(os.path.abspath(src))

    def probe():
        import importlib
        import os as _os
        import socket
        import sys as _sys

        zip_hits = [
            p for p in _sys.path if _os.path.basename(p) == zname
        ]
        masked = [
            p
            for p in _sys.path
            if _os.path.abspath(p or ".") == src_parent
        ]
        saved_mods = {
            m: _sys.modules[m]
            for m in list(_sys.modules)
            if m == pkg or m.startswith(pkg + ".")
        }
        for p in masked:
            _sys.path.remove(p)
        for m in saved_mods:
            del _sys.modules[m]
        try:
            mod = importlib.import_module(pkg)
            modfile = getattr(mod, "__file__", "") or ""
        except Exception as ex:  # noqa: BLE001 — report, don't crash the job
            modfile = f"<import failed: {type(ex).__name__}: {ex}>"
        finally:
            for m in [
                m
                for m in list(_sys.modules)
                if m == pkg or m.startswith(pkg + ".")
            ]:
                del _sys.modules[m]
            _sys.modules.update(saved_mods)
            _sys.path[:0] = masked
        return {
            "host": socket.gethostname(),
            "pid": _os.getpid(),
            "zip_on_path": bool(zip_hits),
            "module_file": modfile,
        }

    from oarphpy_spark.operators.cluster import for_each_executor

    infos = for_each_executor(spark, probe)
    bad = [
        i
        for i in infos
        if not i["zip_on_path"] or zname not in i["module_file"]
    ]
    assert not bad, (
        f"shipping selftest: {len(bad)}/{len(infos)} slots failed to "
        f"import {pkg!r} from {zname!r}: {bad[:3]}"
    )
    return True


_CELL_HOOK = None  # (events_obj, callback) of the installed hook


def install_cell_reship_hook(spark, roots, get_ipython=None):
    """Re-ship ``roots`` (package root paths) before EVERY notebook
    cell — capability parity with the reference's NBSpark
    ``pre_execute`` hook (reference ``oarphpy/spark.py:888-923``, which
    rebuilt and re-shipped the egg whenever source mtimes changed).

    Engine-native: the zip is content-addressed, so the per-cell call
    hashes the source tree and no-ops (returns the cached zip, and
    ``addPyFile`` of an already-added path is free) unless the code
    actually changed — no mtime bookkeeping needed, and a touch-only
    save does not re-ship. Pair with ``spark.files.overwrite=true`` +
    ``spark.python.worker.reuse=false`` (NotebookSessionFactory sets
    both) so a changed zip is re-fetched and re-imported by fresh
    executor Pythons.

    Silently a no-op outside IPython (plain scripts / pytest). At most
    one hook is installed per process; re-installing (a new session)
    replaces the previous hook. Returns the registered callback or
    None. ``get_ipython`` is injectable for tests.
    """
    global _CELL_HOOK
    if get_ipython is None:
        try:
            from IPython import get_ipython  # type: ignore
        except ImportError:
            return None
    ip = get_ipython()
    if ip is None:
        return None
    uninstall_cell_reship_hook()
    roots = [r for r in roots if r]

    def _reship_on_cell(*_a, **_k):
        for root in roots:
            try:
                ship_library(spark, root)
            except Exception as e:  # a broken save must not kill the cell
                print(f"oarphpy_spark: re-ship of {root!r} failed: {e}")

    ip.events.register("pre_run_cell", _reship_on_cell)
    _CELL_HOOK = (ip.events, _reship_on_cell)
    return _reship_on_cell


def uninstall_cell_reship_hook() -> bool:
    """Remove the installed per-cell re-ship hook, if any."""
    global _CELL_HOOK
    if _CELL_HOOK is None:
        return False
    events, cb = _CELL_HOOK
    try:
        events.unregister("pre_run_cell", cb)
    except ValueError:
        pass  # already gone (IPython was reset)
    _CELL_HOOK = None
    return True
