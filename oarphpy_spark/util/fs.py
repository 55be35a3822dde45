"""Local-filesystem utilities (capability parity with the reference's
fs helpers, ``oarphpy/util/misc.py:430-467``). Local or POSIX-mounted
paths only: no ``hdfs://``/``s3a://``/``file:`` URIs and no Hadoop
``{a,b}`` globs. That includes :func:`input_files`, the path expansion
of the ``archive`` and ``tfrecords`` sources, and the one listing rule
for parquet part files.

This module is also the one owner of query scratch space. A query
that writes files to read them back asks :func:`new_scratch_dir` for
a directory of its own: a new, uniquely named directory under
:func:`scratch_dir`, never shared with another call, thread or
process. Its lifetime follows the query's result:

- a result that reads the directory lazily holds it
  (``util/checkpoints.hold_caches``), and
  ``util/checkpoints.release_cached`` removes it;
- a query that materializes its result before returning removes the
  directory before returning (:func:`transient_scratch_dir`).

Every directory still present at interpreter exit is removed then."""

from __future__ import annotations

import atexit
import contextlib
import glob
import os
import shutil
import tarfile
import tempfile
import threading
import urllib.parse
import urllib.request
import zipfile
from collections.abc import Iterator


def mkdir_p(path: str) -> None:
    os.makedirs(path, exist_ok=True)


def rm_rf(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path) or os.path.islink(path):
        os.remove(path)


def cleandir(path: str) -> None:
    """Ensure ``path`` exists and is empty."""
    rm_rf(path)
    mkdir_p(path)


def all_files_recursive(root: str) -> Iterator[str]:
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in sorted(filenames):
            yield os.path.join(dirpath, f)


def input_files(path: str) -> list[str]:
    """The files a file-source ``path`` names. Each match of the glob
    ``path`` (or ``path`` itself) that is a file is taken as-is; each
    that is a directory contributes every file below it, recursively,
    skipping hidden and ``_``-prefixed files and subdirectories (such
    as a writer's ``_staging``). A path matching nothing comes back
    as-is, so the reader's open raises the not-found error."""
    out: list[str] = []
    for match in sorted(glob.glob(path)) or [path]:
        if not os.path.isdir(match):
            out.append(match)
            continue
        for dirpath, dirnames, filenames in os.walk(match):
            dirnames[:] = sorted(n for n in dirnames if not n.startswith((".", "_")))
            out.extend(
                os.path.join(dirpath, n)
                for n in sorted(filenames)
                if not n.startswith((".", "_"))
            )
    return out


def is_archive(path: str) -> bool:
    """True for the archive formats :func:`download` auto-expands."""
    return zipfile.is_zipfile(path) or tarfile.is_tarfile(path)


def expand_archive(archive_path: str, dest_dir: str) -> list[str]:
    """Extract a zip/tar(.gz/.bz2/.xz) into ``dest_dir``; returns the
    extracted file paths. Member paths are sanitized (no absolute
    paths, no ``..`` escapes)."""
    mkdir_p(dest_dir)
    if zipfile.is_zipfile(archive_path):
        with zipfile.ZipFile(archive_path) as z:
            for info in z.infolist():
                target = os.path.realpath(os.path.join(dest_dir, info.filename))
                if not target.startswith(os.path.realpath(dest_dir) + os.sep):
                    raise ValueError(f"archive member escapes dest: {info.filename}")
            z.extractall(dest_dir)
    elif tarfile.is_tarfile(archive_path):
        with tarfile.open(archive_path) as t:
            # 'data' filter (stdlib) rejects absolute paths, .. escapes,
            # devices, and chown attempts.
            t.extractall(dest_dir, filter="data")
    else:
        raise ValueError(f"not a recognized archive: {archive_path}")
    return list(all_files_recursive(dest_dir))


def download(
    uri: str, dest: str, try_expand: bool = True, skip_existing: bool = True
) -> str:
    """Fetch ``uri`` (http(s)/file URI or local path) to ``dest``,
    auto-expanding archives — capability parity with the reference's
    ``download`` (``oarphpy/util/misc.py:475-543``). Driver-side fixture
    staging only: bulk data belongs to Spark's own readers.

    * archive + ``try_expand``: extracted INTO ``dest`` (a directory).
    * otherwise: byte-copied to ``dest`` (a file path).
    * ``skip_existing``: no-op when ``dest`` already has content —
      idempotent re-runs, the reference's caching behavior.
    """
    if skip_existing and not missing_or_empty(dest):
        return dest
    parsed = urllib.parse.urlparse(uri)
    if parsed.scheme in ("", "file"):
        src_path = parsed.path if parsed.scheme == "file" else uri
        if try_expand and is_archive(src_path):
            expand_archive(src_path, dest)
        else:
            mkdir_p(os.path.dirname(dest) or ".")
            shutil.copyfile(src_path, dest)
        return dest
    if parsed.scheme not in ("http", "https"):
        raise ValueError(f"unsupported scheme {parsed.scheme!r} in {uri!r}")
    tmp = dest.rstrip("/") + f".part.{os.getpid()}"
    mkdir_p(os.path.dirname(dest) or ".")
    with urllib.request.urlopen(uri) as resp, open(tmp, "wb") as out:
        shutil.copyfileobj(resp, out)
    if try_expand and is_archive(tmp):
        try:
            expand_archive(tmp, dest)
        finally:
            rm_rf(tmp)
    else:
        os.replace(tmp, dest)
    return dest


def missing_or_empty(path: str) -> bool:
    """True when the path doesn't exist, is an empty file, or is a
    directory containing no files."""
    if not os.path.exists(path):
        return True
    if os.path.isfile(path):
        return os.path.getsize(path) == 0
    return next(all_files_recursive(path), None) is None


def scratch_dir() -> str:
    """Directory for transient fixtures/spill that executors must be
    able to read. Defaults to the node-local tempdir (fine in local
    mode); on a multi-node cluster point ``SPARK_GRAFT_SCRATCH_DIR``
    at shared storage (NFS/object-store fuse) so distributed scans of
    driver-written fixtures resolve on every executor."""
    d = os.environ.get("SPARK_GRAFT_SCRATCH_DIR") or tempfile.gettempdir()
    os.makedirs(d, exist_ok=True)
    return d


# Scratch directories handed out and not yet removed.
_SCRATCH_DIRS: set[str] = set()
_SCRATCH_LOCK = threading.Lock()


def new_scratch_dir(tag: str) -> str:
    """A new, empty directory ``oarphpy_spark_<tag>_<random>`` under
    :func:`scratch_dir`, private to this call. Remove it with
    :func:`remove_scratch_dir` (or hold it on a lazy result, see the
    module docstring); whatever is left is removed at interpreter
    exit."""
    d = tempfile.mkdtemp(prefix=f"oarphpy_spark_{tag}_", dir=scratch_dir())
    with _SCRATCH_LOCK:
        _SCRATCH_DIRS.add(d)
    return d


def remove_scratch_dir(path: str) -> None:
    """Remove a directory made by :func:`new_scratch_dir`."""
    with _SCRATCH_LOCK:
        _SCRATCH_DIRS.discard(path)
    rm_rf(path)


@contextlib.contextmanager
def transient_scratch_dir(tag: str) -> Iterator[str]:
    """:func:`new_scratch_dir` for the duration of a ``with`` block,
    for a query that materializes its result before returning."""
    d = new_scratch_dir(tag)
    try:
        yield d
    finally:
        remove_scratch_dir(d)


@atexit.register
def _remove_scratch_dirs() -> None:
    with _SCRATCH_LOCK:
        left = list(_SCRATCH_DIRS)
        _SCRATCH_DIRS.clear()
    for d in left:
        rm_rf(d)
