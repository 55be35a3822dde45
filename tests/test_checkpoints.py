"""truncate_lineage: local vs reliable checkpoint selection from the
session's checkpoint dir, for operators and query result cuts."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from oarphpy_spark.util.checkpoints import (
    checkpoint_dir_configured,
    clear_checkpoint_dir,
    truncate_lineage,
)
from tests.conftest import SF_SMALL


@pytest.fixture(autouse=True)
def _no_checkpoint_dir_leak(spark):
    """Any checkpoint dir set inside a test is unset afterwards so
    AUTO mode stays local for the rest of the suite."""
    clear_checkpoint_dir(spark)
    yield
    clear_checkpoint_dir(spark)


def _files_under(root: str) -> list[str]:
    found = []
    for _root, _dirs, files in os.walk(root):
        found.extend(files)
    return found


def test_local_truncation_by_default(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    assert not checkpoint_dir_configured(df)
    out = truncate_lineage(df)
    assert out.count() == 10
    # localCheckpoint plans scan an RDD, not the original range
    assert "Scan ExistingRDD" in out._jdf.queryExecution().toString()


def test_reliable_checkpoint_writes_to_dir(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    df = spark.range(100).withColumn("y", F.col("id") % 7)
    out = truncate_lineage(df)
    assert out.count() == 100
    # blocks actually landed in the reliable dir
    assert _files_under(ckpt), "reliable checkpoint wrote nothing to the dir"
    out2 = truncate_lineage(spark.range(3), eager=False)
    assert out2.count() == 3


def test_graph_ops_follow_checkpoint_dir(spark, tmp_path):
    """connected_components returns the same stars with local
    truncation (no dir) and reliable truncation (dir set)."""
    from oarphpy_spark.llm.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "s long, d long"
    )
    want = {(2, 1), (3, 1), (11, 10)}

    def stars():
        return {
            (r.node, r.component)
            for r in connected_components(edges, "s", "d").collect()
        }

    assert stars() == want
    ckpt = str(tmp_path / "ckpt2")
    spark.sparkContext.setCheckpointDir(ckpt)
    assert stars() == want
    assert _files_under(ckpt)


def test_query_result_cut_follows_checkpoint_dir(spark, tmp_path):
    """A query's final lineage cut honours a configured checkpoint
    dir: q_graph_reciprocity writes its result under the dir and
    returns the same rows as the local cut."""
    from oarphpy_spark import registry

    q = registry.queries()["q_graph_reciprocity"]
    want = sorted(q(spark, SF_SMALL).collect())
    ckpt = str(tmp_path / "ckpt3")
    spark.sparkContext.setCheckpointDir(ckpt)
    got = sorted(q(spark, SF_SMALL).collect())
    assert got == want
    assert _files_under(ckpt), "result cut wrote nothing to the dir"


def _converged_graph_results(spark) -> dict:
    """One multi-round run of each operator whose convergence is
    counted inside its round's checkpoint job, on a graph with a
    known answer."""
    from oarphpy_spark.llm import graph as g

    def edges(pairs):
        return spark.createDataFrame(pairs, "s long, d long")

    chain = edges([(i, i + 1) for i in range(1, 8)] + [(10, 11)])
    cycle_with_tail = edges(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 4), (4, 10), (10, 11), (11, 12)]
    )
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    k5_pendant = edges(k5 + [(0, 10), (1, 10)])
    weighted = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10)], "s long, d long, w long"
    )
    return {
        "connected_components": sorted(
            tuple(r) for r in g.connected_components(chain, "s", "d").collect()
        ),
        "kcore": sorted(
            tuple(r) for r in g.kcore(cycle_with_tail, 2, "s", "d").collect()
        ),
        "ktruss": sorted(
            tuple(r) for r in g.ktruss(k5_pendant, 4, "s", "d").collect()
        ),
        # 6 rounds allowed, the frontier empties after the 4th
        "sssp": sorted(
            tuple(r) for r in g.sssp(weighted, 1, "s", "d", rounds=6).collect()
        ),
    }


def test_observed_convergence_follows_checkpoint_dir(spark, tmp_path):
    """connected_components, kcore, ktruss and sssp read their
    convergence counts from the checkpoint job itself; the counts, and
    so the results, are the same under local and reliable lineage
    cuts."""
    want = {
        "connected_components": [(i, 1) for i in range(2, 9)] + [(11, 10)],
        "kcore": [(i, 2) for i in range(5)],
        "ktruss": [(a, b, 3) for a in range(5) for b in range(5) if a < b],
        "sssp": [(1, 0), (2, 1), (3, 2), (4, 3)],
    }
    assert _converged_graph_results(spark) == want
    ckpt = str(tmp_path / "ckpt4")
    spark.sparkContext.setCheckpointDir(ckpt)
    assert _converged_graph_results(spark) == want
    assert _files_under(ckpt)


# Each token may appear in oarphpy_spark/ only in the module that owns
# the decision behind it: how lineage is cut and ride-along caches are
# held (util/checkpoints), how plan metrics are observed
# (operators/counters), and where scratch directories are made
# (util/fs).
_OWNED_TOKENS = {
    "localCheckpoint(": "util/checkpoints.py",
    ".checkpoint(": "util/checkpoints.py",
    "_oarphpy_persisted": "util/checkpoints.py",
    "Observation(": "operators/counters.py",
    "mkdtemp(": "util/fs.py",
}


def test_lineage_cuts_and_observations_have_one_owner():
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oarphpy_spark",
    )
    strays = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    for token, owner in _OWNED_TOKENS.items():
                        if token in line and rel != owner:
                            strays.append(f"{rel}:{lineno}: {token}")
    assert not strays, strays


# A file name with a round suffix (two digits, or a ``{N}`` template)
# before ``.json``/``.md``, and any ``scripts/<name>.py`` path.
_ROUND_ARTIFACT = re.compile(
    r"\b[A-Za-z0-9_]*[A-Za-z0-9]_r(?:[0-9]{2}|\{[^}]*\})[A-Za-z0-9_]*"
    r"\.(?:json|md)\b"
)
_SCRIPT_PATH = re.compile(r"scripts/([A-Za-z0-9_]+)\.py\b")
_CITING = ("oarphpy_spark", "tests", "scripts", "bench.py", "README.md",
           "SURVEY.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))


def test_no_citation_of_missing_artifacts_or_scripts():
    """Code and docs cite no per-round artifact file (none is kept in
    the repo), no ``scripts/*.py`` that does not exist, and not the
    checkout's own absolute path: a file that hard-codes it reads the
    first checkout's files from any other."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = []
    for entry in _CITING:
        top = os.path.join(repo, entry)
        if os.path.isfile(top):
            paths.append(top)
        for dirpath, dirs, files in os.walk(top):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            paths.extend(os.path.join(dirpath, n) for n in files)
    assert len(paths) > 100, paths
    dangling = []
    for path in paths:
        rel = os.path.relpath(path, repo)
        with open(path, encoding="utf-8", errors="ignore") as f:
            for lineno, line in enumerate(f, 1):
                names = _ROUND_ARTIFACT.findall(line) + [
                    f"scripts/{m}.py"
                    for m in _SCRIPT_PATH.findall(line)
                    if not os.path.isfile(os.path.join(repo, "scripts", f"{m}.py"))
                ] + [repo] * (repo in line)
                dangling.extend(f"{rel}:{lineno}: {n}" for n in names)
    assert not dangling, dangling


_TEMP_VIEW_WRITE = re.compile(r"\b(register_temp_views|createOrReplaceTempView)\b")


def test_queries_and_operators_write_no_temp_view():
    """No module under ``queries/``, ``operators/`` or ``llm/`` names a
    session-global temp view: a statement binds its inputs as
    arguments (``tables.bound_sql``), so two clients on one session
    never see or rebind each other's views."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oarphpy_spark",
    )
    writes = []
    n_files = 0
    for pkg in ("queries", "operators", "llm"):
        for dirpath, _dirs, files in os.walk(os.path.join(root, pkg)):
            for name in files:
                if not name.endswith(".py"):
                    continue
                n_files += 1
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, root).replace(os.sep, "/")
                with open(path, encoding="utf-8") as f:
                    for lineno, line in enumerate(f, 1):
                        m = _TEMP_VIEW_WRITE.search(line)
                        if m:
                            writes.append(f"{rel}:{lineno}: {m.group(1)}")
    assert n_files > 20, n_files
    assert not writes, writes


_PROCESS_KEYED_SCRATCH = re.compile(r"\b((?:os\.)?getpid|(?:tempfile\.)?gettempdir)\s*\(")


def test_queries_build_no_process_keyed_scratch_path():
    """No module under ``queries/`` calls ``os.getpid()`` or
    ``tempfile.gettempdir()``: a path keyed on the process is shared by
    every thread and session in it, so two concurrent calls of one
    query would write over each other. Queries take a private
    directory from ``util/fs.new_scratch_dir``."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oarphpy_spark",
        "queries",
    )
    calls = []
    n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            n_files += 1
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    m = _PROCESS_KEYED_SCRATCH.search(line)
                    if m:
                        calls.append(f"queries/{name}:{lineno}: {m.group(1)}")
    assert n_files > 20, n_files
    assert not calls, calls


def _query_decorators(tree: ast.AST):
    """``(lineno, first argument)`` of every ``@query(...)`` decorator."""
    for node in ast.walk(tree):
        for deco in getattr(node, "decorator_list", ()):
            call = deco if isinstance(deco, ast.Call) else None
            func = call.func if call else deco
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if name == "query":
                yield deco.lineno, (call.args[0] if call and call.args else None)


def test_query_declarations_are_indexable():
    """Every ``@query(`` under ``oarphpy_spark/`` sits in a module
    directly under ``oarphpy_spark/queries/`` and names its query with a
    string literal first argument, in the form the registry's index
    scans for (``registry._DECLARATION``). A declaration the scan missed
    would be a query no lookup can reach."""
    from oarphpy_spark import registry

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oarphpy_spark",
    )
    problems = []
    n_declared = 0
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                text = f.read()
            declared = []
            for lineno, first in _query_decorators(ast.parse(text)):
                if not (isinstance(first, ast.Constant) and isinstance(first.value, str)):
                    problems.append(f"{rel}:{lineno}: first argument is not a string literal")
                    continue
                declared.append(first.value)
                if os.path.dirname(rel) != "queries" or name == "__init__.py":
                    problems.append(f"{rel}:{lineno}: {first.value} outside a query module")
            scanned = registry._DECLARATION.findall(text)
            if sorted(declared) != sorted(scanned):
                problems.append(f"{rel}: declared {sorted(declared)}, scanned {sorted(scanned)}")
            n_declared += len(declared)
    assert n_declared > 250, n_declared
    assert not problems, problems
