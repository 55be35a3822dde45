"""The lazy, index-backed query registry.

``registry.queries()`` lists every query from a name → module index
built by scanning the query modules' source text, and a lookup imports
only the module that defines the name. These tests pin the index to a
full load and count the modules a lookup imports, each in a fresh
interpreter where import state matters.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from oarphpy_spark import registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fresh(code: str, pythonpath: str = _REPO) -> dict:
    """Run ``code`` in a new interpreter; it prints one JSON value."""
    env = dict(os.environ, PYTHONPATH=pythonpath)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(_REPO),
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_index_equals_full_load():
    """Same names, same order, same defining module, when the query
    modules are imported directly (not through the registry) in index
    order."""
    got = _fresh(
        """
        import importlib, json
        from oarphpy_spark import registry
        index = dict(registry._index())
        for module in dict.fromkeys(index.values()):
            importlib.import_module(module)
        print(json.dumps({
            "index": list(index.items()),
            "loaded": [[n, f.__module__] for n, f in registry._QUERIES.items()],
        }))
        """
    )
    assert len(got["index"]) > 250
    assert got["loaded"] == got["index"]


def test_lookup_imports_one_query_module():
    got = _fresh(
        """
        import json, sys
        from oarphpy_spark import registry
        fn = registry.queries()["q_kcore"]
        print(json.dumps({
            "fn": [fn.__module__, fn.__name__],
            "modules": sorted(m for m in sys.modules
                              if m.startswith("oarphpy_spark.queries.")),
        }))
        """
    )
    assert got["fn"] == ["oarphpy_spark.queries.graph_queries", "q_kcore"]
    assert got["modules"] == ["oarphpy_spark.queries.graph_queries"]


def test_oracle_get_matches_full_load():
    """``oracle_sql().get`` before any other import gives what a full
    load gives, for a query with an oracle and one without."""
    got = _fresh(
        """
        import json
        from oarphpy_spark import registry
        names = ["q_kcore", "q_monte_carlo_pi"]
        lazy = [registry.oracle_sql().get(n) for n in names]
        full = dict(registry.oracle_sql())
        print(json.dumps({"lazy": lazy, "full": [full.get(n) for n in names]}))
        """
    )
    assert got["lazy"] == got["full"]
    assert got["lazy"][0] and got["lazy"][1] is None


def test_each_query_module_imports_no_other_at_import_time():
    """A lookup compiles only the module it needs: importing any query
    module by itself adds no other ``oarphpy_spark.queries.*`` module.
    (Imports inside functions remain allowed.)"""
    strays = {}
    for module in dict.fromkeys(registry._index().values()):
        loaded = _fresh(
            f"""
            import importlib, json, sys
            importlib.import_module({module!r})
            print(json.dumps(sorted(m for m in sys.modules
                                    if m.startswith("oarphpy_spark.queries."))))
            """
        )
        others = [m for m in loaded if m != module]
        if others:
            strays[module] = others
    assert not strays, strays


def test_unknown_name_raises_key_error():
    with pytest.raises(KeyError):
        registry.queries()["q_no_such_query"]
    with pytest.raises(KeyError):
        registry.oracle_sql()["q_no_such_query"]
    assert "q_no_such_query" not in registry.queries()
    assert registry.oracle_sql().get("q_no_such_query") is None


def test_name_declared_in_two_modules_raises(tmp_path, monkeypatch):
    pkg = tmp_path / "dup_queries_pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    for mod in ("alpha", "beta"):
        (pkg / f"{mod}.py").write_text(
            "from oarphpy_spark.registry import query\n\n\n"
            f'@query(\n    "q_twice",\n    oracle=None,\n)\ndef q_{mod}(spark, sf_dir):\n'
            "    return None\n"
        )
    monkeypatch.syspath_prepend(str(tmp_path))
    with pytest.raises(ValueError) as err:
        registry._scan("dup_queries_pkg")
    assert "dup_queries_pkg.alpha" in str(err.value)
    assert "dup_queries_pkg.beta" in str(err.value)


def test_index_builds_from_zipped_package(tmp_path):
    """The shipped zip is what executors import the engine from; the
    index reads module source through ``importlib.resources``, so it
    builds there too and lists the same names."""
    from oarphpy_spark.shipping import build_library_zip

    zpath = build_library_zip(os.path.join(_REPO, "oarphpy_spark"), str(tmp_path))
    got = _fresh(
        """
        import json
        import oarphpy_spark
        from oarphpy_spark import registry
        qs = registry.queries()
        print(json.dumps({
            "file": oarphpy_spark.__file__,
            "names": list(qs),
            "kcore": qs["q_kcore"].__module__,
        }))
        """,
        pythonpath=zpath,
    )
    assert got["file"].startswith(zpath)
    assert got["names"] == list(registry.queries())
    assert got["kcore"] == "oarphpy_spark.queries.graph_queries"
