"""Central registry of declared queries and their DuckDB oracles.

Every operator the engine claims (SURVEY.md §2) registers here:

    @query("q_groupby_count", oracle="SELECT ...")
    def q_groupby_count(spark, sf_dir) -> DataFrame: ...

``__spark_entry__.py`` re-exports ``queries()`` / ``oracle_sql()`` from
this module for the driver's correctness harness. Naming discipline:
every computed column is aliased identically in the Spark plan and the
oracle SQL (the driver sorts columns by name before value-hashing).

Queries without an oracle (sampling, binary outputs, stateful
streaming) register with ``oracle=None`` → the driver records a weaker
rows-only check.

Lookups are lazy. Importing ``oarphpy_spark.queries`` registers
nothing; the registry instead keeps an index of name → defining
module, built by scanning the source text of the modules directly
under ``oarphpy_spark/queries/`` for ``@query("name"`` declarations
(a lint in ``tests/test_checkpoints.py`` keeps every declaration in
that form). ``queries()`` and ``oracle_sql()`` are read-only mappings
over that index:

* ``queries()[name]`` imports only the module that defines ``name``
  and returns the registered function; its keys, ``len`` and ``in``
  come from the index and import nothing;
* ``oracle_sql().get(name)`` imports only that module too, and is
  ``None`` for a rows-only query; iterating ``oracle_sql()`` or taking
  its length imports every query module, because which queries have
  an oracle is only known once they are registered.

Both iterate in index order: module name order, then declaration
order. Registrations are kept in that order too, whatever order the
modules happen to be imported in.
"""

from __future__ import annotations

import importlib
import importlib.resources
import pkgutil
import re
import threading
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
# Guards the two tables: a registration (during some module's import)
# and a re-sort (during a lookup) may run on different threads.
_LOCK = threading.Lock()
# len(_QUERIES) when the tables were last put in index order.
_N_SORTED = 0

_PACKAGE = "oarphpy_spark.queries"
# A declaration starts a line. Anchored on the newline rather than on
# ``^``, the pattern has a literal prefix the scan searches for, ~4x
# faster; no module starts with a declaration.
_DECLARATION = re.compile(r'\n@query\(\s*"([^"]+)"')
_INDEX: dict[str, str] | None = None


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        with _LOCK:
            if name in _QUERIES:
                raise ValueError(f"duplicate query slug: {name}")
            _QUERIES[name] = fn
            if oracle is not None:
                _ORACLES[name] = oracle
        return fn

    return deco


def _scan(package: str) -> dict[str, str]:
    """Query name → full name of the module that declares it, over the
    modules directly under ``package``, in module order, then
    declaration order. Reads their source text without importing them,
    so it also works when the package is imported from a zip."""
    pkg = importlib.import_module(package)
    sources = importlib.resources.files(pkg)
    index: dict[str, str] = {}
    for info in pkgutil.iter_modules(pkg.__path__):
        if info.ispkg:
            continue
        module = f"{package}.{info.name}"
        text = sources.joinpath(f"{info.name}.py").read_text(encoding="utf-8")
        for name in _DECLARATION.findall(text):
            if name in index:
                raise ValueError(
                    f"query {name!r} is declared in both {index[name]} and {module}"
                )
            index[name] = module
    return index


def _index() -> dict[str, str]:
    """The index of the engine's own query package, built once."""
    global _INDEX
    if _INDEX is None:
        _INDEX = _scan(_PACKAGE)
    return _INDEX


def _load(module: str) -> None:
    """Import ``module`` (registering its queries on first import), then
    put the tables back in index order if anything registered since.
    The sorted tables replace the old ones whole, so a reader on another
    thread never sees one half filled."""
    global _QUERIES, _ORACLES, _N_SORTED
    importlib.import_module(module)
    with _LOCK:
        if len(_QUERIES) == _N_SORTED:
            return
        rank = _index()
        last = len(rank)

        def in_order(table):
            return dict(sorted(table.items(), key=lambda kv: rank.get(kv[0], last)))

        _QUERIES, _ORACLES = in_order(_QUERIES), in_order(_ORACLES)
        _N_SORTED = len(_QUERIES)


class _Queries(Mapping[str, QueryFn]):
    """Read-only name → query function view; see the module docstring."""

    def __getitem__(self, name: str) -> QueryFn:
        _load(_index()[name])
        return _QUERIES[name]

    def __iter__(self) -> Iterator[str]:
        return iter(_index())

    def __len__(self) -> int:
        return len(_index())

    def __contains__(self, name: object) -> bool:
        return name in _index()


class _Oracles(Mapping[str, str]):
    """Read-only name → oracle SQL view; see the module docstring."""

    def __getitem__(self, name: str) -> str:
        _load(_index()[name])
        return _ORACLES[name]

    def __iter__(self) -> Iterator[str]:
        _ensure_loaded()
        return iter(list(_ORACLES))

    def __len__(self) -> int:
        _ensure_loaded()
        return len(_ORACLES)


def queries() -> Mapping[str, QueryFn]:
    """Every declared query by name. Builds the index on first call (a
    name declared in two modules raises ``ValueError``) and imports no
    query module."""
    _index()
    return _Queries()


def oracle_sql() -> Mapping[str, str]:
    """DuckDB oracle SQL by query name, for the queries that have one."""
    _index()
    return _Oracles()


def _ensure_loaded() -> None:
    """Import every indexed query module."""
    for module in dict.fromkeys(_index().values()):
        _load(module)
