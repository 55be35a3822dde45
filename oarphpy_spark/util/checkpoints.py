"""Lineage cuts and operator-cache release: the one module that
decides how a DataFrame's lineage is cut and how the caches an
operator persists are freed.

Every iterative operator in this engine (connected components,
PageRank, k-core, k-truss, label propagation, SCC) must cut its
DataFrame lineage each round, or round k's plan replays rounds
1..k-1 and the loop goes quadratic; queries also cut their final
results so the persisted inputs can be released. Two mechanisms
exist:

- ``DataFrame.localCheckpoint()`` — blocks stored on executor local
  disk/memory. Fast (no DFS write), but an executor LOSS orphans the
  blocks and the job cannot recompute them (lineage is gone). Fine on
  a single machine or for short loops; wrong for a 1000-executor
  cluster where some executor failing mid-loop is the expected case.
- ``DataFrame.checkpoint()`` — blocks written to the RELIABLE
  checkpoint directory (``sc.setCheckpointDir``, typically on
  HDFS/object storage). Survives executor loss; costs one DFS
  round-trip per truncation.

:func:`truncate_lineage` is the only lineage cut in the engine and
picks between them from what the session shows: the reliable form iff
a checkpoint dir is configured on the SparkContext, else local. A
production job that calls ``sc.setCheckpointDir(...)`` at startup
gets executor-loss-safe loops and results with zero per-operator
plumbing; local runs keep the fast path.

Ride-along storage: an operator that ``persist()``s an intermediate
for its lazy result cannot unpersist it before returning. It attaches
the cache to the result with :func:`hold_caches`, and the caller
frees it with :func:`release_cached` once the result is materialized.
SQL-persisted plans are held by the session's CacheManager until an
explicit ``unpersist()``, so driver GC of the result does NOT reclaim
them. The same rule covers an operator's checkpointed result under a
query's projection (the query holds the operator result) and a
query's scratch directory (``util/fs.new_scratch_dir``): a result
that reads its directory lazily holds the path, and
:func:`release_cached` removes it. A query that materializes its
result before returning removes its directory itself.

The same module owns the session's other storage decision: which
derived relations are reused across queries. :func:`session_shared`
builds a named value once per (application, scope) — e.g. the
co-purchase edges every graph query consumes, or the MinHash buckets
every LSH dedup query consumes — and :func:`release_shared` is the one
call that frees them (:func:`release_checkpoint` on each DataFrame).

The reference has no iterative operator and so no equivalent; its
closest durability primitive is the egg-shipping SessionFactory
(reference ``oarphpy/spark.py:472-791``), which solves code
distribution, not lineage.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame

from oarphpy_spark.util.fs import remove_scratch_dir


def checkpoint_dir_configured(df: DataFrame) -> bool:
    """True iff ``sc.setCheckpointDir`` has been called on this
    session's SparkContext."""
    sc = df.sparkSession.sparkContext
    # _jsc.sc().getCheckpointDir() is an Option[String] on the JVM side
    return sc._jsc.sc().getCheckpointDir().isDefined()


def clear_checkpoint_dir(spark) -> None:
    """Unset the SparkContext's checkpoint directory (test hygiene —
    Spark has no public unset, but the field is plain bytecode-public
    on the JVM side). After this, AUTO mode resolves to
    ``localCheckpoint`` again."""
    jsc = spark.sparkContext._jsc.sc()
    none_opt = spark.sparkContext._gateway.jvm.scala.Option.apply(None)
    getattr(jsc, "checkpointDir_$eq")(none_opt)


def truncate_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: a reliable ``checkpoint()`` if a
    checkpoint dir is configured, else ``localCheckpoint()``.

    ``eager=False`` defers materialization to the first action — used
    for per-round truncations whose very next statement is the
    convergence-check action anyway."""
    if checkpoint_dir_configured(df):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind an eager ``localCheckpoint`` of
    ``df``. The checkpointed Dataset wraps a ``LogicalRDD`` over the
    persisted RDD; unpersisting it drops the blocks now instead of at
    driver GC + ContextCleaner. A no-op for reliable checkpoints (the
    ContextCleaner deletes their files once unreferenced, which the
    ``SessionFactory`` presets enable with
    ``spark.cleaner.referenceTracking.cleanCheckpoints``) and
    already-released frames. A released local checkpoint cannot be
    recomputed (its lineage is gone), so callers release only frames
    nothing references any more."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort on a dying session
        pass


def hold_caches(result: DataFrame, *held: DataFrame | str) -> DataFrame:
    """Append ``held`` to ``result``'s ride-along storage and return
    ``result``; :func:`release_cached` frees it. Each of ``held`` is a
    DataFrame persisted on behalf of ``result``, an operator result
    that ``result`` is built on (its own ride-along storage and its
    checkpoint, if it is one, pass to ``result``; e.g. a query built on
    ``triangle_count``'s output), or a scratch directory
    (``util/fs.new_scratch_dir``) that ``result`` reads."""
    out = list(getattr(result, "_oarphpy_persisted", []))
    for item in held:
        out.extend(getattr(item, "_oarphpy_persisted", []))
        out.append(item)
    result._oarphpy_persisted = out
    return result


def release_cached(result: DataFrame) -> None:
    """Free what :func:`hold_caches` attached to ``result`` — unpersist
    each held DataFrame, release its checkpoint blocks if it is a
    :func:`truncate_lineage` cut, remove each held scratch directory —
    and, when ``result`` is itself a cut (e.g. ``kcore``'s final degree
    table), its checkpoint blocks too. A checkpoint that
    :func:`session_shared` holds is never released. Call AFTER the
    result has been materialized (written/collected). A later
    re-computation of a result with ride-along caches still works — it
    just re-builds the cached table(s); a released checkpoint or
    scratch directory cannot be re-read (its lineage or files are
    gone), so rebuild such a result from its query.

    Storage-level policy: every ride-along cache is created with an
    ARGLESS ``DataFrame.persist()``, whose default is
    ``MEMORY_AND_DISK_DESER`` — under memory pressure the cached
    blocks spill to disk instead of being evicted and silently
    re-derived mid-query (the RDD ``cache()``/MEMORY_ONLY failure
    mode). tests/test_persist_policy.py machine-checks both halves:
    no source site may pass a memory-only level, and live ride-along
    entries must report ``useDisk=True``; the sf1.0 4 GB-squeeze smoke
    (scripts/scale_smoke_mem.py) exercises the actual spill path."""
    cuts = []
    for item in getattr(result, "_oarphpy_persisted", []):
        if isinstance(item, str):
            remove_scratch_dir(item)
        else:
            item.unpersist()
            cuts.append(_checkpointed_rdd(item))
    cuts = [rdd for rdd in [*cuts, _checkpointed_rdd(result)] if rdd is not None]
    if cuts:
        shared = _shared_rdd_ids(result.sparkSession)
        for rdd in cuts:
            if rdd.id() not in shared:
                rdd.unpersist(False)


def _checkpointed_rdd(df: DataFrame):
    """The JVM RDD behind ``df`` if ``df`` is a checkpoint (its analyzed
    plan is a ``LogicalRDD`` over a checkpointed RDD), else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd if rdd.isCheckpointed() else None


# (applicationId, scope) -> {name: value}. Keyed by applicationId so a
# value never outlives the SparkContext whose blocks back it.
_SHARED: dict[tuple[str, Hashable], dict[Hashable, Any]] = {}
_SHARED_LOCK = threading.RLock()


def session_shared(
    spark, scope: Hashable, name: Hashable, build: Callable[[], Any]
) -> Any:
    """The value ``name`` in ``scope`` for this session's application,
    built with ``build()`` on first touch and reused until
    :func:`release_shared`. Scopes left by dead applications (a
    previous in-process session) are evicted here. Builders may look
    up other values of the same scope; concurrent callers wait for one
    build instead of each running their own."""
    app = spark.sparkContext.applicationId
    with _SHARED_LOCK:
        for key in [k for k in _SHARED if k[0] != app]:
            del _SHARED[key]
        values = _SHARED.get((app, scope), {})
        if name in values:
            return values[name]
        value = build()
        _SHARED.setdefault((app, scope), {})[name] = value
        return value


def _shared_rdd_ids(spark) -> set[int]:
    """RDD ids of this application's shared checkpointed DataFrames."""
    app = spark.sparkContext.applicationId
    with _SHARED_LOCK:
        values = [
            v
            for key, named in _SHARED.items()
            if key[0] == app
            for v in named.values()
            if isinstance(v, DataFrame)
        ]
    return {rdd.id() for rdd in map(_checkpointed_rdd, values) if rdd is not None}


def release_shared(spark, scope: Hashable | None = None) -> int:
    """Drop this application's shared scopes (all, or just ``scope``)
    and release every DataFrame in them; the next touch rebuilds.
    Scopes of dead applications are dropped too but not counted (their
    blocks died with their context), so the return value — the number
    of live scopes dropped — cannot pick up leftovers of an earlier
    in-process session."""
    app = spark.sparkContext.applicationId
    dropped = 0
    with _SHARED_LOCK:
        for key in list(_SHARED):
            live = key[0] == app
            if live and scope is not None and key[1] != scope:
                continue
            values = _SHARED.pop(key)
            if live:
                dropped += 1
                for v in values.values():
                    if isinstance(v, DataFrame):
                        release_checkpoint(v)
    return dropped
