"""Persist-policy guard.

The shared-subtree caches that ride on operator results via
``_oarphpy_persisted`` must never be memory-ONLY: at 100 TB the
token/adjacency relations won't fit executor memory, and a
memory-only cache under pressure EVICTS and silently re-derives the
subtree mid-query — the exact failure the persists exist to prevent.
A memory-AND-disk level instead degrades to disk spill.

PySpark's ``DataFrame.persist()`` default is already
``MEMORY_AND_DISK_DESER`` (pyspark.storagelevel; Dataset.persist has
defaulted to a disk-backed level since Spark 2.0 — unlike
``RDD.cache()``'s MEMORY_ONLY), so the call sites stay argless.  These
tests make that a machine-checked invariant rather than a remembered
fact:

* a lint guard fails if any source site ever passes an explicit
  memory-only StorageLevel;
* a runtime check materializes cached operators and asserts every
  live ``_oarphpy_persisted`` entry reports ``useDisk=True`` — so a
  future Spark default change (or a careless explicit level) trips CI
  immediately.

Behavior under real memory pressure (eviction through a persisted
subtree degrading to disk, zero recompute/OOM) is exercised by
``scripts/scale_smoke_mem.py`` at sf1.0 under a 4 GB squeeze.
"""

from __future__ import annotations

import os
import re

SRC_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "oarphpy_spark",
)

SF_SMALL = "/root/testdata/sf0.001"


def _source_files():
    for root, _dirs, files in os.walk(SRC_ROOT):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_no_memory_only_persist_site():
    """No `.persist(...)` in non-test source may request a level
    without disk backing (MEMORY_ONLY*). Argless persist is fine —
    the DataFrame default is MEMORY_AND_DISK_DESER, asserted live by
    test_live_caches_are_disk_backed."""
    bad = []
    pat = re.compile(r"\.persist\(([^)]*)\)")
    for path in _source_files():
        text = open(path).read()
        for m in pat.finditer(text):
            arg = m.group(1).strip()
            if not arg:
                continue  # argless -> MEMORY_AND_DISK_DESER default
            if "MEMORY_AND_DISK" in arg or "DISK_ONLY" in arg:
                continue
            line = text[: m.start()].count("\n") + 1
            bad.append(f"{path}:{line} persist({arg})")
    assert not bad, f"memory-only persist sites: {bad}"


def test_live_caches_are_disk_backed(spark):
    """Materialize operators that ride `_oarphpy_persisted` caches and
    assert every live cache entry's effective StorageLevel has
    useDisk=True (eviction degrades to spill, not recompute), and that
    release_cached leaves the session's CacheManager empty (no cache
    the query persisted is left unattached)."""
    from oarphpy_spark import registry
    from oarphpy_spark.llm.dedup import release_cached

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    qs = registry.queries()
    # One single-cache operator, one list-carrying graph operator, and
    # two queries that persist a relation of their own.
    for name in (
        "q_set_similarity_join",
        "q_triangle_count",
        "q_dedup_simhash_hamming",
        "q_dedup_minhash_verified",
    ):
        df = qs[name](spark, SF_SMALL)
        try:
            df.write.mode("overwrite").format("noop").save()
            cached = getattr(df, "_oarphpy_persisted", None)
            assert cached is not None, f"{name} no longer rides caches?"
            entries = cached if isinstance(cached, (list, tuple)) else [cached]
            assert entries, name
            for c in entries:
                lvl = c.storageLevel
                assert lvl.useDisk, f"{name}: cache level {lvl} lacks disk"
                assert lvl.useMemory, f"{name}: cache level {lvl} lacks memory"
        finally:
            release_cached(df)
        assert cache_manager.isEmpty(), f"{name}: caches left after release"
