#!/usr/bin/env python
"""Robustness parity sweeps: prove oracle-parity holds independent of
physical strategy and session state, not just on the default config's
single pass.

Modes (combine freely):

* ``--config-sweep`` — run the full registry against the DuckDB
  oracles with ADVERSARIAL configs: AQE disabled, a prime shuffle
  partition count (7), and a 4 KB autoBroadcastJoinThreshold that
  flips every borderline broadcast into a shuffle join. A query that
  stays green here cannot be leaning on a plan accident (broadcast-
  preserved ordering, partition-count-dependent hashing/sampling,
  an AQE-only coalesce).
* ``--double-run`` — run the full registry TWICE in ONE SparkSession,
  second pass in REVERSED order. Catches session-stateful
  interference a single-pass gate misses by construction: temp-view
  name collisions, CacheManager entries keyed on a stale plan,
  session-scoped registration conflicts, cross-query persisted-state
  leaks.
* ``--arrow-sweep`` — ``spark.sql.execution.arrow.maxRecordsPerBatch``
  forced to 7, so every Pandas-UDF / mapInPandas / applyInPandas
  input arrives as 7-row Arrow batches. An operator that accumulates
  per batch and forgets to merge — or assumes batch == partition —
  passes the default 10k-batch gate and breaks here.
* ``--shuffled-sweep`` — Spark reads a ROW-SCRAMBLED copy of every
  table (deterministic permutation, same content) while the oracle
  reads the ORIGINAL files. Any dependence on physical row order —
  an under-specified window ORDER BY over tie-heavy keys, a
  first()/limit-without-sort, an order-sensitive accumulation —
  diverges here even when both engines would agree on the same file
  (the exact failure mode of the r12 q_scc_sizes LEAD-ambiguity
  finding: the testdata has duplicate (l_orderkey, l_linenumber)
  pairs, both engines read file order at sf0.01, and the bug only
  surfaced as run-to-run flapping at sf0.1). At cluster scale row
  order is NEVER stable — splits, speculative retries, and
  compaction all permute it — so content-determinism is the only
  correctness contract that survives.
* ``--no-persist-sweep`` — ``DataFrame.persist()``/``cache()``
  monkeypatched to no-ops for the whole sweep, so every shared
  subtree the operators normally cache is RECOMPUTED at each of its
  consumers. This is the cluster eviction regime: at 100 TB a
  MEMORY_AND_DISK entry can still be dropped (executor loss), and
  Spark silently re-derives the subtree from lineage. A query that
  is green here cannot be leaning on a cache to freeze a
  nondeterministic subtree (unstable sample, time-dependent value,
  partition-order-sensitive aggregate) — recomputation provably
  yields the same answer. localCheckpoint is left intact: it is
  lineage truncation for iterative loops, not result caching.

Both append a machine-checkable line to PROGRESS.jsonl and exit
nonzero on any mismatch. The default gate (scripts/parity_gate.py)
remains the per-round closing check; these are the depth passes.

Usage:
  python scripts/parity_robustness.py [--config-sweep] [--double-run]
      [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from oarphpy_spark import registry  # noqa: E402
from oarphpy_spark.testing.parity import run_parity  # noqa: E402


def _run_all(spark, names, sf_dir, label):
    failed = []
    for name in names:
        try:
            probs = run_parity(spark, name, sf_dir)
        except Exception as ex:  # noqa: BLE001
            probs = [f"error: {ex}"]
        if probs:
            failed.append(name)
            print(f"FAIL {label} {name}: {probs[:2]}", flush=True)
    return failed


def _log(record):
    with open(f"{REPO}/PROGRESS.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")


def config_sweep(sf_dir: str) -> list[str]:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", os.environ.get("PARITY_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.sql.autoBroadcastJoinThreshold", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        qs = sorted(registry.queries())
        t0 = time.time()
        failed = _run_all(spark, qs, sf_dir, "config-sweep")
        _log({
            "ts": time.time(),
            "event": "parity_config_sweep",
            "configs": {"adaptive": False, "shuffle_partitions": 7,
                        "autoBroadcastJoinThreshold": 4096},
            "sf_dir": sf_dir,
            "declared": len(qs),
            "failed": failed,
            "wall_s": round(time.time() - t0, 1),
        })
        print(f"CONFIG SWEEP: {len(qs) - len(failed)}/{len(qs)} pass, "
              f"failed={failed}")
        return failed
    finally:
        spark.stop()


def arrow_sweep(sf_dir: str) -> list[str]:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", os.environ.get("PARITY_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        .config("spark.sql.shuffle.partitions", "5")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        qs = sorted(registry.queries())
        t0 = time.time()
        failed = _run_all(spark, qs, sf_dir, "arrow-sweep")
        _log({
            "ts": time.time(),
            "event": "parity_arrow_fragmentation_sweep",
            "configs": {"arrow.maxRecordsPerBatch": 7,
                        "shuffle_partitions": 5},
            "sf_dir": sf_dir,
            "declared": len(qs),
            "failed": failed,
            "wall_s": round(time.time() - t0, 1),
        })
        print(f"ARROW SWEEP: {len(qs) - len(failed)}/{len(qs)} pass, "
              f"failed={failed}")
        return failed
    finally:
        spark.stop()


def no_persist_sweep(sf_dir: str) -> list[str]:
    from pyspark.sql import DataFrame

    orig_persist, orig_cache = DataFrame.persist, DataFrame.cache
    DataFrame.persist = lambda self, *a, **k: self  # type: ignore[method-assign]
    DataFrame.cache = lambda self: self  # type: ignore[method-assign]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", os.environ.get("PARITY_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        qs = sorted(registry.queries())
        t0 = time.time()
        failed = _run_all(spark, qs, sf_dir, "no-persist")
        _log({
            "ts": time.time(),
            "event": "parity_no_persist_sweep",
            "note": "DataFrame.persist/cache no-oped; every shared "
                    "subtree recomputed per consumer (eviction regime)",
            "sf_dir": sf_dir,
            "declared": len(qs),
            "failed": failed,
            "wall_s": round(time.time() - t0, 1),
        })
        print(f"NO-PERSIST SWEEP: {len(qs) - len(failed)}/{len(qs)} pass, "
              f"failed={failed}")
        return failed
    finally:
        spark.stop()
        DataFrame.persist, DataFrame.cache = orig_persist, orig_cache


def _build_shuffled_copy(sf_dir: str) -> str:
    """Write a deterministically row-scrambled copy of every table.

    Permutation = numpy RandomState(0xC0FFEE) over the row count, so
    the sweep is reproducible; small row groups (4096) also move
    split boundaries so Spark's per-partition iteration order changes
    shape, not just sequence."""
    import numpy as np
    import pyarrow.parquet as pq

    from oarphpy_spark.tables import TABLE_NAMES

    out = os.path.join(REPO, ".parity_shuffled",
                       os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    rng = np.random.RandomState(0xC0FFEE)
    for name in TABLE_NAMES:
        srcf = os.path.join(sf_dir, f"{name}.parquet")
        dstf = os.path.join(out, f"{name}.parquet")
        if (os.path.exists(dstf)
                and os.path.getmtime(dstf) > os.path.getmtime(srcf)):
            continue
        t = pq.read_table(srcf)
        perm = rng.permutation(t.num_rows)
        pq.write_table(t.take(perm), dstf, row_group_size=4096)
    return out


def shuffled_sweep(sf_dir: str) -> list[str]:
    shuf_dir = _build_shuffled_copy(sf_dir)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", os.environ.get("PARITY_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        qs = sorted(registry.queries())
        t0 = time.time()
        failed = []
        for name in qs:
            try:
                probs = run_parity(spark, name, shuf_dir,
                                   oracle_sf_dir=sf_dir)
            except Exception as ex:  # noqa: BLE001
                probs = [f"error: {ex}"]
            if probs:
                failed.append(name)
                print(f"FAIL shuffled {name}: {probs[:2]}", flush=True)
        _log({
            "ts": time.time(),
            "event": "parity_shuffled_row_sweep",
            "note": "spark on row-scrambled tables (rg=4096) vs oracle "
                    "on original files — content-determinism gate",
            "sf_dir": sf_dir,
            "declared": len(qs),
            "failed": failed,
            "wall_s": round(time.time() - t0, 1),
        })
        print(f"SHUFFLED SWEEP: {len(qs) - len(failed)}/{len(qs)} pass, "
              f"failed={failed}")
        return failed
    finally:
        spark.stop()


def double_run(sf_dir: str) -> dict[str, list[str]]:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", os.environ.get("PARITY_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        qs = sorted(registry.queries())
        t0 = time.time()
        failed = {
            "pass1": _run_all(spark, qs, sf_dir, "pass1"),
            "pass2": _run_all(spark, list(reversed(qs)), sf_dir, "pass2"),
        }
        _log({
            "ts": time.time(),
            "event": "parity_double_run",
            "note": "full registry twice in one session, 2nd pass reversed",
            "sf_dir": sf_dir,
            "declared": len(qs),
            "failed": failed,
            "wall_s": round(time.time() - t0, 1),
        })
        print(f"DOUBLE RUN: pass1 {len(qs) - len(failed['pass1'])}/{len(qs)}"
              f", pass2 {len(qs) - len(failed['pass2'])}/{len(qs)}, "
              f"failed={failed}")
        return failed
    finally:
        spark.stop()


def main() -> int:
    argv = sys.argv[1:]
    do_sweep = "--config-sweep" in argv
    do_double = "--double-run" in argv
    do_arrow = "--arrow-sweep" in argv
    do_nopersist = "--no-persist-sweep" in argv
    do_shuffled = "--shuffled-sweep" in argv
    pos = [a for a in argv if not a.startswith("--")]
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    if not (do_sweep or do_double or do_arrow or do_nopersist
            or do_shuffled):
        do_sweep = do_double = do_arrow = do_nopersist = True
        do_shuffled = True
    bad = 0
    if do_sweep:
        bad += len(config_sweep(sf_dir))
    if do_arrow:
        bad += len(arrow_sweep(sf_dir))
    if do_nopersist:
        bad += len(no_persist_sweep(sf_dir))
    if do_shuffled:
        bad += len(shuffled_sweep(sf_dir))
    if do_double:
        d = double_run(sf_dir)
        bad += len(d["pass1"]) + len(d["pass2"])
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
