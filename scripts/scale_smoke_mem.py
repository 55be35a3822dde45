#!/usr/bin/env python
"""Constrained-memory scale smoke: run the
heaviest extras at sf1.0 with executor memory squeezed hard enough
that shuffles/aggregations actually SPILL, and gate on completion.

Why: the regular smokes run in 128 GiB where nothing ever spills, so
the spill path — the path every one of these shuffles takes on a real
cluster reading 100 TB — had never been exercised. A plan that only
works because the whole shuffle fits in RAM is not a 100 TB plan.

Squeeze: driver JVM capped (default 4g) AND spark.memory.fraction
dropped to 0.2, so the unified execution+storage pool is ~750 MB
shared by every concurrent task. Completion under that budget means
the operators degrade to spill, not to OOM.

Evidence: per-query wall + memory/disk bytes spilled, attributed to
queries by task finish-time windows from the event log. Exits nonzero
on any query failure. Writes ONE JSON line (and --out).

Usage:
  python scripts/scale_smoke_mem.py [--replicas 10] [--data-dir DIR]
      [--driver-mem 4g] [--out SCALE_SMOKE_MEM.json]
--data-dir reuses an already-built replicated directory (e.g. from
scale_smoke.py --keep-data) instead of rebuilding.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The ten heaviest extras by sf1.0 wall: every major shuffle shape —
# fact-fact joins, iterative graph loops, prefix-filter self-joins,
# grid-stencil spatial, and the wedge join.
MEM_QUERIES = [
    "q_containment_join",
    "q_set_similarity_join",
    "q_triangle_count",
    "q_dbscan_grid",
    "q_pagerank",
    "q_scc_sizes",
    "q_sssp",
    "q_kcore",
    "q_sql_tpch_q9",
    "q_sql_tpch_q21",
    # The two slowest sf1.0 extras: the capped
    # wedge join and its Horvitz-Thompson sketch — both persist shared
    # subtrees, so the squeeze also exercises cache-eviction-to-disk
    # through an InMemoryRelation instead of silent recompute.
    "q_link_prediction",
    "q_link_prediction_sketch",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--data-dir", default=None)
    ap.add_argument("--driver-mem", default="4g")
    ap.add_argument("--mem-fraction", default="0.2")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import scale_smoke

    from oarphpy_spark import registry
    from oarphpy_spark.session import SessionFactory

    work = tempfile.mkdtemp(prefix="oarphpy_spark_memsmoke_")
    evlog = os.path.join(work, "eventlog")
    os.makedirs(evlog, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    class MemSession(SessionFactory):
        APP_NAME = "oarphpy_spark_mem_smoke"
        CONF_KV = dict(
            SessionFactory.CONF_KV,
            **{
                # The squeeze. driver.memory only takes effect because
                # this is a fresh process whose JVM starts here.
                "spark.driver.memory": args.driver_mem,
                "spark.memory.fraction": args.mem_fraction,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evlog}",
                "spark.eventLog.compress": "false",
                # Shuffle partitions sized to the SQUEEZE, not the core
                # count: under a ~750 MB unified pool shared by 32
                # concurrent tasks, cpus*2 partitions give the heavy
                # wedge/join aggregations per-task hash state far above
                # the per-task share (q_link_prediction died with
                # AGGREGATE_OUT_OF_MEMORY at 64 partitions after 10 GB
                # of spill). 8x cpus quarters per-task state — exactly
                # the "size partitions so per-task state fits executor
                # memory" discipline a 100 TB deployment applies; AQE
                # coalesces the small stages back down.
                "spark.sql.shuffle.partitions": str(cpus * 8),
                "spark.sql.files.maxPartitionBytes": str(16 << 20),
                # Spill readers allocate 1 MB read-ahead buffers
                # OUTSIDE the managed pool; the link-prediction
                # aggregation (~1B distinct keys at sf1.0) sort-spills
                # with a large merge fan-in, and 32 concurrent tasks'
                # read-ahead buffers alone blew the 4 GB heap
                # (java.lang.OutOfMemoryError in ReadAheadInputStream,
                # reproduced in isolation). Disabling read-ahead is
                # the documented trade for memory-tight executors:
                # with it off, both link-prediction queries complete
                # the same workload in ~63/67 s with heavy spill and
                # zero OOM.
                "spark.unsafe.sorter.spill.read.ahead.enabled": "false",
            },
        )

    spark = MemSession.getOrCreate()
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()

    try:
        if args.data_dir:
            data_dir = args.data_dir
            build_sec = 0.0
        else:
            data_dir = os.path.join(work, f"sf{args.replicas / 10:g}")
            t0 = time.perf_counter()
            scale_smoke.build_scaled(spark, args.src, data_dir, args.replicas)
            build_sec = round(time.perf_counter() - t0, 2)

        qs = registry.queries()
        windows: dict[str, tuple[float, float]] = {}
        timings: dict[str, float] = {}
        failures: dict[str, str] = {}
        from oarphpy_spark.llm.dedup import release_cached

        for name in MEM_QUERIES:
            if name not in qs:
                continue
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            df = None
            try:
                df = qs[name](spark, data_dir)
                df.write.mode("overwrite").format("noop").save()
                timings[name] = round(time.perf_counter() - t0, 4)
            except Exception as ex:  # noqa: BLE001
                failures[name] = f"{type(ex).__name__}: {ex}"[:500]
            finally:
                # unpersist itself can raise after an executor loss /
                # dead context — the exact regime this mem-squeeze
                # targets; one query's teardown failure must not abort
                # the remaining sweep (its failure is already captured
                # in `failures`).
                if df is not None:
                    try:
                        release_cached(df)
                    except Exception:  # noqa: BLE001
                        pass
            windows[name] = (w0, time.time() * 1000.0)
    finally:
        spark.stop()

    # Attribute task spill metrics to queries by finish-time window.
    spills = {
        n: {"memoryBytesSpilled": 0, "diskBytesSpilled": 0, "tasks": 0}
        for n in windows
    }
    for root, _dirs, files in os.walk(evlog):
        for fname in files:
            if not fname.startswith("events_"):
                continue
            with open(os.path.join(root, fname), errors="replace") as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    fin = (ev.get("Task Info") or {}).get("Finish Time", 0)
                    for name, (lo, hi) in windows.items():
                        if lo <= fin <= hi:
                            spills[name]["memoryBytesSpilled"] += tm.get(
                                "Memory Bytes Spilled", 0
                            )
                            spills[name]["diskBytesSpilled"] += tm.get(
                                "Disk Bytes Spilled", 0
                            )
                            spills[name]["tasks"] += 1
                            break

    total_disk = sum(s["diskBytesSpilled"] for s in spills.values())
    out = {
        "metric": "mem_smoke_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": args.replicas / 10.0,
        "driver_mem": args.driver_mem,
        "memory_fraction": args.mem_fraction,
        "jvm_max_heap_bytes": int(heap),
        "shuffle_partitions": cpus * 8,
        "build_sec": build_sec,
        "queries": timings,
        "failures": failures,
        "spill_by_query": spills,
        "total_disk_spill_mb": round(total_disk / (1 << 20), 1),
        "spill_observed": total_disk > 0,
        "ok": not failures,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    shutil.rmtree(work, ignore_errors=True)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
