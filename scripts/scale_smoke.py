#!/usr/bin/env python
"""sf1.0-scale smoke: build a 10×-replicated copy of sf0.1 (~6M
lineitem rows, ~5k docs), run the headline queries once each with task
metrics captured, and gate on BOTH completion and per-stage task skew.

Rationale: the bounded-key rewrites
(salted grouped-map, percentile-bucketed ranking, LSH banding) exist so
no task's work grows with the data. Timing at one SF can't see a
violation; a second scale point with a task-skew gate can — a
partition-hogging task shows up as max-duration >> p95 long before it
OOMs.

Replication keeps join semantics: fact keys (orderkey, custkey,
doc_id, vec_id, event_id, user_id) are offset per replica by 10^9·i so
replicas never collide; dimension tables (region/nation/supplier/part)
are copied once — dims don't scale with fact data, which is exactly
why the star joins broadcast them. Document text is Caesar-rotated per
replica so the dedup/LSH paths see genuinely distinct corpora (a
verbatim ×10 copy would make every doc a 10-way near-dup and
quadratically inflate candidate pairs — a different workload, not a
bigger one).

Usage: python scripts/scale_smoke.py [--replicas 10] [--out SCALE_SMOKE.json]
Writes ONE JSON line to stdout (and --out): queries, total wall, and
the per-stage skew audit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import string
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFF = 10**9  # per-replica key offset; far above any sf0.1 key

# Non-headline queries with genuinely different scale shapes, run at
# the sf1.0 point only (see main()): the FULL TPC-H 22 (so every SQL
# surface has at-scale skew evidence) plus the two
# iterative graph workloads.
EXTRA_SCALE = [f"q_sql_tpch_q{i}" for i in range(1, 23)] + [
    "q_pagerank",      # 5-iteration join+aggregate
    "q_dedup_clusters",  # alternating-star transitive closure
    "q_triangle_count",  # degree-oriented wedge join (round 6)
    "q_kcore",           # iterative peel to fixpoint (round 6)
    "q_set_similarity_join",  # prefix-filtered exact Jaccard (round 6)
    "q_sssp",            # 4-round Bellman-Ford (round 7)
    "q_assoc_rules",     # basket-bounded pair expansion (round 7)
    "q_token_pmi",       # posexplode + positional self-join (round 7)
    "q_component_sizes",  # CC + size histogram (round 7)
    "q_scc_sizes",        # trim+coloring SCC peel (round 7)
    "q_kmeans_relational",  # 3 integer-exact Lloyd iterations (round 7)
    "q_negative_sampling",  # candidate explode + anti-join (round 7)
    "q_time_weighted_avg",  # per-user LEAD dwell weights (round 7)
    "q_spatial_grid_join",  # cell-stencil radius self-join (round 8)
    "q_dbscan_grid",        # grid DBSCAN: pairs + CC + border (round 8)
    "q_containment_join",   # asymmetric prefix-filter join (round 8)
    "q_theil_sen",          # per-user in-array pair slopes (round 8)
    "q_heavy_hitters_mergeable",  # sharded top-k + residual merge (round 8)
    "q_rank1_als",          # two-pass ALS sufficient stats (round 8)
    "q_cusum_changepoint",  # 128-bit integer CUSUM windows (round 8)
    "q_delete_vector_apply",  # per-file position anti-join (round 8)
    "q_link_prediction",         # degree-capped wedge join (round 9)
    "q_link_prediction_sketch",  # Horvitz-Thompson T=128 sample (round 9)
]

DIM_TABLES = ("region", "nation", "supplier", "part")
FACT_OFFSETS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build_scaled(spark, src_dir: str, dst_dir: str, replicas: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(dst_dir, exist_ok=True)
    for name in DIM_TABLES:
        src = os.path.join(src_dir, f"{name}.parquet")
        spark.read.parquet(src).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{name}.parquet")
        )
    alpha = string.ascii_lowercase
    for name, key_cols in FACT_OFFSETS.items():
        src = os.path.join(src_dir, f"{name}.parquet")
        base = spark.read.parquet(src)
        parts = []
        for i in range(replicas):
            df = base
            for k in key_cols:
                df = df.withColumn(k, F.col(k) + F.lit(i * OFF))
            if name == "documents" and i > 0:
                rot = alpha[i % 26:] + alpha[: i % 26]
                df = df.withColumn("text", F.translate("text", alpha, rot))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{name}.parquet")
        )


def skew_audit(eventlog_dir: str) -> dict:
    """Parse Spark event logs for per-stage task durations; for every
    stage with enough tasks to make percentiles meaningful, compare the
    slowest task to the stage p95."""
    stages: dict[tuple, list[float]] = {}
    paths = [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(eventlog_dir)
        for name in files
        if name.startswith("events_")
    ]
    for path in paths:
        with open(path, "r", errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ti = ev.get("Task Info") or {}
                if ti.get("Failed"):
                    continue
                dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                stages.setdefault(key, []).append(dur)

    checked, violations, worst = 0, [], 0.0
    for (sid, att), durs in stages.items():
        # Skew is only diagnosable where a long pole could hide: enough
        # tasks for a p95 and a nontrivial max (sub-second stages are
        # scheduler noise, not data skew).
        if len(durs) < 20:
            continue
        durs.sort()
        mx = durs[-1]
        if mx < 1.0:
            continue
        p95 = durs[int(0.95 * (len(durs) - 1))]
        checked += 1
        ratio = mx / max(p95, 1e-9)
        worst = max(worst, ratio)
        if ratio > 10.0:
            violations.append(
                {"stage": sid, "attempt": att, "n_tasks": len(durs),
                 "p95_sec": round(p95, 3), "max_sec": round(mx, 3),
                 "ratio": round(ratio, 2)}
            )
    return {
        "stages_total": len(stages),
        "stages_checked": checked,
        "worst_max_over_p95": round(worst, 2),
        "violations": violations,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--keep-data", action="store_true")
    args = ap.parse_args()

    import bench
    from oarphpy_spark import registry
    from oarphpy_spark.session import SessionFactory

    work = tempfile.mkdtemp(prefix="oarphpy_spark_scale_")
    data_dir = os.path.join(work, f"sf{args.replicas / 10:g}")
    evlog = os.path.join(work, "eventlog")
    os.makedirs(evlog, exist_ok=True)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    class ScaleSession(SessionFactory):
        APP_NAME = "oarphpy_spark_scale_smoke"
        CONF_KV = dict(
            SessionFactory.CONF_KV,
            **{
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evlog}",
                "spark.eventLog.compress": "false",
                "spark.sql.shuffle.partitions": str(cpus * 2),
                # Keep scan splits small enough that the 10× tables
                # still fan out across every core.
                "spark.sql.files.maxPartitionBytes": str(16 << 20),
                # The smoke runs 10-20x data through ONE local JVM and
                # (since the min-of-k rep fix) executes short queries
                # up to 3x each; the SessionFactory default 8g heap is
                # borderline at --replicas 20 — one r12 close run died
                # in a G1 "GCLocker retried too often" allocation
                # failure deep in the extras. Memory on the smoke box
                # is sized for the data (the 4 GB SQUEEZE smoke,
                # scale_smoke_mem.py, is the one that deliberately
                # starves the heap to prove spill behavior).
                "spark.driver.memory": os.environ.get(
                    "SPARK_GRAFT_SMOKE_MEM", "24g"
                ),
            },
        )

    spark = ScaleSession.getOrCreate()
    try:
        t0 = time.perf_counter()
        build_scaled(spark, args.src, data_dir, args.replicas)
        build_sec = round(time.perf_counter() - t0, 2)

        from oarphpy_spark.llm.dedup import release_cached

        def exec_once(name: str, spark):
            df = qs[name](spark, data_dir)
            df.write.mode("overwrite").format("noop").save()
            return df

        # This box is a shared VM with sporadic multi-second host
        # stalls (nonzero CPU steal; measured r12: the same sf2.0
        # simhash scan ranged 0.8-27.6 s across identical runs, a
        # TRIVIAL identity pandas UDF 0.7-6.5 s, and one heavy ranged
        # 44-100 s between two otherwise-idle runs). The noise is
        # strictly one-sided — a stall only ever ADDS wall — so
        # min-of-k converges on the real wall. Policy: every query
        # runs twice and reports the MIN; short-wall queries whose two
        # runs still disagree by >25% get a third run (cheap, and
        # they're the ones where a 2 s stall fakes a 2x scale ratio).
        REP_THRESHOLD_SEC = 12.0

        def run(name: str, spark) -> float:
            # bench-v4 build/query split: an
            # untimed-into-the-wall warm pass builds the ride-along
            # caches and is recorded separately in warm_secs; timed
            # reps reuse them (caches released between QUERIES only),
            # so per-query walls — and therefore the sf2/sf1 scale
            # ratios this smoke exists to measure — reflect query
            # cost, not cache-build cost. r14's worst ratio
            # (q_set_similarity_join 2.79) was measured under the old
            # release-every-rep semantics, where each rep re-paid the
            # token-cache build; smoke values from r15 on are
            # comparable to each other but not to r14-and-earlier
            # smokes for ride-along-cache operators.
            t0 = time.perf_counter()
            dfs = [exec_once(name, spark)]
            warm_secs[name] = round(time.perf_counter() - t0, 4)

            def timed() -> float:
                t0 = time.perf_counter()
                dfs.append(exec_once(name, spark))
                return round(time.perf_counter() - t0, 4)

            a = timed()
            b = timed()
            best, reps = min(a, b), 2
            if best < REP_THRESHOLD_SEC and abs(a - b) > 0.25 * best:
                best = min(best, timed())
                reps = 3
            rep_counts[name] = reps
            # SQL-cached plans persist until explicit unpersist; a
            # 40-query single-session smoke would otherwise accumulate
            # every operator's ride-along caches.
            for df in dfs:
                try:
                    release_cached(df)
                except Exception:  # noqa: BLE001 — teardown must not kill the sweep
                    pass
            return best

        qs = registry.queries()
        rep_counts: dict[str, int] = {}
        warm_secs: dict[str, float] = {}
        names = [n for n in bench.HEADLINE if n in qs]
        timings: dict[str, float] = {}
        for name in names:
            timings[name] = run(name, spark)
        # Heavy non-headline paths whose scale behavior the smoke
        # should witness too (kept OUT of bench.HEADLINE so the bench
        # total stays comparable to the recorded baseline): the
        # fact-fact TPC-H joins, the iterative PageRank, and the
        # transitive-closure clustering.
        #
        # The extras run in CHUNKS with
        # a FRESH SparkSession per chunk. A 61-query single-JVM
        # sweep accumulated session pressure that inflated late slugs
        # ~3-5x over their fresh-process walls (q_containment_join
        # 69.5 s in-sweep vs 15-25 s fresh; q_triangle_count 10.4 s at
        # sf1 vs 2.5 s at sf2 — adjudicated as harness pressure, the
        # executed plans were byte-identical). Graph-family members
        # (shared localCheckpointed edge relation) run LAST in their
        # own chunk behind one prewarm, so every graph slug's wall is
        # uniformly shared-cache-warm and family sf ratios mean
        # something.
        from oarphpy_spark.queries.graph_queries import (
            _shared_edges,
            release_shared_edges,
        )

        GRAPH_SHARED = {
            "q_triangle_count",
            "q_kcore",
            "q_ktruss",
            "q_graph_profile",
            "q_scc_sizes",
            "q_link_prediction",
            "q_link_prediction_sketch",
            "q_degree_distribution",
            "q_graph_assortativity",
            "q_triangle_count_sampled",
        }
        # Dedup-LSH family: shares one session-checkpointed MinHash
        # bucket relation — grouped in one
        # chunk so the sharing is exercised and the warm split shows it.
        BUCKET_SHARED = {"q_dedup_clusters", "q_component_sizes"}
        extras_all = [n for n in EXTRA_SCALE if n in qs]
        graph_slugs = [n for n in extras_all if n in GRAPH_SHARED]
        lsh_slugs = [n for n in extras_all if n in BUCKET_SHARED]
        other_slugs = [
            n
            for n in extras_all
            if n not in GRAPH_SHARED and n not in BUCKET_SHARED
        ]
        CHUNK = 12
        chunks = [
            other_slugs[i : i + CHUNK]
            for i in range(0, len(other_slugs), CHUNK)
        ]
        chunks.append(lsh_slugs)
        chunks.append(graph_slugs)
        extra_timings: dict[str, float] = {}
        shared_edge_build = 0.0
        from oarphpy_spark.queries.llm_queries import (
            release_shared_buckets,
        )

        for chunk in chunks:
            if not chunk:
                continue
            spark.stop()
            spark = ScaleSession.getOrCreate()
            if chunk is graph_slugs:
                t0 = time.perf_counter()
                _shared_edges(spark, data_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                shared_edge_build = round(time.perf_counter() - t0, 4)
            for name in chunk:
                extra_timings[name] = run(name, spark)
            release_shared_edges(spark)
            release_shared_buckets(spark)
    finally:
        spark.stop()

    audit = skew_audit(evlog)
    out = {
        "metric": "scale_smoke_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra_timings,
        "sf": args.replicas / 10.0,
        "build_sec": build_sec,
        "rep_counts": rep_counts,
        # Per-query warm-pass wall (includes ride-along cache builds;
        # compare to the timed min to see how much of a query's cold
        # cost is cache construction — the bench-v4 split).
        "warm_secs": warm_secs,
        "graph_shared_cache_build_sec": shared_edge_build,
        "skew": audit,
        # r14-and-earlier smokes released caches between reps, so
        # every rep re-paid ride-along cache builds; r15+ values use
        # the bench-v4 warm/timed split above.
        "measurement_semantics": "v3-fresh-session-chunks",
        "ok": len(audit["violations"]) == 0,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    if not args.keep_data:
        shutil.rmtree(work, ignore_errors=True)
    if audit["violations"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
