#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the oarphpy_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 6 --trace 0

One run: generate (or reuse) the seed's inputs, set the session up
several times, make one cold pass, then make warm passes for
``--seconds``, releasing every cache between passes; after the session
stops, check every output of the cold pass against its reference.  Human-readable lines go to
stdout first; the last stdout line is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

import inputs
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: Session set-ups per run; the first also launches the JVM and is
#: reported on its own, the median of the rest is ``setup_s``.
#: Warm passes per run at least: the JIT keeps warming over the first
#: passes, so a fixed count keeps ``pass_s`` comparable between runs.
SETUPS = 6
MIN_PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# Host probes
# ---------------------------------------------------------------------------


class RssSampler:
    """Peak summed RSS of this process, the JVM it launched and the
    Python workers, sampled from /proc.

    Other descendants are skipped: the JVM's short-lived helpers
    (``jspawnhelper``, ``chmod``, and a ``java`` child between vfork
    and exec, which shares the JVM's memory) would count the JVM's
    pages twice.  ``statm`` is read rather than ``smaps_rollup``: the
    latter walks the JVM's page tables under its memory-map lock for
    several ms per read."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        me = os.getpid()
        children: dict[int, list[tuple[int, str]]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
                children.setdefault(int(tail.split()[1]), []).append(
                    (int(d), head.split("(", 1)[1])
                )
            except (OSError, IndexError, ValueError):
                continue
        total, todo = 0, [(me, "python", 0)]
        while todo:
            pid, comm, ppid = todo.pop()
            todo += [(c, n, pid) for c, n in children.get(pid, [])]
            if pid != me and not comm.startswith("python") and not (
                comm == "java" and ppid == me
            ):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_cores() -> int:
    # local[<= nproc], capped at 4 so a run fits a small shared host.
    return min(4, len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------------------
# Session set-up
# ---------------------------------------------------------------------------


def _purge_engine_modules() -> None:
    for name in [m for m in sys.modules if m == "oarphpy_spark" or m.startswith("oarphpy_spark.")]:
        del sys.modules[name]


def setup_session(run_dir: str, cores: int, trace: bool) -> tuple:
    """Build the session (shipping the package to executors) and load
    the registry, from a state with no engine module imported.
    Returns ``(spark, {"total": s, "ship": s, "registry": s})``."""
    _purge_engine_modules()
    shutil.rmtree(os.path.join(run_dir, "tmp", "oarphpy_spark_shipping"), ignore_errors=True)
    t0 = time.perf_counter()
    import oarphpy_spark
    from oarphpy_spark import shipping
    from oarphpy_spark.session import SessionFactory

    ship_s = [0.0]
    ship = shipping.ship_library

    def timed_ship(spark, lib=None):
        t = time.perf_counter()
        try:
            return ship(spark, lib)
        finally:
            ship_s[0] += time.perf_counter() - t

    if trace:
        shipping.ship_library = timed_ship
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": (
            f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores * 2),
        "spark.sql.files.maxPartitionBytes": str(256 << 10),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })

    class BenchSession(SessionFactory):
        APP_NAME = "oarphpy_spark_perfbench"
        MASTER = f"local[{cores}]"
        SHIP_LIBS = [oarphpy_spark]
        CONF_KV = dict(SessionFactory.CONF_KV, **conf)

    spark = BenchSession.getOrCreate()
    t1 = time.perf_counter()
    from oarphpy_spark import registry

    registry.queries()
    t2 = time.perf_counter()
    shipping.ship_library = ship
    return spark, {"total": t2 - t0, "ship": ship_s[0], "registry": t2 - t1}


def stop_session(spark, last: bool) -> None:
    """Stop the SparkContext; on ``last`` also shut the JVM down and
    wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    if not last:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "oarphpy_spark", "__init__.py")):
        print(f"perfbench: no oarphpy_spark package under {ROOT}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()[0]
    sys.path.insert(0, ROOT)
    import bench  # host probes shared with the repository's bench.py

    steal0 = bench._steal_jiffies()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(run_dir, "tmp")
    # No JVM perf-data file in /tmp, for the launcher JVM either.
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None
    cores = host_cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    try:
        return _run(args, run_dir, cores, load_before, steal0, bench)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, cores, load_before, steal0, bench) -> int:
    trace = bool(args.trace)
    t = time.perf_counter()
    sf_dir = os.path.join(WORK, "inputs", f"seed-{args.seed}")
    meta = inputs.write_tables(args.seed, sf_dir)
    gen_s = time.perf_counter() - t

    spark, first_setup = setup_session(run_dir, cores, trace)
    resetups = []
    for _ in range(SETUPS - 1):
        stop_session(spark, last=False)
        spark, s = setup_session(run_dir, cores, trace)
        resetups.append(s)
    setup_s = statistics.median(s["total"] for s in resetups)

    # Codec objects hold engine classes, so they are built after the
    # last set-up has imported the engine for good.
    t = time.perf_counter()
    objs = payload = None
    if workloads.WORKLOADS[args.workload]["codec"]:
        objs = inputs.codec_objects(args.seed)
        payload = sum(inputs.payload_bytes(o) for o in objs)
    print(f"input_gen_s {gen_s + time.perf_counter() - t:.4f} s", flush=True)

    null = tracing.NullTracer()
    wl = workloads.Workload(args.workload, spark, sf_dir, meta, run_dir, objs, payload, null)
    tracer = tracing.Tracer(spark) if trace else null
    listener = None
    if trace:
        listener = tracing.StreamProgress()
        spark.streams.addListener(listener)

    attempted = failed = 0
    problems: list[str] = []
    pass_s: list[float] = []
    traced_s: list[float] = []
    layer_extra: dict[str, list[float]] = {}
    feed_first: list[float] = []
    with RssSampler() as rss:
        t = time.perf_counter()
        cold = wl.run_pass()
        cold_pass_s = time.perf_counter() - t
        op_s = {r.name: [round(r.seconds, 4)] for r in cold}
        attempted += len(cold)
        stored = wl.stored_bytes() if os.path.isdir(wl.path) else None
        wl.release()

        window = time.perf_counter()
        i = 0
        while (
            time.perf_counter() - window < args.seconds
            or len(pass_s) < MIN_PASSES
            or (trace and len(traced_s) < MIN_PASSES)
        ):
            # Untraced and traced passes in ABBA order, so the JIT's
            # continuing warm-up does not bias the tracing overhead.
            traced = trace and i % 4 in (1, 2)
            i += 1
            wl.tracer = tracer if traced else null
            if traced:
                tracer.install()
            tracer.begin_pass(traced)
            t = time.perf_counter()
            results = wl.run_pass()
            took = time.perf_counter() - t
            tracer.end_pass()
            if traced:
                tracer.uninstall()
                traced_s.append(took)
                counters = wl.trace_counters(results)
                counters.update(tracer.similarity_counters())
                for k, v in counters.items():
                    layer_extra.setdefault(k, []).append(v)
            else:
                pass_s.append(took)
            attempted += len(results)
            for r in results:
                op_s[r.name].append(round(r.seconds, 4))
                if r.error is not None:
                    failed += 1
                    problems.append(f"{r.name}: raised {r.error}")
                elif r.name == "feed" and not traced:
                    feed_first.append(r.value["first_batch_s"])
            wl.release()

    if listener is not None:
        spark.streams.removeListener(listener)
    stop_session(spark, last=True)
    # The gate runs after memory sampling ended: its DuckDB oracles are
    # the harness's memory, not the engine's.
    gate = wl.check(cold)
    problems = gate + problems
    failed += len({p.split(":", 1)[0] for p in gate})

    steal1 = bench._steal_jiffies()
    d_total = steal1[1] - steal0[1]
    run_meta = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores,
        "load_1m_before": load_before,
        "cpu_steal_share": (steal1[0] - steal0[0]) / d_total if d_total > 0 else 0.0,
        "cpu_calib_s": bench._cpu_calibration(),
        "table_rows": sum(meta["rows"].values()),
        "table_bytes": sum(meta["bytes"].values()),
        "codec_objects": len(objs or ()),
        "codec_payload_bytes": payload or 0,
        "rows_per_pass": wl.rows_per_pass,
        "passes": len(pass_s),
        "traced_passes": len(traced_s),
        "jvm_setup_s": first_setup["total"],
    }
    print("run_meta " + json.dumps(run_meta), flush=True)
    print("op_s (cold, then each warm pass) " + json.dumps(op_s), flush=True)
    for p in problems:
        print(f"FAILED {p}", flush=True)

    pass_med = statistics.median(pass_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_med, "s"),
        "throughput_rows_s": (wl.rows_per_pass / pass_med, "rows/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    extra = {"cold_pass_s": (cold_pass_s, "s"), "fail_ratio": (failed / attempted, "ratio")}
    if stored is not None:
        extra["stored_bytes_per_input_byte"] = (stored / payload, "ratio")
    if feed_first:
        extra["feed_first_batch_s"] = (statistics.median(feed_first), "s")
    for name, (v, unit) in {**e2e, **extra}.items():
        print(f"{name} {v:.6g} {unit}", flush=True)

    if trace:
        metrics = per_layer_metrics(
            tracer, listener, run_dir, cores, resetups, traced_s, pass_s,
            layer_extra, cold_pass_s, failed / attempted, stored, payload, feed_first,
        )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def per_layer_metrics(tracer, listener, run_dir, cores, resetups, traced_s,
                      untraced_s, extra, cold_pass_s, fail_ratio, stored, payload,
                      feed_first) -> dict:
    n = len(traced_s)
    med = statistics.median

    def self_s(layer):
        return tracer.self_s.get(layer, 0.0) / n

    def calls(layer):
        return tracer.calls.get(layer, 0) / n

    def counter(key):
        return tracer.counters.get(key, 0) / n

    sc = tracing.spark_counters(os.path.join(run_dir, "eventlog"), n)
    exec_s = tracer.total_s.get("queries.exec", 0.0) / n
    tensors = counter("codec.tensors")
    m = {
        "session.start_s": med(s["total"] - s["ship"] - s["registry"] for s in resetups),
        "shipping.ship_s": med(s["ship"] for s in resetups),
        "registry.load_s": med(s["registry"] for s in resetups),
        "tables.load_s": self_s("tables"),
        "tables.calls": calls("tables"),
        "queries.build_s": tracer.total_s.get("queries.build", 0.0) / n,
        "queries.exec_s": exec_s,
        **sc,
        "queries.core_busy_ratio": sc["queries.task_run_s"] / (exec_s * cores) if exec_s else 0.0,
        "operators.s": self_s("operators"),
        "operators.calls": calls("operators"),
        "llm.dedup.s": self_s("llm.dedup"),
        "llm.dedup.calls": calls("llm.dedup"),
        "llm.similarity.s": self_s("llm.similarity"),
        "llm.graph.s": self_s("llm.graph"),
        "checkpoints.calls": calls("checkpoints"),
        "checkpoints.s": self_s("checkpoints"),
        "streaming.s": self_s("streaming"),
        "bridges.s": self_s("bridges"),
        **tracing.stream_metrics(listener.events, tracer.pass_windows),
        "codec.to_row_s": self_s("codec.to_row"),
        "codec.to_df_s": self_s("codec.to_df"),
        "codec.from_row_s": self_s("codec.from_row"),
        "codec.objects": counter("codec.objects"),
        "codec.packed_tensor_share": counter("codec.tensors_packed") / tensors if tensors else 0.0,
        "sink.write_s": self_s("sink.write"),
        "sink.bytes_written": counter("sink.bytes_written"),
        "sink.files_written": counter("sink.files_written"),
        "cold_pass_s": cold_pass_s,
        "fail_ratio": fail_ratio,
        "stored_bytes_per_input_byte": stored / payload if stored else 0.0,
        "feed_first_batch_s": med(feed_first) if feed_first else 0.0,
        "trace.pass_s": med(traced_s),
        "trace.untraced_pass_s": med(untraced_s),
        "trace.overhead_s": med(traced_s) - med(untraced_s),
    }
    for key in ("llm.dedup.candidates_per_match", "llm.similarity.candidates_per_result",
                "codec.encoded_bytes_per_input_byte", "bridges.batches",
                "bridges.consumer_wait_s", "bridges.rows_s"):
        m[key] = med(extra[key]) if key in extra else 0.0
    units = {k: _unit(k) for k in m}
    return {k: {"value": float(v), "unit": units[k]} for k, v in sorted(m.items())}


def _unit(name: str) -> str:
    if name.endswith("rows_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "ratio" in name or "share" in name or "_per_" in name:
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
