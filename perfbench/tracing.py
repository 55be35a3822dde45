"""Span tracing for the traced benchmark run.

``Tracer`` installs timing wrappers around the public functions of
each engine layer (module attributes are swapped in every
``oarphpy_spark`` module that imported them; no engine file changes),
keeps spans in memory, and tags every Spark job with the span path
that launched it through ``SparkContext.setLocalProperty``.  After the
session stops, ``spark_counters`` reads Spark's event log and
attributes task, shuffle, spill and scan counters to those paths.
``NullTracer`` is the untraced stand-in with the same interface.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import statistics
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

SPAN_PROPERTY = "perfbench.span"

#: Layer name -> modules whose public functions are wrapped.
LAYER_MODULES = {
    "tables": ["oarphpy_spark.tables", "oarphpy_spark.sources"],
    "operators": ["oarphpy_spark.operators"],
    "llm.dedup": ["oarphpy_spark.llm.dedup"],
    "llm.similarity": ["oarphpy_spark.llm.similarity"],
    "llm.graph": ["oarphpy_spark.llm.graph"],
    "checkpoints": ["oarphpy_spark.util.checkpoints"],
    "streaming": ["oarphpy_spark.streaming"],
}


class _Traced:
    """Callable stand-in for a wrapped function.  Pickles as the
    original function, so a closure shipped to executors never drags
    the tracer along."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        # Executors hold no wrappers: resolve to the module attribute.
        return (getattr, (sys.modules[self._fn.__module__], self._fn.__name__))


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_pass(self, traced: bool) -> None:
        pass

    def end_pass(self) -> None:
        pass


class Tracer:
    """In-memory spans with self-time accounting per layer."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._main = threading.get_ident()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.self_s: dict[str, float] = {}
        self.total_s: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self.counters: dict[str, float] = {}
        self.pass_windows: list[tuple[float, float]] = []
        self._pass = None
        self._restore: list = []
        self._scored: list = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if self._pass is None:  # outside traced passes: plain call
            yield
            return
        stack = self._stack()
        on_main = threading.get_ident() == self._main
        parent = stack[-1] if stack else None
        path = (parent["path"] + "/" if parent else "") + name
        rec = {"name": name, "path": path, "child_s": 0.0,
               "parent": parent["id"] if parent else None,
               "pass": self._pass, "id": len(self.spans)}
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        if on_main:
            self._sc.setLocalProperty(SPAN_PROPERTY, f"{self._pass}:{path}")
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            dur = end - rec["start"]
            rec["end"] = end
            with self._lock:
                self.total_s[name] = self.total_s.get(name, 0.0) + dur
                self.self_s[name] = self.self_s.get(name, 0.0) + dur - rec["child_s"]
                self.calls[name] = self.calls.get(name, 0) + 1
            if parent is not None:
                parent["child_s"] += dur
            if on_main:
                self._sc.setLocalProperty(
                    SPAN_PROPERTY,
                    f"{self._pass}:{parent['path']}" if parent else None,
                )

    def count(self, key: str, n: float = 1) -> None:
        if self._pass is not None:
            with self._lock:
                self.counters[key] = self.counters.get(key, 0) + n

    def begin_pass(self, traced: bool) -> None:
        if traced:
            self._pass = len(self.pass_windows)
            self.pass_windows.append((time.time(), float("inf")))

    def end_pass(self) -> None:
        if self._pass is not None:
            start, _ = self.pass_windows[self._pass]
            self.pass_windows[self._pass] = (start, time.time())
            self._pass = None
            self._sc.setLocalProperty(SPAN_PROPERTY, None)

    # -- wrappers ------------------------------------------------------
    def _swap(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every public function of every layer module, in each
        ``oarphpy_spark`` module that holds a reference to it."""
        import importlib
        import pkgutil

        originals: dict[int, tuple] = {}
        for layer, roots in LAYER_MODULES.items():
            for root in roots:
                mod = importlib.import_module(root)
                mods = [mod]
                if hasattr(mod, "__path__"):
                    mods += [
                        importlib.import_module(f"{root}.{m.name}")
                        for m in pkgutil.iter_modules(mod.__path__)
                    ]
                for m in mods:
                    for attr, fn in vars(m).items():
                        if (
                            not attr.startswith("_")
                            and inspect.isfunction(fn)
                            and fn.__module__ == m.__name__
                        ):
                            originals[id(fn)] = (fn, _Traced(fn, layer, self))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("oarphpy_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._swap(mod, attr, hit[1])
        self._install_codec()
        self._install_sink()
        self._install_similarity()

    def _install_similarity(self) -> None:
        # Every top-k search ranks its scored candidate pairs through
        # this helper; keep (scored, result) to count after the pass.
        from oarphpy_spark.llm import similarity

        topk = similarity.__dict__["_topk_by_cos"]
        tracer = self

        def capturing(scored, k):
            out = topk(scored, k)
            if tracer._pass is not None:
                tracer._scored.append((scored, out))
            return out

        self._swap(similarity, "_topk_by_cos", capturing)

    def similarity_counters(self) -> dict:
        """Pairs scored per top-k row returned, over the searches of
        the last traced pass (counted outside the timed pass)."""
        if not self._scored:
            return {}
        scored = sum(s.count() for s, _ in self._scored)
        returned = sum(r.count() for _, r in self._scored)
        self._scored = []
        return {"llm.similarity.candidates_per_result": scored / max(returned, 1)}

    def _install_codec(self) -> None:
        from oarphpy_spark.codec.row_adapter import RowAdapter
        from oarphpy_spark.codec.tensor import Tensor

        tracer = self

        def outermost(layer, fn):
            # to_row/from_row recurse through the class attribute: only
            # the outermost call is a span.
            @functools.wraps(fn)
            def wrapper(obj):
                flag = "in_" + layer
                if getattr(tracer._local, flag, False):
                    return fn(obj)
                setattr(tracer._local, flag, True)
                try:
                    with tracer.span(layer):
                        return fn(obj)
                finally:
                    setattr(tracer._local, flag, False)
            return wrapper

        to_row = RowAdapter.__dict__["to_row"].__func__
        from_row = RowAdapter.__dict__["from_row"].__func__
        to_df = RowAdapter.__dict__["to_df"].__func__
        from_numpy = Tensor.__dict__["from_numpy"].__func__

        def counted_to_df(spark, objs, prototype=None):
            tracer.count("codec.objects", len(objs))
            with tracer.span("codec.to_df"):
                return to_df(spark, objs, prototype)

        def counted_from_numpy(arr):
            row = from_numpy(arr)
            tracer.count("codec.tensors")
            if len(row["values_packed"]):
                tracer.count("codec.tensors_packed")
            return row

        self._swap(RowAdapter, "to_row", staticmethod(outermost("codec.to_row", to_row)))
        self._swap(RowAdapter, "from_row", staticmethod(outermost("codec.from_row", from_row)))
        self._swap(RowAdapter, "to_df", staticmethod(counted_to_df))
        self._swap(Tensor, "from_numpy", staticmethod(counted_from_numpy))

    def _install_sink(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        parquet = DataFrameWriter.__dict__["parquet"]
        tracer = self

        @functools.wraps(parquet)
        def traced_parquet(writer, path, *args, **kwargs):
            with tracer.span("sink.write"):
                out = parquet(writer, path, *args, **kwargs)
            nbytes = nfiles = 0
            for dirpath, _, files in os.walk(path):
                for f in files:
                    if f.startswith("part-"):
                        nfiles += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, f))
            tracer.count("sink.bytes_written", nbytes)
            tracer.count("sink.files_written", nfiles)
            return out

        self._swap(DataFrameWriter, "parquet", traced_parquet)

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._restore):
            setattr(owner, attr, val)
        self._restore.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class StreamProgress(StreamingQueryListener):
    """Keeps every streaming progress event."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        states = p.stateOperators or []
        self.events.append({
            "ts": _iso_to_epoch(p.timestamp),
            "rows": p.numInputRows,
            "batch_s": (p.durationMs or {}).get("triggerExecution", 0) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_bytes": sum(s.memoryUsedBytes for s in states),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_metrics(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Streaming per-layer metrics over the progress events whose
    trigger started inside a traced pass, per pass."""
    inside = [
        e for e in events
        if any(a - 0.001 <= e["ts"] <= b + 0.001 for a, b in windows)
    ]
    n = max(len(windows), 1)
    batch = [e["batch_s"] for e in inside]
    busy = sum(batch)
    return {
        "streaming.microbatches": len(inside) / n,
        "streaming.batch_p50_s": statistics.median(batch) if batch else 0.0,
        "streaming.input_rows_s": sum(e["rows"] for e in inside) / busy if busy else 0.0,
        "streaming.state_rows": max((e["state_rows"] for e in inside), default=0),
        "streaming.state_memory_bytes": max((e["state_bytes"] for e in inside), default=0),
    }


def spark_counters(event_log_dir: str, n_passes: int) -> dict:
    """Per-pass Spark counters from the event log, by span path.

    A job belongs to the innermost span that was open when it was
    submitted; the path of that span decides which layer it counts
    for: jobs under ``queries.build`` ran eagerly inside the query
    function, jobs under ``queries.exec`` ran for the action."""
    stage_path: dict[int, str] = {}
    jobs: dict[str, int] = {}
    acc: dict[str, float] = {}
    stages: dict[str, set] = {}
    # One event log per SparkContext (each set-up made one); Spark 4
    # writes each as a directory of rolled files.
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(event_log_dir)
        for f in fs if f.startswith("events_")
    )

    def add(path: str, key: str, v: float) -> None:
        acc[f"{path}|{key}"] = acc.get(f"{path}|{key}", 0.0) + v

    for name in files:
        with open(name) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if not tag:
                        continue
                    path = tag.split(":", 1)[1]
                    jobs[path] = jobs.get(path, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_path.setdefault(sid, path)
                elif kind == "SparkListenerTaskEnd":
                    path = stage_path.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if path is None or not m:
                        continue
                    stages.setdefault(path, set()).add(ev["Stage ID"])
                    add(path, "tasks", 1)
                    add(path, "run_s", m.get("Executor Run Time", 0) / 1e3)
                    add(path, "cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                    add(path, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                    add(path, "spill", m.get("Disk Bytes Spilled", 0))
                    inp = m.get("Input Metrics") or {}
                    add(path, "in_bytes", inp.get("Bytes Read", 0))
                    add(path, "in_rows", inp.get("Records Read", 0))
                    add(path, "scan_tasks", 1 if inp.get("Bytes Read", 0) else 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    add(path, "sh_read", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    add(path, "fetch_wait_s", sr.get("Fetch Wait Time", 0) / 1e3)
                    sw = m.get("Shuffle Write Metrics") or {}
                    add(path, "sh_write", sw.get("Shuffle Bytes Written", 0))

    def total(key: str, under: str | None = None) -> float:
        return sum(
            v for k, v in acc.items()
            if k.endswith("|" + key) and (under is None or under in k.split("|")[0].split("/"))
        ) / max(n_passes, 1)

    def njobs(under: str) -> float:
        return sum(v for p, v in jobs.items() if under in p.split("/")) / max(n_passes, 1)

    def nstages(under: str) -> float:
        return sum(len(s) for p, s in stages.items() if under in p.split("/")) / max(n_passes, 1)

    return {
        "scan.bytes_read": total("in_bytes"),
        "scan.rows_read": total("in_rows"),
        "scan.tasks": total("scan_tasks"),
        "queries.eager_jobs": njobs("queries.build"),
        "queries.jobs": njobs("queries.exec"),
        "queries.stages": nstages("queries.exec"),
        "queries.tasks": total("tasks", "queries.exec"),
        "queries.task_run_s": total("run_s", "queries.exec"),
        "queries.task_cpu_s": total("cpu_s", "queries.exec"),
        "queries.gc_s": total("gc_s"),
        "queries.shuffle_write_bytes": total("sh_write"),
        "queries.shuffle_read_bytes": total("sh_read"),
        "queries.shuffle_fetch_wait_s": total("fetch_wait_s"),
        "queries.spill_disk_bytes": total("spill"),
        "llm.graph.jobs": njobs("llm.graph"),
    }
