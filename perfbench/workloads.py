"""The benchmark's workloads: what one pass does, how its outputs are
checked, and how caches are released between passes.

A pass is one closed-loop sweep: each operation is submitted when the
previous one has finished.  Query operations are built by the
registered query function (``queries.build``) and executed by
collecting the result to pandas (``queries.exec``).
"""

from __future__ import annotations

import os
import time
import zlib

import numpy as np

#: Per workload: the registered queries it runs, with the tables each
#: reads (their rows are the rows a pass consumes), and whether a pass
#: also round-trips the seed's Python objects through the codec.
WORKLOADS = {
    "star_sql": {
        "queries": {
            "q_histogram": ["lineitem"],
            "q_sql_tpch_q9": ["lineitem", "part", "supplier", "orders", "nation"],
            "q_kcore": ["lineitem"],
            "q_stream_tumbling": ["events"],
        },
        "codec": False,
    },
    "llm_curation": {
        "queries": {
            "q_dedup_minhash": ["documents"],
            "q_sim_ivf_topk": ["embeddings"],
        },
        "codec": True,
    },
}


class OpResult:
    __slots__ = ("name", "value", "error", "seconds")

    def __init__(self, name, value=None, error=None, seconds=0.0):
        self.name, self.value, self.error, self.seconds = name, value, error, seconds


def release_caches(spark, dfs) -> None:
    """Drop everything a pass persisted, so the next pass recomputes
    it: caches riding on results, the session-shared graph edges and
    MinHash buckets, and the SQL cache."""
    from oarphpy_spark.llm.dedup import release_cached
    from oarphpy_spark.queries.graph_queries import release_shared_edges
    from oarphpy_spark.queries.llm_queries import release_shared_buckets

    for df in dfs:
        release_cached(df)
    release_shared_edges(spark)
    release_shared_buckets(spark)
    spark.catalog.clearCache()


class Workload:
    """One pass runs every query of the workload in order, then, for a
    codec workload, encodes the objects (``RowAdapter.to_df``), writes
    them as parquet, reads and decodes them
    (``RowAdapter.collect_objects``), and finally feeds the written
    table through ``bridges.iter_arrow_batches`` to a consumer that
    drains it."""

    def __init__(self, name: str, spark, sf_dir: str, meta: dict, run_dir: str,
                 objs: list | None, payload: int | None, tracer):
        from oarphpy_spark import registry

        spec = WORKLOADS[name]
        self.name = name
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.ops = spec["queries"]
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.objs = objs if spec["codec"] else None
        self.payload = payload
        self.path = os.path.join(run_dir, "codec_roundtrip.parquet")
        self.rows_per_pass = sum(
            meta["rows"][t] for tables in self.ops.values() for t in tables
        ) + len(self.objs or ())
        self._dfs: list = []

    def run_pass(self) -> list[OpResult]:
        out = [self._timed(name, self._query, name) for name in self.ops]
        if self.objs is not None:
            out.append(self._timed("roundtrip", self._roundtrip))
            out.append(self._timed("feed", self._feed))
        return out

    def _timed(self, name: str, fn, *args) -> OpResult:
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                value = fn(*args)
            return OpResult(name, value, seconds=time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            return OpResult(name, error=repr(e), seconds=time.perf_counter() - t0)

    def _query(self, name: str):
        with self.tracer.span("queries.build"):
            df = self.queries[name](self.spark, self.sf_dir)
        self._dfs.append(df)
        with self.tracer.span("queries.exec"):
            return df.toPandas()

    def _roundtrip(self) -> list:
        from oarphpy_spark.codec.row_adapter import RowAdapter

        df = RowAdapter.to_df(self.spark, self.objs)
        df.write.mode("overwrite").parquet(self.path)
        return RowAdapter.collect_objects(self.spark.read.parquet(self.path))

    def _feed(self) -> dict:
        from oarphpy_spark.bridges import iter_arrow_batches

        with self.tracer.span("bridges"):
            return _drain(iter_arrow_batches(self.spark.read.parquet(self.path)))

    def release(self) -> None:
        release_caches(self.spark, self._dfs)
        self._dfs = []

    def stored_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.path, f))
            for f in os.listdir(self.path)
            if f.startswith("part-")
        )

    def check(self, results: list[OpResult]) -> list[str]:
        """Correctness of one pass: each query output against its DuckDB
        oracle on the same parquet files, decoded objects field by field
        against the source objects, and the fed rows counted and
        checksummed against the source.  One message per failed op."""
        from oarphpy_spark.testing import parity

        problems = [f"{r.name}: raised {r.error}" for r in results if r.error]
        ok = {r.name: r.value for r in results if r.error is None}
        with parity.duckdb_connection(self.sf_dir) as conn:
            for name in self.ops:
                sql = self.oracles.get(name)
                if name in ok and sql is not None:
                    diff = parity.compare(ok[name], conn.execute(sql).df())
                    if diff:
                        problems.append(f"{name}: {diff[:2]}")
        if "roundtrip" in ok:
            problems += _compare_objects(self.objs, ok["roundtrip"])
        if "feed" in ok:
            f = ok["feed"]
            want_crc = 0
            for o in self.objs:
                want_crc ^= zlib.crc32(o.name.encode())
            want = (len(self.objs), sum(o.sample_id for o in self.objs), want_crc)
            got = (f["rows"], f["id_sum"], f["crc"])
            if got != want:
                problems.append(f"feed: rows/id-sum/name-crc {got} != source {want}")
        return problems

    def trace_counters(self, results: list[OpResult]) -> dict:
        """Waste and size ratios measured on a traced pass's outputs
        (outside the timed pass)."""
        out = {}
        ok = {r.name: r.value for r in results if r.error is None}
        if "q_dedup_minhash" in ok:
            out["llm.dedup.candidates_per_match"] = _candidates_per_match(
                ok["q_dedup_minhash"], self.sf_dir
            )
        if self.objs is not None:
            import pickle

            from oarphpy_spark.codec.row_adapter import RowAdapter

            # Encoded rows as createDataFrame ships them to the JVM.
            encoded = sum(
                len(pickle.dumps(RowAdapter.to_row(o), protocol=pickle.HIGHEST_PROTOCOL))
                for o in self.objs
            )
            out["codec.encoded_bytes_per_input_byte"] = encoded / self.payload
        if "feed" in ok:
            feed = ok["feed"]
            out["bridges.batches"] = feed["batches"]
            out["bridges.consumer_wait_s"] = feed["wait_s"]
            out["bridges.rows_s"] = feed["rows"] / feed["total_s"]
        return out


def _drain(batches) -> dict:
    """Consume every batch; time spent waiting inside the iterator is
    the consumer's wait."""
    n_batches = rows = id_sum = crc = 0
    wait = 0.0
    first = None
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        batch = next(batches, None)
        wait += time.perf_counter() - t
        if batch is None:
            break
        if first is None:
            first = time.perf_counter() - start
        n_batches += 1
        rows += batch.num_rows
        id_sum += int(batch.column("sample_id").to_numpy().sum())
        for name in batch.column("name").to_pylist():
            crc ^= zlib.crc32(name.encode())
    total = time.perf_counter() - start
    return {"batches": n_batches, "rows": rows, "id_sum": id_sum, "crc": crc,
            "wait_s": wait, "first_batch_s": first or total, "total_s": total}


def _shingles(text: str, n: int = 3) -> set:
    t = text.lower().split(" ")
    if len(t) < n:
        return {" ".join(t)}
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def _candidates_per_match(pairs, sf_dir: str, threshold: float = 0.5) -> float:
    """MinHash candidate pairs per pair whose word-3-shingle Jaccard
    similarity reaches ``threshold``."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    sh = {int(i): _shingles(t) for i, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())}
    verified = 0
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        sa, sb = sh[int(a)], sh[int(b)]
        if len(sa & sb) >= threshold * len(sa | sb):
            verified += 1
    return len(pairs) / max(verified, 1)


def _compare_objects(want: list, got: list) -> list[str]:
    """Field-by-field comparison of decoded objects with the source
    objects, matched by ``sample_id``; tensors by ``array_equal`` and
    dtype, callables by calling them."""
    problems = []
    if len(got) != len(want):
        return [f"roundtrip: {len(got)} objects decoded, {len(want)} written"]
    by_id = {getattr(o, "sample_id", None): o for o in got}
    for w in want:
        g = by_id.get(w.sample_id)
        bad = _diff(w, g)
        if bad:
            problems.append(f"roundtrip: sample {w.sample_id}: {bad}")
            if len(problems) >= 3:
                break
    return problems


def _diff(w, g) -> str | None:
    import dataclasses

    from oarphpy_spark.codec.callables import CloudpickeledCallable

    if isinstance(w, np.ndarray):
        ok = isinstance(g, np.ndarray) and g.dtype == w.dtype and np.array_equal(w, g)
        return None if ok else "tensor differs"
    if isinstance(w, CloudpickeledCallable):
        ok = isinstance(g, CloudpickeledCallable) and g(3.0) == w(3.0)
        return None if ok else "callable differs"
    if dataclasses.is_dataclass(w):
        if type(g) is not type(w):
            return f"type {type(g).__name__} != {type(w).__name__}"
        for f in dataclasses.fields(w):
            bad = _diff(getattr(w, f.name), getattr(g, f.name, None))
            if bad:
                return f"{f.name}: {bad}"
        return None
    if isinstance(w, dict):
        if not isinstance(g, dict) or set(g) != set(w):
            return "dict keys differ"
        return next((f"[{k}]: {b}" for k in w if (b := _diff(w[k], g[k]))), None)
    if isinstance(w, list):
        if not isinstance(g, list) or len(g) != len(w):
            return "list length differs"
        return next((f"[{i}]: {b}" for i, (a, c) in enumerate(zip(w, g)) if (b := _diff(a, c))), None)
    return None if (type(g) is type(w) and g == w) else f"{g!r} != {w!r}"
