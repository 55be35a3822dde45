"""``tables.table`` infers each parquet path's schema once: a warm call
reads with the memoized schema and launches no Spark job, while a
rewritten file or a flipped schema-inference conf re-infers."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from oarphpy_spark.tables import register_temp_views, table

from .conftest import SF_SMALL as SF


def _jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    group = f"t-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_table_launches_no_job(spark):
    cold, _ = _jobs_launched(spark, lambda: table(spark, SF, "lineitem"))
    warm, n_jobs = _jobs_launched(spark, lambda: table(spark, SF, "lineitem"))
    assert n_jobs == 0
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()


def test_warm_register_temp_views_launches_no_job(spark):
    register_temp_views(spark, SF)
    _, n_jobs = _jobs_launched(spark, lambda: register_temp_views(spark, SF))
    assert n_jobs == 0
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0


def test_rewritten_file_reinfers_schema(spark, tmp_path):
    path = os.path.join(str(tmp_path), "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"]}), path
    )
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r["r_name"] for r in df.collect()) == ["A", "B", "C"]


def test_added_part_file_is_read(spark, tmp_path):
    path = os.path.join(str(tmp_path), "nation.parquet")
    os.makedirs(path)
    pq.write_table(pa.table({"n_nationkey": [0]}), os.path.join(path, "a.parquet"))
    assert table(spark, str(tmp_path), "nation").count() == 1

    pq.write_table(pa.table({"n_nationkey": [1, 2]}), os.path.join(path, "b.parquet"))
    assert table(spark, str(tmp_path), "nation").count() == 3


def test_cold_events_read_launches_no_job(spark, tmp_path):
    """events is read under its declared schema, so even a cold read of
    a fresh directory runs no inference job, whatever form ``ts`` has."""
    from .test_ts_schema_drift import _forms

    for form, d in _forms(str(tmp_path)).items():
        df, n_jobs = _jobs_launched(spark, lambda: table(spark, d, "events"))
        assert n_jobs == 0, form
        assert dict(df.dtypes)["ts"] == "timestamp", form


def test_inference_conf_change_reinfers_schema(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1], "b": pa.array([b"x"], pa.binary())}),
        os.path.join(str(tmp_path), "part.parquet"),
    )
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "false")
        assert dict(table(spark, str(tmp_path), "part").dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        assert dict(table(spark, str(tmp_path), "part").dtypes)["b"] == "string"
        spark.conf.set(key, "false")
        assert dict(table(spark, str(tmp_path), "part").dtypes)["b"] == "binary"
    finally:
        spark.conf.unset(key)


def _write_embeddings(path: str, vectors: list[list[float]]) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vectors)), pa.int64()),
                "embedding": pa.array(vectors, pa.list_(pa.float32())),
            }
        ),
        path,
    )


def test_ann_artifacts_follow_a_rewritten_embeddings_table(spark, tmp_path):
    """The IVF centroids and the embedding dimensionality are memoized
    per sf dir, stamped with the embeddings table's files: a rewrite
    serves the new table's artifacts, an untouched table the memo."""
    from oarphpy_spark.queries import llm_queries as lq

    sf = str(tmp_path)
    path = os.path.join(sf, "embeddings.parquet")
    _write_embeddings(path, [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    assert lq._ivf_centroids(spark, sf, 2) == [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assert lq._emb_dim(spark, sf) == 2
    _, n_jobs = _jobs_launched(spark, lambda: lq._ivf_centroids(spark, sf, 2))
    assert n_jobs == 0

    _write_embeddings(path, [[2.0, 0.0, 0.5], [0.0, 3.0, 0.5]])
    assert lq._ivf_centroids(spark, sf, 2) == [
        (0, [2.0, 0.0, 0.5]),
        (1, [0.0, 3.0, 0.5]),
    ]
    assert lq._emb_dim(spark, sf) == 3


def test_bloom_bits_follow_a_rewritten_supplier_table(spark, tmp_path):
    """q_join_bloom_prune's filter bits are rebuilt when the supplier
    table is rewritten: stale bits would prune the new suppliers' fact
    rows before the join and drop their groups."""
    from oarphpy_spark.queries.joins import q_join_bloom_prune

    sf = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "l_suppkey": pa.array([1, 2, 3, 4] * 3, pa.int64()),
                "l_extendedprice": [10.0] * 12,
                "l_discount": [0.0] * 12,
            }
        ),
        os.path.join(sf, "lineitem.parquet"),
    )

    def write_supplier(rich: list[int]) -> None:
        keys = [1, 2, 3, 4]
        pq.write_table(
            pa.table(
                {
                    "s_suppkey": pa.array(keys, pa.int64()),
                    "s_name": [f"S{k}" for k in keys],
                    "s_acctbal": [9500.0 if k in rich else 10.0 for k in keys],
                }
            ),
            os.path.join(sf, "supplier.parquet"),
        )

    def names() -> list[str]:
        return sorted(r["s_name"] for r in q_join_bloom_prune(spark, sf).collect())

    write_supplier([1, 2])
    assert names() == ["S1", "S2"]
    write_supplier([2, 3, 4])
    assert names() == ["S2", "S3", "S4"]


def test_inference_confs_read_as_conf_get(spark, monkeypatch):
    """One read of the inference confs gives what ``spark.conf.get(k,
    None)`` gives per key: ``None`` while unset, the value once set
    (also a value holding the rendering's separators), and
    ``None`` again after unset."""
    from oarphpy_spark import tables

    extra = "spark.oarphpy_spark.test.inferenceConf"
    confs = tables._INFERENCE_CONFS + (extra,)
    monkeypatch.setattr(tables, "_INFERENCE_CONFS", confs)

    def per_key():
        return tuple(spark.conf.get(k, None) for k in confs)

    assert tables._inference_confs(spark) == per_key()
    changed = {
        "spark.sql.parquet.binaryAsString": "true",
        "spark.sql.caseSensitive": "false",
        extra: "a -> b, c",
    }
    before = {k: spark.conf.get(k, None) for k in changed}
    try:
        for k, v in changed.items():
            spark.conf.set(k, v)
        got = tables._inference_confs(spark)
        assert got == per_key()
        assert got[-1] == "a -> b, c"
        spark.conf.set(extra, "x\x00y")  # the rendering's separator
        assert tables._inference_confs(spark) == per_key()
        for k in changed:
            spark.conf.unset(k)
        got = tables._inference_confs(spark)
        assert got == per_key()
        assert got[-1] is None
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_memo_builds_once_under_concurrent_misses(tmp_path):
    """N threads missing one key run ``build`` once and all get its
    value; a slow build holds up no other key."""
    import threading
    import time

    from oarphpy_spark.tables import _memo_on_files

    path = os.path.join(str(tmp_path), "f.parquet")
    with open(path, "wb") as f:
        f.write(b"x")
    memo: dict = {}
    calls = []
    release = threading.Event()

    def slow_build():
        calls.append(1)
        release.wait(10)
        return object()

    n = 8
    barrier = threading.Barrier(n)
    got = [None] * n

    def miss(i):
        barrier.wait()
        got[i] = _memo_on_files(memo, "slow", path, slow_build)

    threads = [threading.Thread(target=miss, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    deadline = time.monotonic() + 10
    while not calls and time.monotonic() < deadline:
        time.sleep(0.01)
    # While "slow" is building, another key builds and returns.
    assert _memo_on_files(memo, "other", path, lambda: "other") == "other"
    release.set()
    for t in threads:
        t.join(10)
    assert len(calls) == 1
    assert all(v is got[0] for v in got) and got[0] is not None
