"""The session memo in ``util/checkpoints``: one release call frees
every relation the graph and dedup-LSH query families share, and the
shared builds follow the same durability switch as every other
lineage cut."""

from __future__ import annotations

from .conftest import SF_SMALL as SF


def _persisted_ids(jsc) -> set[int]:
    """Ids of the persisted RDDs. Tests compare these sets, not their
    sizes: Spark's ContextCleaner may unpersist an unreferenced
    checkpoint left by an earlier test at any JVM GC, mid-test."""
    return {int(i) for i in jsc.getPersistentRDDs().keySet()}


def test_release_shared_frees_every_family_relation(spark):
    """Edges, degrees, the wedge sizing memo and the MinHash buckets
    of one sf_dir live in one scope: a single release drops it (count
    1), frees every checkpoint block it held, and the next touch
    rebuilds."""
    import oarphpy_spark.queries.graph_queries as gq
    import oarphpy_spark.queries.llm_queries as lq
    from oarphpy_spark.util import checkpoints

    jsc = spark.sparkContext._jsc
    checkpoints.release_shared(spark)
    ids0 = _persisted_ids(jsc)

    edges = gq._shared_edges(spark, SF)
    _, _, deg = gq._lp_shared_relations(spark, SF)
    assert gq._wedge_agg_partitions(spark, SF, sample_t=gq._LP_SKETCH_T) > 0
    assert lq.q_dedup_minhash(spark, SF).count() > 0
    buckets = lq._shared_minhash_buckets(spark, SF)
    # edges, degrees and buckets each hold one checkpoint
    assert len(_persisted_ids(jsc) - ids0) == 3

    assert checkpoints.release_shared(spark, SF) == 1
    assert _persisted_ids(jsc) - ids0 == set()
    assert not checkpoints._SHARED

    assert gq._shared_edges(spark, SF) is not edges
    assert gq._lp_shared_relations(spark, SF)[2] is not deg
    assert lq._shared_minhash_buckets(spark, SF) is not buckets
    checkpoints.release_shared(spark)


def test_shared_edges_use_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With a checkpoint dir configured, the shared edge relation is a
    reliable checkpoint (no executor-local persisted RDD), with the
    same rows as a fresh derivation."""
    import oarphpy_spark.queries.graph_queries as gq
    from oarphpy_spark.util.checkpoints import (
        clear_checkpoint_dir,
        release_shared,
    )

    jsc = spark.sparkContext._jsc
    release_shared(spark)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        ids0 = _persisted_ids(jsc)
        shared = gq._shared_edges(spark, SF)
        assert _persisted_ids(jsc) - ids0 == set()
        fresh = gq._copurchase_edges(spark, SF)
        assert sorted(shared.collect()) == sorted(fresh.collect())
    finally:
        release_shared(spark)
        clear_checkpoint_dir(spark)


def test_session_presets_leave_nanos_as_long_unset():
    """``tables.table`` sets the legacy nanos conf only around reads of
    genuinely-ns files; a session-wide default would turn every other
    ns-parquet read into silent bigints."""
    from oarphpy_spark.session import (
        K8SSessionFactory,
        NotebookSessionFactory,
        SessionFactory,
    )

    for factory in (SessionFactory, K8SSessionFactory, NotebookSessionFactory):
        assert "spark.sql.legacy.parquet.nanosAsLong" not in factory.CONF_KV


def test_session_presets_clean_unreferenced_checkpoints():
    """With a checkpoint dir set, every lineage cut writes reliable
    checkpoint files; the presets let Spark's cleaner delete those of
    unreferenced RDDs so a long-lived session does not fill the dir."""
    from oarphpy_spark.session import (
        K8SSessionFactory,
        NotebookSessionFactory,
        SessionFactory,
    )

    for factory in (SessionFactory, K8SSessionFactory, NotebookSessionFactory):
        key = "spark.cleaner.referenceTracking.cleanCheckpoints"
        assert factory.CONF_KV[key] == "true"


def test_wedge_agg_partitions_needs_exactly_one_sizing_arg(spark):
    """Neither argument would filter every center through ``dg <= None``
    and size from zero wedges; both would silently drop ``degree_cap``.
    Both misuses raise before any Spark work."""
    import pytest

    import oarphpy_spark.queries.graph_queries as gq

    with pytest.raises(ValueError, match="exactly one"):
        gq._wedge_agg_partitions(spark, SF)
    with pytest.raises(ValueError, match="exactly one"):
        gq._wedge_agg_partitions(spark, SF, degree_cap=10, sample_t=4)


def test_release_cached_frees_a_checkpointed_result(spark):
    """A query result that is itself a lineage cut (k-core's final
    degree table) is freed by the one release call every caller makes,
    while the session-shared edges it was built from stay persisted and
    readable — also when the shared value itself is passed in."""
    import oarphpy_spark.queries.graph_queries as gq
    from oarphpy_spark.util.checkpoints import release_cached, release_shared

    jsc = spark.sparkContext._jsc
    release_shared(spark)
    try:
        edges = gq._shared_edges(spark, SF)
        edges_id = edges._jdf.queryExecution().analyzed().rdd().id()
        n_edges = edges.count()
        out = gq.q_kcore(spark, SF)
        out.collect()
        out_id = out._jdf.queryExecution().analyzed().rdd().id()
        assert {out_id, edges_id} <= _persisted_ids(jsc)

        release_cached(out)
        assert out_id not in _persisted_ids(jsc)
        assert edges_id in _persisted_ids(jsc)
        assert edges.count() == n_edges

        release_cached(edges)
        assert edges_id in _persisted_ids(jsc)
        assert edges.count() == n_edges
    finally:
        release_shared(spark)
