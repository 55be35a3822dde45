"""truncate_lineage: local vs reliable checkpoint selection from the
session's checkpoint dir, for operators and query result cuts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oarphpy_spark.util.checkpoints import (
    checkpoint_dir_configured,
    clear_checkpoint_dir,
    truncate_lineage,
)
from tests.conftest import SF_SMALL


@pytest.fixture(autouse=True)
def _no_checkpoint_dir_leak(spark):
    """Any checkpoint dir set inside a test is unset afterwards so
    AUTO mode stays local for the rest of the suite."""
    clear_checkpoint_dir(spark)
    yield
    clear_checkpoint_dir(spark)


def _files_under(root: str) -> list[str]:
    found = []
    for _root, _dirs, files in os.walk(root):
        found.extend(files)
    return found


def test_local_truncation_by_default(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    assert not checkpoint_dir_configured(df)
    out = truncate_lineage(df)
    assert out.count() == 10
    # localCheckpoint plans scan an RDD, not the original range
    assert "Scan ExistingRDD" in out._jdf.queryExecution().toString()


def test_reliable_checkpoint_writes_to_dir(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    df = spark.range(100).withColumn("y", F.col("id") % 7)
    out = truncate_lineage(df)
    assert out.count() == 100
    # blocks actually landed in the reliable dir
    assert _files_under(ckpt), "reliable checkpoint wrote nothing to the dir"
    out2 = truncate_lineage(spark.range(3), eager=False)
    assert out2.count() == 3


def test_graph_ops_follow_checkpoint_dir(spark, tmp_path):
    """connected_components returns the same stars with local
    truncation (no dir) and reliable truncation (dir set)."""
    from oarphpy_spark.llm.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "s long, d long"
    )
    want = {(2, 1), (3, 1), (11, 10)}

    def stars():
        return {
            (r.node, r.component)
            for r in connected_components(edges, "s", "d").collect()
        }

    assert stars() == want
    ckpt = str(tmp_path / "ckpt2")
    spark.sparkContext.setCheckpointDir(ckpt)
    assert stars() == want
    assert _files_under(ckpt)


def test_query_result_cut_follows_checkpoint_dir(spark, tmp_path):
    """A query's final lineage cut honours a configured checkpoint
    dir: q_graph_reciprocity writes its result under the dir and
    returns the same rows as the local cut."""
    from oarphpy_spark import registry

    q = registry.queries()["q_graph_reciprocity"]
    want = sorted(q(spark, SF_SMALL).collect())
    ckpt = str(tmp_path / "ckpt3")
    spark.sparkContext.setCheckpointDir(ckpt)
    got = sorted(q(spark, SF_SMALL).collect())
    assert got == want
    assert _files_under(ckpt), "result cut wrote nothing to the dir"
