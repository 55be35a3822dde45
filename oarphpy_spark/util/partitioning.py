"""Partitioning guards.

``spread`` fixes the small-input parallelism trap: a table that is one
parquet file scans as ONE partition, so any compute-heavy map chain
(shingling, hashing, Arrow UDFs) runs single-threaded no matter how
many cores exist. Repartitioning costs one cheap shuffle of the small
input and unlocks the full cluster. On real (many-split) inputs the
guard is a no-op, so operators can apply it unconditionally.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Logical operators whose presence means the plan already crossed (or
# will cross) a shuffle / exchange boundary, so its parallelism is set
# by spark.sql.shuffle.partitions — not by the scan split count — and
# the narrow-scan guard below must not touch it.
_SHUFFLE_NODE_RE = re.compile(
    r"^(Join|Aggregate|Window|Sort|Distinct|Deduplicate\w*|Intersect|"
    r"Except|Repartition\w*|Rebalance\w*|"
    r"CoGroup|FlatMapGroups\w*|FlatMapCoGroups\w*|MapGroups|GlobalLimit)\b"
)

# toString() of a logical plan prints one operator per line with
# tree-drawing prefixes like ":  +- " — strip them to get the node name.
_TREE_PREFIX_RE = re.compile(r"^[\s:+-]*")


def _has_shuffle_ancestor(df: DataFrame) -> bool:
    """True when the optimized logical plan contains any operator that
    implies an exchange. Driver-side string walk only — no job, no RDD
    conversion, no AQE finalization."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        node = _TREE_PREFIX_RE.sub("", line)
        if _SHUFFLE_NODE_RE.match(node):
            return True
    return False


def spread(df: DataFrame) -> DataFrame:
    """Repartition iff the input is a narrow (scan-like) plan with
    fewer partitions than the cluster's default parallelism.

    Scan-like means the optimized logical plan contains no
    shuffle-implying operator. For those plans the partition count is
    read off the RDD the plan executes as (``queryExecution.toRdd``, the
    RDD ``df.rdd`` wraps): no job, and none of ``df.rdd``'s Python-row
    conversion, though the scan's RDD is still built. Plans that already
    contain a join/aggregate/repartition are returned UNCHANGED — their
    parallelism is governed by the shuffle-partition config, and
    probing their partitions would finalize the adaptive plan and
    eagerly materialize upstream shuffle stages at composition time,
    besides reading a pre-AQE partition count that can mis-trigger a
    redundant repartition.

    Every logical ``Join`` counts as shuffle-implying, broadcast joins
    included: a broadcast-hash join streams its big side without an
    exchange, but the node is matched by name before physical planning,
    so such a plan is returned unchanged too (its big side keeps its
    scan split count).
    """
    if _has_shuffle_ancestor(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df
