"""Spatial operators: grid-bucketed radius self-join and DBSCAN
density clustering.

Neither Spark nor the reference ships spatial primitives; both
operators below are built from the one shape that scales — bucket
points into cells the size of the search radius, equi-join each
point's cell against the 3x3 neighbor stencil, and verify the exact
distance predicate only on cell-local candidates. That turns an
all-pairs O(n^2) distance join into an equi-join whose fanout is the
local point density, the same trick every distributed spatial engine
(Sedona, GeoMesa) uses under the name "grid / uniform-cell
partitioning". The DuckDB oracles restate the SAME semantics as the
quadratic brute-force join — correct at oracle scale, and exactly
the restatement the grid join must reproduce bit-for-bit.

Coordinates are hash-derived integers (md5 of the customer key), so
both engines see the identical deterministic point cloud and every
distance compare is exact integer arithmetic — no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.functions.text import md5_str
from oarphpy_spark.registry import query
from oarphpy_spark.tables import table
from oarphpy_spark.util.checkpoints import release_cached, truncate_lineage

# Base world is [0, 10000)^2 at the 1500-customer reference scale;
# radius/eps 300 => ~33x33 cells of side 300. The world SIDE grows
# with sqrt(n) (see _world_side) so point DENSITY — and therefore
# per-cell occupancy and pair counts per point — is scale-invariant:
# a 10x-replicated smoke run exercises 10x the data, not a 100x
# denser (quadratically harder) workload. Both engines compute the
# same side from the same count with one correctly-rounded IEEE sqrt.
_BASE_WORLD = 10_000
_BASE_N = 1500
_R = 300
_MINPTS = 5  # neighbors within eps INCLUDING the point itself

_COORD_ORACLE = f"""
      SELECT c_custkey AS k,
             CAST(('0x' || substring(md5('px|' || CAST(c_custkey AS VARCHAR)),
                   1, 6)) AS BIGINT)
               % (SELECT CAST({_BASE_WORLD} * CEIL(SQRT(COUNT(*) / {_BASE_N}.0))
                       AS BIGINT) FROM customer) AS x,
             CAST(('0x' || substring(md5('py|' || CAST(c_custkey AS VARCHAR)),
                   1, 6)) AS BIGINT)
               % (SELECT CAST({_BASE_WORLD} * CEIL(SQRT(COUNT(*) / {_BASE_N}.0))
                       AS BIGINT) FROM customer) AS y
      FROM customer
"""


def _coord(salt: str, world: int) -> F.Column:
    return (
        F.conv(
            F.substring(
                md5_str(
                    F.concat(F.lit(salt), F.col("c_custkey").cast("string"))
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % world
    )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic point cloud: one point per customer, integer
    coords in [0, world)^2 derived from md5 so Spark and the oracle
    agree bit-for-bit. The one-row count that sizes the world is a
    bounded driver-side probe (the same class as the histogram
    edge probes), NOT a data collect."""
    import math

    cust = table(spark, sf_dir, "customer")
    world = _BASE_WORLD * math.ceil(math.sqrt(cust.count() / _BASE_N))
    return cust.select(
        F.col("c_custkey").alias("k"),
        _coord("px|", world).alias("x"),
        _coord("py|", world).alias("y"),
    )


def radius_pairs(pts: DataFrame, radius: int) -> DataFrame:
    """All ORDERED pairs (ak != bk) within L2 ``radius``, via the
    grid-stencil join: home side keyed by its own cell, probe side
    exploded to the 3x3 neighbor stencil, so every qualifying pair is
    produced exactly once per direction (a point's 9 probe cells are
    distinct, and any point within ``radius`` lives in one of them).
    One equi-join shuffle on the cell key; fanout is 9x the probe
    side, NOT n^2 — the candidate count scales with local density.
    At 100 TB the cell key is also the natural partitioner: both
    sides co-locate on it and AQE handles dense-city cell skew."""
    home = pts.select(
        F.col("k").alias("bk"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        (F.col("x") / radius).cast("bigint").alias("cx"),
        (F.col("y") / radius).cast("bigint").alias("cy"),
    )
    # floor-div via cast is wrong for negatives; coords are in
    # [0, WORLD) by construction so the plain div is a floor.
    offs = F.expr(
        "explode(array(-1L, 0L, 1L))"
    )
    probe = (
        pts.select(
            F.col("k").alias("ak"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.col("x") / radius).cast("bigint").alias("pcx"),
            (F.col("y") / radius).cast("bigint").alias("pcy"),
        )
        .withColumn("dx", offs)
        .withColumn("dy", F.expr("explode(array(-1L, 0L, 1L))"))
        .select(
            "ak",
            "ax",
            "ay",
            (F.col("pcx") + F.col("dx")).alias("cx"),
            (F.col("pcy") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        probe.join(home, ["cx", "cy"])
        .filter((F.col("ak") != F.col("bk")) & (d2 <= radius * radius))
        .select("ak", "bk", d2.alias("d2"))
    )


@query(
    "q_spatial_grid_join",
    oracle=f"""
    WITH p AS ({_COORD_ORACLE}),
    pairs AS (
      SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM p a JOIN p b
        ON a.k < b.k
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_R * _R}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(d2) AS BIGINT) AS sum_d2,
           CAST(MAX(d2) AS BIGINT) AS max_d2
    FROM pairs
    """,
)
def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join (all point pairs within L2 distance 300) via
    the grid-stencil equi-join — the distributed answer to a distance
    join; the oracle is the quadratic brute-force restatement the
    grid must match exactly. Unordered pairs are kept once via
    ak < bk; the returned certificate (count, sum and max of squared
    distances) pins the full pair SET, not just its size. Exact
    integer geometry end-to-end."""
    pts = _points(spark, sf_dir)
    pairs = radius_pairs(pts, _R).filter(F.col("ak") < F.col("bk"))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum("d2").alias("sum_d2"),
        F.max("d2").alias("max_d2"),
    )


@query(
    "q_dbscan_grid",
    oracle=f"""
    WITH RECURSIVE p AS MATERIALIZED ({_COORD_ORACLE}),
    np AS MATERIALIZED (
      SELECT a.k AS ak, b.k AS bk
      FROM p a JOIN p b
        ON a.k <> b.k
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_R * _R}
    ),
    core AS MATERIALIZED (
      SELECT ak AS k FROM np GROUP BY ak
      HAVING COUNT(*) + 1 >= {_MINPTS}
    ),
    ce AS MATERIALIZED (
      SELECT np.ak AS s, np.bk AS d FROM np
      JOIN core ca ON np.ak = ca.k
      JOIN core cb ON np.bk = cb.k
    ),
    lab(k, c) AS (
      SELECT k, k FROM core
      UNION
      SELECT e.d, MIN(l.c) FROM lab l JOIN ce e ON l.k = e.s
      GROUP BY e.d
    ),
    comp AS MATERIALIZED (SELECT k, MIN(c) AS cluster FROM lab GROUP BY k),
    border AS MATERIALIZED (
      SELECT np.ak AS k, MIN(comp.cluster) AS cluster
      FROM np
      JOIN comp ON np.bk = comp.k
      WHERE np.ak NOT IN (SELECT k FROM core)
      GROUP BY np.ak
    ),
    labeled AS (
      SELECT cluster, 'core' AS role FROM comp
      UNION ALL
      SELECT cluster, 'border' AS role FROM border
      UNION ALL
      SELECT -1 AS cluster, 'noise' AS role FROM p
      WHERE p.k NOT IN (SELECT k FROM comp)
        AND p.k NOT IN (SELECT k FROM border)
    )
    SELECT cluster AS cluster_id, role, CAST(COUNT(*) AS BIGINT) AS n
    FROM labeled GROUP BY cluster, role
    ORDER BY cluster_id, role
    """,
)
def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DBSCAN (eps=300, minPts=5) as relational algebra over
    the grid join: neighbor pairs from the cell-stencil equi-join,
    core points by neighbor count, clusters = connected components
    of the core-core proximity graph (Kiveris min-label CC — the
    same machinery as near-dup clustering, so cluster id = MIN core
    key, matching the oracle's min-label fixpoint), border points
    attach to their MIN core neighbor's cluster (the deterministic
    tiebreak; textbook DBSCAN leaves border assignment
    order-dependent), the rest are noise. The oracle restates CC as
    recursive min-label propagation (delta rows only — O(V * diam),
    NOT the quadratic pair closure that blew the sf0.1 oracle budget
    in r09-r11), while the Spark path stays cell-local + log-round
    CC at any scale. Output: per (cluster, role) counts plus one
    noise row."""
    from oarphpy_spark.llm.graph import connected_components

    pts = _points(spark, sf_dir).persist()
    np_ = radius_pairs(pts, _R).select("ak", "bk").persist()
    core = (
        np_.groupBy("ak")
        .agg((F.count("*") + 1).alias("deg"))
        .filter(F.col("deg") >= _MINPTS)
        .select(F.col("ak").alias("k"))
        .persist()
    )
    ce = (
        np_.join(core.withColumnRenamed("k", "ak"), "ak")
        .join(core.withColumnRenamed("k", "bk"), "bk")
        .select("ak", "bk")
    )
    cc = connected_components(ce, "ak", "bk")
    comp = core.join(
        cc.withColumnRenamed("node", "k"), "k", "left"
    ).select("k", F.coalesce("component", "k").alias("cluster"))
    border = (
        np_.join(core.withColumnRenamed("k", "ak"), "ak", "left_anti")
        .join(
            comp.select(
                F.col("k").alias("bk"), F.col("cluster")
            ),
            "bk",
        )
        .groupBy("ak")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("ak").alias("k"), "cluster")
    )
    labeled = (
        comp.select("cluster", F.lit("core").alias("role"))
        .unionByName(border.select("cluster", F.lit("border").alias("role")))
        .unionByName(
            pts.join(comp, "k", "left_anti")
            .join(border, "k", "left_anti")
            .select(
                F.lit(-1).cast("bigint").alias("cluster"),
                F.lit("noise").alias("role"),
            )
        )
    )
    out = (
        labeled.groupBy(F.col("cluster").alias("cluster_id"), "role")
        .agg(F.count("*").alias("n"))
        .orderBy("cluster_id", "role")
    )
    out = truncate_lineage(out)
    release_cached(cc)
    np_.unpersist()
    core.unpersist()
    pts.unpersist()
    return out


@query(
    "q_spatial_density",
    oracle=f"""
    WITH p AS ({_COORD_ORACLE}),
    cells AS (
      SELECT x // {_R} AS cx, y // {_R} AS cy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    )
    SELECT cx, cy, n FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, cx, cy) AS rk
      FROM cells
    ) WHERE rk <= 20 ORDER BY n DESC, cx, cy
    """,
)
def q_spatial_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density heatmap: bucket every point into its grid cell
    and rank the 20 densest — the aggregation that backs every map
    heatmap and the skew diagnostic for the stencil join (a cell in
    this top-20 is exactly a candidate hot bucket for
    q_spatial_grid_join's equi-join; AQE's skew split keys on the
    same cell id). One partial-aggregable groupBy at cell
    granularity, then TakeOrderedAndProject — never a global sort of
    the cell table."""
    pts = _points(spark, sf_dir)
    cells = (
        pts.groupBy(
            (F.col("x") / _R).cast("bigint").alias("cx"),
            (F.col("y") / _R).cast("bigint").alias("cy"),
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        cells.orderBy(F.desc("n"), "cx", "cy")
        .limit(20)
        .select("cx", "cy", "n")
    )


@query(
    "q_spatial_knn_bounded",
    oracle=f"""
    WITH p AS ({_COORD_ORACLE}),
    pairs AS (
      SELECT a.k AS ak, b.k AS bk,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM p a JOIN p b
        ON a.k <> b.k
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_R * _R}
    ),
    ranked AS (
      SELECT ak, bk, d2,
             ROW_NUMBER() OVER (
               PARTITION BY ak ORDER BY d2, bk) AS rk
      FROM pairs
    )
    SELECT ak AS k, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(d2) AS BIGINT) AS sum_d2,
           CAST(MIN(bk) AS BIGINT) AS nearest_min_id
    FROM ranked WHERE rk <= 3
    GROUP BY ak ORDER BY ak
    """,
)
def q_spatial_knn_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded k-nearest-neighbors (k=3 within distance 300):
    per-point nearest neighbors from the grid-stencil candidate set,
    ranked by exact integer distance with a deterministic id
    tiebreak. The radius bound is what keeps this exact AND
    scale-correct — candidates never leave the 3x3 stencil, so the
    per-point ranking window sees only cell-local rows (an UNBOUNDED
    exact kNN needs expanding-ring search or an index; the bounded
    form is what feature pipelines actually use for local density /
    nearest-facility features). Summarized per point (count, sum of
    squared distances, min neighbor id) so the certificate pins the
    full neighbor SET."""
    pts = _points(spark, sf_dir)
    pairs = radius_pairs(pts, _R)
    w = Window.partitionBy("ak").orderBy("d2", "bk")
    top = pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )
    return (
        top.groupBy(F.col("ak").alias("k"))
        .agg(
            F.count("*").alias("n_neighbors"),
            F.sum("d2").alias("sum_d2"),
            F.min("bk").alias("nearest_min_id"),
        )
        .orderBy("k")
    )
