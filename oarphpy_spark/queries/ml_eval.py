"""Distributed model-evaluation metrics: ROC-AUC and score
calibration over an engine-resident scores table.

Evaluating a classifier over billions of scored rows is itself a
scale problem: the textbook AUC formulation ranks EVERY row in one
global sort (a single task at 100 TB), and a naive pos x neg pair
count is quadratic. Both queries here avoid the per-row global sort
the same way the engine's other rank statistics do — quantize the
score, roll up to one row per DISTINCT score first, and run the
ordered pass over that bounded table (size is capped by the score
range x quantum, independent of row count).

The "model" under evaluation is deterministic so the oracle can
restate it: score = first embedding component, label = class parity —
the metric machinery is the artifact under test, same stance as the
synthesized multimodal blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.registry import query
from oarphpy_spark.tables import table
from oarphpy_spark.util.checkpoints import truncate_lineage

_SCORED = """
      SELECT ROUND(CAST(embedding[1] AS DOUBLE), 6) AS s,
             label % 2 AS y
      FROM embeddings
"""


@query(
    "q_binary_auc",
    oracle=f"""
    WITH s AS ({_SCORED}
    ), tot AS (
      SELECT CAST(SUM(y) AS BIGINT) AS np,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
      FROM s
    ), g AS (
      SELECT s, CAST(SUM(y) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0
      FROM s GROUP BY s
    ), acc AS (
      SELECT n1, n0,
             COALESCE(SUM(n0) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS c0
      FROM g
    )
    SELECT CAST(ROUND(CAST(SUM(2 * n1 * c0 + n1 * n0) AS DOUBLE)
                 * 1000000 / (2.0 * tot.np * tot.nn)) AS BIGINT)
             AS auc_ppm,
           tot.np AS n_pos, tot.nn AS n_neg
    FROM acc CROSS JOIN tot
    GROUP BY tot.np, tot.nn
    """,
)
def q_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney U statistic, tie-corrected,
    WITHOUT ranking individual rows: scores quantize to 6 dp, roll up
    to (score, n_pos, n_neg) — one partial-aggregable shuffle whose key
    space is bounded by the score range, not the row count — then a
    running negatives-below count over that small table gives
    U = sum(n1*c0 + n1*n0/2). Doubled to stay in exact integer
    arithmetic until the single final division, and reported as
    integer parts-per-million: scale-0 rounding is the only rounding
    engines agree on bitwise (fractional-digit ROUND diverges between
    Java's shortest-repr HALF_UP and C's scaled nearbyint on
    representation boundaries). The ordered pass runs on per-score
    rollup rows, so the single-partition window is over thousands of
    rows at ANY corpus size — the global per-row sort the textbook
    formulation needs is exactly what this avoids."""
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.col("embedding")[0].cast("double"), 6).alias("s"),
        (F.col("label") % 2).alias("y"),
    )
    g = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("n1"),
        (F.count("*") - F.sum("y")).cast("long").alias("n0"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    acc = g.select(
        "n1", "n0", F.coalesce(F.sum("n0").over(w), F.lit(0)).alias("c0")
    )
    return acc.agg(
        F.sum(2 * F.col("n1") * F.col("c0") + F.col("n1") * F.col("n0"))
        .alias("num2"),
        F.sum("n1").alias("np"),
        F.sum("n0").alias("nn"),
    ).select(
        F.round(
            F.col("num2").cast("double")
            * 1_000_000
            / (2.0 * F.col("np") * F.col("nn"))
        )
        .cast("long")
        .alias("auc_ppm"),
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
    )


@query(
    "q_score_calibration",
    oracle=f"""
    WITH s AS ({_SCORED}
    )
    SELECT CAST(LEAST(GREATEST(FLOOR((s + 0.5) * 10), 0), 9) AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(y) AS DOUBLE) * 1000000 / COUNT(*))
                AS BIGINT) AS pos_rate_ppm,
           CAST(ROUND(CAST(SUM(CAST(ROUND(s * 1000000) AS BIGINT))
                           AS DOUBLE) / COUNT(*))
                AS BIGINT) AS mean_score_micro
    FROM s GROUP BY 1
    """,
)
def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table: scores bucketed into 10 fixed
    bins over [-0.5, 0.5) (clamped outside), each reporting observed
    positive rate vs mean score — the input to a reliability diagram /
    ECE computation. One partial-aggregable shuffle on a 10-value key;
    mean score sums integer micro-units (exact, order-independent) and
    both rates leave as scale-0-rounded integers per million — the
    only rounding engines agree on bitwise. Fixed bin edges (not
    data-dependent quantiles) are the production choice for
    monitoring: bins stay comparable across days/models."""
    emb = table(spark, sf_dir, "embeddings")
    s = F.round(F.col("embedding")[0].cast("double"), 6)
    scored = emb.select(s.alias("s"), (F.col("label") % 2).alias("y"))
    bucket = F.least(
        F.greatest(F.floor((F.col("s") + 0.5) * 10), F.lit(0)), F.lit(9)
    ).cast("long")
    s_u = F.round(F.col("s") * 1_000_000).cast("long")
    return scored.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("y").cast("double") * 1_000_000 / F.count("*"))
        .cast("long")
        .alias("pos_rate_ppm"),
        F.round(F.sum(s_u).cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_score_micro"),
    )


@query(
    "q_confusion_matrix",
    oracle=f"""
    WITH s AS ({_SCORED}
    ), c AS (
      SELECT
        CAST(SUM(CASE WHEN s >= 0.0 AND y = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN s >= 0.0 AND y = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN s < 0.0 AND y = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN s < 0.0 AND y = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS tn
      FROM s
    )
    SELECT tp, fp, fn, tn,
           ROUND(tp / CAST(tp + fp AS DOUBLE), 6) AS precision_,
           ROUND(tp / CAST(tp + fn AS DOUBLE), 6) AS recall_,
           ROUND(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
    FROM c
    """,
)
def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded confusion matrix + precision/recall/F1 over the
    deterministic scores table (threshold 0.0) — the per-checkpoint
    eval rollup that complements q_binary_auc's threshold-free view.
    Four conditional counts in ONE partial-aggregable pass (no join,
    no sort, shuffle carries 4 integers per map task); the derived
    ratios are single divisions over exact integers. The F1 form
    2TP/(2TP+FP+FN) avoids the precision*recall intermediate — one
    division instead of three keeps both engines on one shared IEEE
    expression."""
    emb = table(spark, sf_dir, "embeddings")
    s = F.round(F.element_at("embedding", 1).cast("double"), 6)
    y = F.col("label") % 2
    pred = s >= 0.0
    c = emb.agg(
        F.sum(F.when(pred & (y == 1), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when(pred & (y == 0), 1).otherwise(0))
        .cast("long").alias("fp"),
        F.sum(F.when(~pred & (y == 1), 1).otherwise(0))
        .cast("long").alias("fn"),
        F.sum(F.when(~pred & (y == 0), 1).otherwise(0))
        .cast("long").alias("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"), 6
        ).alias("precision_"),
        F.round(
            F.col("tp") / (F.col("tp") + F.col("fn")).cast("double"), 6
        ).alias("recall_"),
        F.round(
            F.lit(2.0) * F.col("tp")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast(
                "double"
            ),
            6,
        ).alias("f1"),
    )


@query(
    "q_rank1_als",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type AS item,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS rating
      FROM events GROUP BY user_id, event_type
    ),
    -- user step with q == 1: p_u = avg rating, quantized to micro
    p AS (
      SELECT user_id,
             CAST(ROUND(CAST(SUM(rating) AS DOUBLE) / COUNT(*) * 1000000)
                  AS BIGINT) AS pm
      FROM r GROUP BY user_id
    ),
    -- item step: q_i = sum(r*p) / sum(p^2), 128-bit exact partials
    q AS (
      SELECT r.item,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(ROUND(
               CAST(SUM(CAST(r.rating AS HUGEINT) * p.pm) AS DOUBLE)
               / CAST(SUM(CAST(p.pm AS HUGEINT) * p.pm) AS DOUBLE)
               * 1000000) AS BIGINT) AS qm
      FROM r JOIN p ON r.user_id = p.user_id
      GROUP BY r.item
    )
    SELECT item, n_users, qm FROM q ORDER BY item
    """,
)
def q_rank1_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alternation of RANK-1 ALS matrix factorization over the
    implicit (user x event_type) rating matrix — the least-squares
    normal equations collapse to two sufficient-statistics passes:
    p_u = sum_i(r_ui q_i)/sum_i(q_i^2) with q initialized to 1, then
    q_i = sum_u(r_ui p_u)/sum_u(p_u^2). Each factor is QUANTIZED to
    integer micro-units immediately after its single IEEE division,
    so every cross-row sum in the next step is an exact 128-bit
    integer (the decimal(38,0)/HUGEINT bilinear discipline —
    rating x pm products overflow int64 at scale) and the whole
    iteration is bit-reproducible across engines and partitionings.
    Two groupBy passes + one user-keyed join — the exact shape a
    full rank-k ALS sweep has per factor at 100 TB."""
    ev = table(spark, sf_dir, "events")
    r = (
        ev.select(
            "user_id",
            F.col("event_type").alias("item"),
            F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        )
        .groupBy("user_id", "item")
        .agg(F.sum("cv").alias("rating"))
        .persist()
    )
    p = r.groupBy("user_id").agg(
        F.round(
            F.sum("rating").cast("double") / F.count("*") * 1000000
        )
        .cast("bigint")
        .alias("pm")
    )
    d38 = "decimal(38,0)"
    q = (
        r.join(p, "user_id")
        .groupBy("item")
        .agg(
            F.count("*").alias("n_users"),
            F.round(
                F.sum(
                    F.col("rating").cast(d38) * F.col("pm").cast(d38)
                ).cast("double")
                / F.sum(
                    F.col("pm").cast(d38) * F.col("pm").cast(d38)
                ).cast("double")
                * 1000000
            )
            .cast("bigint")
            .alias("qm"),
        )
    )
    out = truncate_lineage(q.orderBy("item"))
    r.unpersist()
    return out


@query(
    "q_target_encoding_loo",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS cat,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ), g AS (
      SELECT cat, y,
             CAST(SUM(y) OVER (PARTITION BY cat) AS BIGINT) AS s,
             CAST(COUNT(*) OVER (PARTITION BY cat) AS BIGINT) AS n
      FROM r
    ), enc AS (
      SELECT cat, n,
             CAST(ROUND(CAST(s - y AS DOUBLE) / (n - 1) / 100.0
                        * 1000000) AS BIGINT) AS loo_micro
      FROM g WHERE n > 1
    )
    SELECT cat, MAX(n) AS n_rows,
           ROUND(CAST(SUM(loo_micro) AS DOUBLE) / COUNT(*)
                 / 1000000.0, 4) AS avg_loo,
           ROUND(MIN(loo_micro) / 1000000.0, 4) AS min_loo,
           ROUND(MAX(loo_micro) / 1000000.0, 4) AS max_loo
    FROM enc GROUP BY cat ORDER BY cat
    """,
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature
    workhorse that replaces a category with the mean target of the
    OTHER rows in its group ((S_cat - y_i)/(n_cat - 1)), the
    leakage-avoidance form naive mean-encoding gets wrong: a row
    never sees its own label. Per-category sum and count come from
    ONE window pass (no self-join), the per-row encoding is a single
    division on exact integers, micro-quantized before the summary
    aggregates so cross-row sums stay exact. At 100 TB this is one
    shuffle on the category + a map-side expression per row —
    exactly how feature pipelines compute fold-safe encodings."""
    r = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    w = Window.partitionBy("cat")
    g = r.select(
        "cat",
        "y",
        F.sum("y").over(w).alias("s"),
        F.count("*").over(w).alias("n"),
    )
    enc = g.filter(F.col("n") > 1).select(
        "cat",
        "n",
        F.round(
            (F.col("s") - F.col("y")).cast("double")
            / (F.col("n") - 1)
            / 100.0
            * 1000000
        )
        .cast("bigint")
        .alias("loo_micro"),
    )
    return (
        enc.groupBy("cat")
        .agg(
            F.max("n").alias("n_rows"),
            F.round(
                F.sum("loo_micro").cast("double")
                / F.count("*")
                / 1000000.0,
                4,
            ).alias("avg_loo"),
            F.round(F.min("loo_micro") / 1000000.0, 4).alias("min_loo"),
            F.round(F.max("loo_micro") / 1000000.0, 4).alias("max_loo"),
        )
        .orderBy("cat")
    )
