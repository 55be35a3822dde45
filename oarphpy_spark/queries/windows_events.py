"""Window functions + batch event-time windows (SURVEY.md §2.B(e),(i)).

The reference never imports pyspark.sql.Window; these are new surface
required by the driver's `events` table. Streaming forms of the event
windows live in oarphpy_spark/streaming/ — `F.window` / session windows
behave identically in batch, which is what the oracle checks here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.registry import query
from oarphpy_spark.tables import table
from oarphpy_spark.util.checkpoints import hold_caches


@query(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey,
             c_custkey,
             ROUND(c_acctbal, 2) AS acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer
    ) WHERE rk <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: richest 3 customers per nation (deterministic
    tiebreak on custkey so the oracle hash is stable)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        table(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "q_window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority,
             o_orderkey,
             ROUND(o_totalprice, 2) AS total,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 5
    """,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via rank-filter. At scale Spark pushes a per-
    partition 'window group limit' (Spark >=3.5) so only k rows per key
    survive each partition before the shuffle."""
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


@query(
    "q_window_running_agg",
    oracle="""
    SELECT event_id,
           user_id,
           epoch_us(ts) AS ts_us,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS run_sum,
           ROUND(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value
    FROM events
    """,
)
def q_window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec analytics: running sum + lag per user ordered by time."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events = table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.sum("value").over(wrun), 4).alias("run_sum"),
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
    )


@query(
    "q_events_tumbling",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch form of the streaming
    groupBy(window(...)); epoch-aligned so DuckDB date_trunc matches)."""
    events = table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_events_sliding",
    oracle="""
    SELECT (epoch_us(ts) // 900000000 - k.k) * 900000000 AS window_start_us,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1, 2
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 hour long, every 15 minutes — each event lands
    in exactly 4 windows. Oracle enumerates the 4 shifted buckets."""
    events = table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_events_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user. Spark's session_window
    end = last event + gap; the oracle reproduces that with classic
    gaps-and-islands SQL."""
    events = table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_events_funnel",
    oracle="""
    WITH mv AS (
      SELECT user_id, MIN(ts) AS v
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), mc AS (
      SELECT e.user_id, MIN(e.ts) AS c
      FROM events e JOIN mv ON e.user_id = mv.user_id
      WHERE e.event_type = 'click' AND e.ts > mv.v AND e.ts <= mv.v + INTERVAL 3 DAY
      GROUP BY e.user_id
    ), mp AS (
      SELECT e.user_id, MIN(e.ts) AS p
      FROM events e JOIN mc ON e.user_id = mc.user_id
      WHERE e.event_type = 'purchase' AND e.ts > mc.c AND e.ts <= mc.c + INTERVAL 3 DAY
      GROUP BY e.user_id
    )
    SELECT stage, COUNT(*) AS n_users FROM (
      SELECT mv.user_id,
             CASE WHEN mp.user_id IS NOT NULL THEN 'purchase'
                  WHEN mc.user_id IS NOT NULL THEN 'click'
                  ELSE 'view' END AS stage
      FROM mv
      LEFT JOIN mc ON mv.user_id = mc.user_id
      LEFT JOIN mp ON mv.user_id = mp.user_id
    ) GROUP BY stage
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: first view, then the first click
    within 3 days AFTER that view, then the first purchase within 3
    days AFTER that click — per
    user, counted by the furthest stage reached. Each stage is a
    partial-aggregated min on user_id; all three stage frames shuffle
    on the SAME key, so AQE plans them as co-partitioned joins with no
    re-exchange of the big side."""
    events = table(spark, sf_dir, "events")

    mv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    mc = (
        events.filter(F.col("event_type") == "click")
        .join(mv, "user_id")
        .filter(
            (F.col("ts") > F.col("v"))
            & (F.col("ts") <= F.col("v") + F.expr("INTERVAL 3 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c"))
    )
    mp = (
        events.filter(F.col("event_type") == "purchase")
        .join(mc, "user_id")
        .filter(
            (F.col("ts") > F.col("c"))
            & (F.col("ts") <= F.col("c") + F.expr("INTERVAL 3 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    staged = (
        mv.join(mc, "user_id", "left")
        .join(mp, "user_id", "left")
        .select(
            F.when(F.col("p").isNotNull(), "purchase")
            .when(F.col("c").isNotNull(), "click")
            .otherwise("view")
            .alias("stage")
        )
    )
    return staged.groupBy("stage").agg(F.count("*").alias("n_users"))


@query(
    "q_cdc_latest",
    oracle="""
    SELECT user_id, last_event_id, last_event_type, last_value, last_ts
    FROM (
      SELECT user_id,
             event_id AS last_event_id,
             event_type AS last_event_type,
             value AS last_value,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction / upsert-latest: collapse an append-only change
    stream to one current row per key. The engine shape is a single
    max(struct(ts, event_id, ...)) aggregation — partial aggregation
    combines map-side, so only one row PER KEY per input partition
    crosses the wire, where the equivalent row_number window (the
    oracle's phrasing, identical output) would shuffle and sort the
    full 100 TB history. This is the nightly job that turns an event
    log into a dimension snapshot."""
    events = table(spark, sf_dir, "events")
    latest = events.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("s")
    )
    return latest.select(
        "user_id",
        F.col("s.event_id").alias("last_event_id"),
        F.col("s.event_type").alias("last_event_type"),
        F.col("s.value").alias("last_value"),
        F.date_format("s.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    )


@query(
    "q_pivot_counts",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
    FROM events GROUP BY user_id
    """,
)
def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide pivot: per-user event-type counts as columns. The
    pivot values are pinned (explicit list), which keeps the plan a
    single partial-aggregated groupBy — Spark's two-job value-discovery
    pass (and its driver-side distinct) never runs, the property that
    matters when the long table is 100 TB."""
    events = table(spark, sf_dir, "events")
    piv = (
        events.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .count()
    )
    return piv.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in ["view", "click", "purchase", "signup", "error"]
        ],
    )


@query(
    "q_user_trend",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(covar_pop(epoch(ts) / 86400.0, value)
                 / NULLIF(var_pop(epoch(ts) / 86400.0), 0), 5) AS slope
    FROM events GROUP BY user_id
    """,
)
def q_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key least-squares trend (slope of value over time in days)
    computed entirely with JVM-side moment aggregates —
    covar_pop/var_pop partial-aggregate like any sum, so the per-user
    regression costs exactly one combine-friendly shuffle and never
    touches Python. The grouped-map applyInPandas formulation of the
    same fit would move every row into Arrow batches; moments are the
    100 TB shape for linear fits."""
    events = table(spark, sf_dir, "events")
    t_days = F.unix_micros("ts").cast("double") / 1e6 / 86400.0
    return (
        events.select("user_id", t_days.alias("t"), "value")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.covar_pop("t", "value")
                / F.nullif(F.var_pop("t"), F.lit(0.0)),
                5,
            ).alias("slope"),
        )
    )


@query(
    "q_resample_1h",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             date_trunc('hour', MIN(ts)) AS t0,
             date_trunc('hour', MAX(ts)) AS t1
      FROM events GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
      FROM spans
    ), hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT grid.user_id, epoch_us(grid.h) AS hour_us,
           CAST(COALESCE(hourly.n, 0) AS BIGINT) AS n,
           COALESCE(hourly.sum_value, 0.0) AS sum_value
    FROM grid LEFT JOIN hourly
      ON grid.user_id = hourly.user_id AND grid.h = hourly.h
    """,
)
def q_resample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify each user's event history onto
    a complete hourly grid (sequence + explode builds the grid from
    each key's own span — no driver-side calendar), then left-join the
    hourly rollup and zero-fill. Grid rows are ~span/hour per key and
    never leave their key's partition; both joins key on (user, hour)
    so AQE coalesces the small side. The missing-bucket densify is
    what makes downstream window/trend math see true zeros instead of
    absent rows."""
    events = table(spark, sf_dir, "events")
    spans = events.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.unix_micros("h").alias("hour_us"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.coalesce("sv", F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile quartiles, percent_rank,
    cume_dist per segment — via DISTRIBUTED two-pass ranking, because
    ``Window.partitionBy(c_mktsegment)`` (5 values) would sort 1/5 of
    the table in one task: skew-by-construction at scale.

    Recipe (the unique (c_acctbal, c_custkey) tie-break makes all
    three functions pure arithmetic over the global rank ``rn`` and
    segment size ``n``):

    1. per-segment ``percentile_approx`` edges split the value domain
       into B range-buckets, where B is DERIVED from the table's
       footer row count (util/scale.py) so the per-task bound holds at
       any SF; the edges table (5 rows) is collected and RE-INJECTED
       AS LITERALS — both consumers of the bucketing (counts→offsets
       vs ranked) provably share one bucket assignment, instead of
       relying on ReuseExchange to dedup two lineage branches of a
       percentile_approx whose partial-merge is not order-
       deterministic;
    2. ``row_number`` windows partition by (segment, bucket) — max
       partition is O(rows / (5·B));
    3. per-bucket counts (5·B rows) turn into rank offsets with a
       window over the tiny counts table; global rn = offset +
       local rn, and n comes back via the same broadcast.

    One fact shuffle total (the bounded-key window), same as the
    naive plan, but no task ever holds more than a bucket."""
    from oarphpy_spark.util.scale import derive_subkey_count, parquet_row_count

    import os as _os

    n_rows = parquet_row_count(_os.path.join(sf_dir, "customer.parquet"))
    B = derive_subkey_count(n_rows, n_groups=5, floor=16)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    edges_df = cust.groupBy("c_mktsegment").agg(
        F.percentile_approx(
            "c_acctbal", [i / B for i in range(1, B)], 10000
        ).alias("edges")
    )
    # Bounded collect (one row per segment); re-created as a literal
    # LocalRelation so every downstream branch sees identical edges.
    edges = spark.createDataFrame(edges_df.collect(), edges_df.schema)
    bucketed = (
        cust.join(F.broadcast(edges), "c_mktsegment")
        .withColumn(
            "bkt",
            F.aggregate(
                "edges",
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col("c_acctbal") > e, 1).otherwise(0),
            ),
        )
        .drop("edges")
    )
    counts = bucketed.groupBy("c_mktsegment", "bkt").agg(
        F.count("*").alias("cnt")
    )
    w_off = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "c_mktsegment",
        "bkt",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
    )
    totals = counts.groupBy("c_mktsegment").agg(F.sum("cnt").alias("n"))
    w_loc = Window.partitionBy("c_mktsegment", "bkt").orderBy(
        "c_acctbal", "c_custkey"
    )
    ranked = (
        bucketed.withColumn("local_rn", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), ["c_mktsegment", "bkt"])
        .join(F.broadcast(totals), "c_mktsegment")
        .withColumn("rn", (F.col("offset") + F.col("local_rn")).cast("long"))
    )
    # ntile(4): first (n mod 4) buckets hold (n div 4)+1 rows each.
    n, rn = F.col("n"), F.col("rn")
    base = (n / 4).cast("long")
    rem = n % 4
    size_big = base + 1
    thr = rem * size_big
    quartile = F.when(
        rn <= thr, ((rn - 1) / size_big).cast("long") + 1
    ).otherwise(rem + ((rn - thr - 1) / base).cast("long") + 1)
    return ranked.select(
        "c_custkey",
        "c_mktsegment",
        quartile.cast("long").alias("quartile"),
        F.round(
            F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
        F.round(rn / n, 6).alias("cdist"),
    )


@query(
    "q_islands_gaps",
    oracle="""
    WITH hrs AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
    ), seq AS (
      SELECT user_id, h,
             CAST(epoch(h) AS BIGINT) / 3600
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY h) AS grp
      FROM hrs
    ), isl AS (
      SELECT user_id, grp, COUNT(*) AS len FROM seq GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS max_streak_hours
    FROM isl GROUP BY user_id
    """,
)
def q_islands_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of consecutive active hours via
    the classic hour_index − row_number() group key — no self-join, no
    iteration; one window plus two partial-aggregable groupBys, all on
    the same user_id partitioning, so AQE coalesces the three stages
    onto one exchange. The sessionization shape for billions of rows
    when ``session_window``'s gap semantics (timeout from last event)
    aren't what's wanted — here a streak is calendar-hour aligned."""
    events = table(spark, sf_dir, "events")
    hrs = events.select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    seq = hrs.select(
        "user_id",
        (F.unix_micros("h") / F.lit(3_600_000_000)).cast("long")
        - F.row_number().over(w),
    ).toDF("user_id", "grp")
    isl = seq.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return isl.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.max("len").alias("max_streak_hours"),
    )


@query(
    "q_window_range_interval",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_trailing_1h,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ), 4) AS sum_trailing_1h
    FROM events
    """,
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per event, the trailing-1-hour count
    and sum for that user — the per-row rolling metric that tumbling/
    sliding windows can't give (those emit per-window rows, this
    emits per-event rows). ``rangeBetween`` on epoch seconds is
    rank-free, needs one shuffle on user_id, and the frame is bounded
    by time, so state per partition is O(events-in-1h), not O(n) —
    the correct scaling for burst-heavy event data. RANGE (not ROWS)
    also makes ties on ts deterministic: every co-timestamped event
    sees the same frame, so no orderBy tie-break is needed. The frame
    is expressed in integer microseconds in both engines — exact
    arithmetic, no float-boundary divergence."""
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_trailing_1h"),
    )


@query(
    "q_sessionize_ids",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  > 1800000000 OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess,
             event_id
      FROM events
    ), sess AS (
      SELECT user_id, value,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit session IDs via the lag-gap-cumsum idiom (30-min
    inactivity gap): unlike ``session_window`` — which emits one
    aggregated row per session — this assigns every event a stable
    (user_id, session_id) key that later joins/labels can reference.
    One shuffle on user_id serves both windows and the final groupBy
    (same partitioning, no re-exchange); the event_id tie-break makes
    co-timestamped events deterministic in both engines."""
    events = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = events.select(
        "user_id",
        "value",
        F.sum(new_sess)
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


@query(
    "q_monthly_growth",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT strftime(month, '%Y-%m') AS month,
           revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month), 4) AS pct_change
    FROM monthly
    """,
)
def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: partial-aggregated monthly
    totals (tiny result), then a single-partition lag window over the
    months. The unpartitioned window is safe BECAUSE it runs on the
    aggregate — months-cardinality rows — never on raw orders; the
    canonical two-level shape for trend reporting at any scale."""
    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy("m")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias(
            "pct_change"
        ),
    )


@query(
    "q_window_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``first_value``/``last_value``/``nth_value`` with an explicit
    full-partition frame (default frames make last_value the CURRENT
    row — the classic silent bug; both engines get the explicit frame).
    Partitioned by o_custkey: key cardinality GROWS with the data and
    per-customer order counts stay O(10), so the window is scale-safe —
    unlike a low-cardinality segment window, which this repo rewrites
    via bucketed ranking (see q_window_distribution)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey").over(w).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        )
        .distinct()
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), first_seen AS (
      SELECT user_id, MIN(d) AS cohort FROM act GROUP BY user_id
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort, a.d) AS BIGINT) AS days_since,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM act a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each subsequent active day. Two partial-aggregable
    shuffles on user_id (distinct activity days, then first-seen) and
    one on the tiny (cohort, offset) key — the first-seen table is
    users-cardinality and joins back broadcast-or-shuffle as Catalyst
    sizes it; nothing is ever per-event after the first distinct."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort").cast("long").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "q_attribution_last_touch",
    oracle="""
    SELECT event_id, user_id, attrib_id,
           CASE WHEN attrib_id IS NOT NULL THEN 1 ELSE 0 END AS attributed
    FROM (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attrib_id
      FROM events
    ) WHERE event_type = 'purchase'
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent STRICTLY-EARLIER click/view (NULL when the
    purchase had no preceding touchpoint). The engine idiom is
    last-non-null carry-forward — ``last(expr, ignorenulls=True)`` over
    an UNBOUNDED-PRECEDING-to-1-PRECEDING running frame — which scans
    each user's history exactly once: one exchange on user_id, one
    sort, O(1) window state per row. The join-free shape matters at
    100 TB: the naive formulation (self-join purchases x touches with
    a MAX(ts) subquery) shuffles the event log twice and rebuilds each
    user's touch list per purchase."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_id")
    )
    attributed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(touch, ignorenulls=True).over(w).alias("attrib_id"),
    ).filter(F.col("event_type") == "purchase")
    return attributed.select(
        "event_id",
        "user_id",
        "attrib_id",
        F.when(F.col("attrib_id").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("attributed"),
    )


@query(
    "q_event_debounce",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    WHERE prev_ts IS NULL
       OR date_diff('microsecond', prev_ts, ts) > 600000000
    """,
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed event dedup (debounce): keep an event only if the
    same user did not emit the same event_type within the preceding 10
    minutes — the standard guard against double-clicks, retry storms,
    and at-least-once ingestion duplicates. One lag() window per
    (user_id, event_type): a single exchange, per-row O(1) state, and
    unlike a self-join-within-interval formulation it never expands
    pairs. Note the chain semantics are deliberate: each KEPT-OR-
    DROPPED event still resets the clock for the next one (lag is over
    the raw stream), matching how debounce works in event pipelines."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            prev.alias("prev_ts"),
        )
        .filter(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                > 600_000_000
            )
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "ts_str"
            ),
        )
    )


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH dwell AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v_centi,
             CAST(epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS BIGINT)
               AS dwell_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(SUM(dwell_us) AS BIGINT) AS total_us,
           ROUND(CAST(SUM(CAST(v_centi AS HUGEINT) * dwell_us) AS DOUBLE)
                 / (100.0 * CAST(SUM(dwell_us) AS DOUBLE)), 6) AS twap
    FROM dwell WHERE dwell_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event type: each
    reading holds until the same user's next event, so its weight is
    the dwell time in integer microseconds (LEAD over the per-user
    timeline; the last reading of a user has no dwell and is
    excluded, the standard left-closed TWAP convention). ``value``
    carries 2 decimals, so rows are centi-quantized before the
    weighted integer sum — sum(v_centi * dwell_us) is an exact
    int64 in any partitioning/order, and the ONE division at the end
    makes the statistic bit-reproducible. Scale shape: one user-keyed
    window pass + one event_type aggregation, both partial-agg
    friendly; no self-join (the naive TWAP join events-to-next-event
    is the same shuffle paid twice).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dwell = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_centi"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dwell_us"),
    ).where(F.col("dwell_us").isNotNull())
    # The weighted sum is bounded by max(v_centi) x the TOTAL time
    # integral (sum of all dwells ~ n_users x span): ~1e21 at sf1.0
    # already — past int64. The multiply is lifted to 128-bit BEFORE
    # it happens (decimal(38,0) here, HUGEINT in the oracle), so
    # neither the per-row product nor the cross-row sum can wrap;
    # both sides convert the one exact integer to double for the
    # final division.
    return (
        dwell.groupBy("event_type")
        .agg(
            F.sum("dwell_us").alias("total_us"),
            F.round(
                F.sum(
                    F.col("v_centi").cast("decimal(38,0)")
                    * F.col("dwell_us")
                ).cast("double")
                / (100.0 * F.sum("dwell_us").cast("double")),
                6,
            ).alias("twap"),
        )
        .orderBy("event_type")
    )


@query(
    "q_attribution_linear",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v_centi,
             COUNT(*) FILTER (WHERE event_type IN ('click', 'view'))
               OVER w AS n_touch,
             COUNT(*) FILTER (WHERE event_type = 'click')
               OVER w AS n_click,
             COUNT(*) FILTER (WHERE event_type = 'view')
               OVER w AS n_view
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    purchases AS (
      SELECT v_centi, n_touch, n_click, n_view FROM seq
      WHERE event_type = 'purchase' AND n_touch > 0
    ),
    credited AS (
      SELECT 'click' AS channel,
             CAST(ROUND(10000.0 * v_centi * n_click / n_touch) AS BIGINT)
               AS credit_micro
      FROM purchases
      UNION ALL
      SELECT 'view',
             CAST(ROUND(10000.0 * v_centi * n_view / n_touch) AS BIGINT)
      FROM purchases
    )
    SELECT channel,
           ROUND(CAST(SUM(credit_micro) AS DOUBLE) / 1e6, 4)
             AS total_credit,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM purchases)
             AS n_attributed
    FROM credited GROUP BY channel ORDER BY channel
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — each purchase's value split
    equally across ALL of the user's strictly-earlier touchpoints,
    aggregated per channel — the companion to last-touch
    (q_attribution_last_touch) and, like it, JOIN-FREE: per-channel
    running counts over the same one-pass user window replace the
    purchases x touches self-join (which re-shuffles the event log
    and explodes per-purchase touch lists at 100 TB). Each purchase's
    per-channel share v * cnt_channel / n_touch is quantized to
    integer micro-units BEFORE the cross-row sum (one identical IEEE
    division + round per row in both engines; summing raw doubles
    would be partitioning-order-dependent), and the channel totals
    divide back once at the end."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def run_count(cond):
        return F.count(F.when(cond, 1)).over(w)

    seq = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_centi"),
        run_count(F.col("event_type").isin("click", "view")).alias(
            "n_touch"
        ),
        run_count(F.col("event_type") == "click").alias("n_click"),
        run_count(F.col("event_type") == "view").alias("n_view"),
    )
    purchases = seq.where(
        (F.col("event_type") == "purchase") & (F.col("n_touch") > 0)
    ).persist()

    def credited(channel: str, cnt_col: str):
        return purchases.select(
            F.lit(channel).alias("channel"),
            F.round(
                10000.0 * F.col("v_centi") * F.col(cnt_col)
                / F.col("n_touch")
            )
            .cast("long")
            .alias("credit_micro"),
        )

    n_attr = purchases.agg(F.count("*").alias("n_attributed"))
    out = (
        credited("click", "n_click")
        .unionByName(credited("view", "n_view"))
        .groupBy("channel")
        .agg(
            F.round(
                F.sum("credit_micro").cast("double") / 1e6, 4
            ).alias("total_credit")
        )
        .crossJoin(F.broadcast(n_attr))
        .select("channel", "total_credit", "n_attributed")
        .orderBy("channel")
    )
    return hold_caches(out, purchases)


@query(
    "q_ntile_deciles",
    oracle="""
    WITH d AS (
      SELECT c_mktsegment, c_acctbal,
             NTILE(10) OVER (
               PARTITION BY c_mktsegment
               ORDER BY c_acctbal, c_custkey
             ) AS decile
      FROM customer
    )
    SELECT c_mktsegment, decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(c_acctbal), 2) AS lo,
           ROUND(MAX(c_acctbal), 2) AS hi,
           ROUND(AVG(c_acctbal), 4) AS avg_bal
    FROM d
    GROUP BY c_mktsegment, decile
    ORDER BY c_mktsegment, decile
    """,
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count decile banding per market segment via NTILE(10) —
    the positional bucketing windows give (remainder rows spread over
    the FIRST buckets, ties broken by the deterministic
    (c_acctbal, c_custkey) order so both engines band identically),
    then per-band boundary/average stats. The window is PARTITIONED
    by segment, so each sort is per-key, not global — the shape that
    scales; a truly global NTILE at 100 TB should instead bucket by
    pre-computed rank boundaries (see q_percentiles) because a
    one-partition window serializes the sort."""
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(10).over(w).alias("decile"),
        )
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .orderBy("c_mktsegment", "decile")
    )
