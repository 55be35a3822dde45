"""Data-engineering lifecycle operators: snapshot diff, SCD2 history
build, robust (median/MAD) outlier detection, and the ORC sink.

These are the table-maintenance passes a pipeline runs around the
analytical queries — "what changed between yesterday's and today's
snapshot", "compress an event stream into validity intervals",
"flag anomalous measurements without letting the anomalies move the
threshold" — each a pure DataFrame plan with an exact DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oarphpy_spark.functions.text import md5_str
from oarphpy_spark.registry import query
from oarphpy_spark.tables import table
from oarphpy_spark.util.checkpoints import hold_caches, truncate_lineage
from oarphpy_spark.util.fs import input_files, new_scratch_dir, transient_scratch_dir

# The "new snapshot" for the diff is derived deterministically from the
# orders table so the oracle can re-derive it verbatim: every 19th key
# deleted, every 7th surviving key's price bumped one dollar, every
# 13th key cloned under a disjoint key range (the insert set). A real
# pipeline reads two physical snapshots instead — the diff plan is
# unchanged.
_DIFF_INSERT_OFFSET = 10**12  # > any real orderkey (24M x SF needs SF > 4e4)


@query(
    "q_table_diff",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_custkey, o_orderstatus,
                           CAST(ROUND(o_totalprice * 100) AS BIGINT),
                           o_orderpriority)) AS h
      FROM orders
    ), new AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_custkey, o_orderstatus,
                           CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             + CASE WHEN o_orderkey % 7 = 0
                                    THEN 100 ELSE 0 END,
                           o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 19 <> 0
      UNION ALL
      SELECT o_orderkey + {_DIFF_INSERT_OFFSET} AS k,
             md5(concat_ws('|', o_custkey, o_orderstatus,
                           CAST(ROUND(o_totalprice * 100) AS BIGINT),
                           o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT COALESCE(old.k, new.k) AS o_orderkey,
           CASE WHEN old.k IS NULL THEN 'added'
                WHEN new.k IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM old FULL OUTER JOIN new ON old.k = new.k
    WHERE old.k IS NULL OR new.k IS NULL OR old.h <> new.h
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every key as added / removed / changed
    between two table versions, dropping the (overwhelmingly common)
    unchanged rows. The scale shape is the whole point: each side
    reduces to (key, 16-byte row-hash) AT THE SCAN — column pruning
    keeps only the hashed columns, so the full-outer sort-merge join
    exchanges ~24 bytes/row instead of whole rows, and the unchanged
    filter discards matches before anything else happens. Diffing two
    100 TB snapshots is then two scans plus one co-partitioned SMJ on
    the key — no driver state, no collect. The row hash folds price to
    integer cents so float formatting can't produce phantom diffs."""
    orders = table(spark, sf_dir, "orders")

    def hashed(price_bump_mod7: bool) -> DataFrame:
        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        if price_bump_mod7:
            cents = cents + F.when(
                F.col("o_orderkey") % 7 == 0, F.lit(100)
            ).otherwise(F.lit(0))
        return orders.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_custkey"),
                    F.col("o_orderstatus"),
                    cents,
                    F.col("o_orderpriority"),
                ).cast("binary")
            ).alias("h"),
        )

    old = hashed(price_bump_mod7=False)
    new = hashed(price_bump_mod7=True).filter(
        F.col("k") % 19 != 0
    ).unionAll(
        hashed(price_bump_mod7=False)
        .filter(F.col("k") % 13 == 0)
        .select((F.col("k") + _DIFF_INSERT_OFFSET).alias("k"), "h")
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
    return joined.filter(
        F.col("o.k").isNull()
        | F.col("n.k").isNull()
        | (F.col("o.h") != F.col("n.h"))
    ).select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("o_orderkey"),
        F.when(F.col("o.k").isNull(), F.lit("added"))
        .when(F.col("n.k").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


@query(
    "q_cdc_apply",
    oracle=f"""
    WITH snap AS (
      SELECT o_orderkey AS k, o_custkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ), upd AS (
      SELECT k, CASE WHEN k % 35 = 0 THEN 2000 ELSE 1000 END AS bump
      FROM snap WHERE k % 5 = 0
    ), merged AS (
      SELECT s.k, s.o_custkey, s.o_orderstatus,
             s.price_cents + COALESCE(u.bump, 0) AS price_cents
      FROM snap s LEFT JOIN upd u ON s.k = u.k
      WHERE s.k % 11 <> 0
      UNION ALL
      SELECT k + {_DIFF_INSERT_OFFSET}, o_custkey, o_orderstatus, price_cents
      FROM snap WHERE k % 13 = 0
    )
    SELECT k AS o_orderkey, o_custkey, o_orderstatus, price_cents
    FROM merged
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a CDC feed into a snapshot (operators/upsert.py): the
    change stream carries updates for every 5th key (with a SECOND,
    later update on every 35th — latest-wins must pick it), deletes
    for every 11th (sequenced after the updates, so on keys divisible
    by 55 the delete wins), and inserts cloned under a disjoint key
    range. The operator compacts the stream to one winning change per
    key with a partial-aggregable max_by(struct(seq, ...)) — a key
    changed a million times still ships one row per input partition —
    then applies with ONE full-outer join on the key. The oracle states
    the post-merge table closed-form (surviving keys left-joined to
    their final bump, plus the inserts)."""
    from oarphpy_spark.operators.upsert import apply_cdc

    snap = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    k = F.col("o_orderkey")

    def change(rows: DataFrame, seq: int, op: str, **overrides) -> DataFrame:
        cols = [
            (F.col(c) if c not in overrides else overrides[c]).alias(c)
            for c in snap.columns
        ]
        return rows.select(
            *cols, F.lit(seq).alias("seq"), F.lit(op).alias("op")
        )

    nul = F.lit(None)
    changes = (
        change(snap.filter(k % 5 == 0), 1, "U",
               price_cents=F.col("price_cents") + 1000)
        .unionAll(change(snap.filter(k % 35 == 0), 2, "U",
                         price_cents=F.col("price_cents") + 2000))
        .unionAll(change(snap.filter(k % 11 == 0), 3, "D",
                         o_custkey=nul.cast("long"),
                         o_orderstatus=nul.cast("string"),
                         price_cents=nul.cast("long")))
        .unionAll(change(snap.filter(k % 13 == 0), 1, "I",
                         o_orderkey=k + _DIFF_INSERT_OFFSET))
    )
    return apply_cdc(snap, changes, "o_orderkey", seq_col="seq", op_col="op")


@query(
    "q_compact_files",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)   AS n_rows,
           ROUND(SUM(l_quantity), 2)  AS sum_qty,
           true                       AS fewer_files
    FROM lineitem
    """,
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/compaction.py) under the
    oracle gate: fragment lineitem into 64 tiny files, compact to
    ~quarter-of-total target size with the shuffle-free coalesce path,
    and prove (a) content is untouched — the aggregate over the
    compacted copy must hash-match the raw table — and (b) the file
    count actually dropped (self-certified boolean the oracle states
    as literal true). Sizing comes from the directory listing only; no
    data is read to plan the rewrite."""
    import math

    from oarphpy_spark.operators.compaction import compact

    base = new_scratch_dir("compact")
    frag, comp = os.path.join(base, "frag"), os.path.join(base, "comp")
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(frag)
    )
    total = sum(os.path.getsize(f) for f in input_files(frag))
    stats = compact(spark, frag, comp, target_bytes=max(1, math.ceil(total / 4)))
    agg = spark.read.parquet(comp).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.lit(
            stats["files_after"] < stats["files_before"]
        ).alias("fewer_files"),
    )
    return hold_caches(agg, base)


_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "q_scd2_intervals",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
           strftime(lead(ts) OVER w2, '{_TS_FMT_DUCK}') AS valid_to,
           CASE WHEN lead(ts) OVER w2
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: compress a per-user event stream into
    validity intervals [valid_from, valid_to) — one row per *change* of
    event_type, with the open interval marked current. This is the
    standard dimension-history pattern (Kimball SCD2) built from two
    window passes: lag() finds change points, lead() closes each
    interval with the next change's timestamp. Both windows partition
    on user_id, so there is exactly ONE exchange (hash by user) and the
    per-user sort is reused by both window operators; state per key is
    one row of look-behind/ahead, never the full history in memory.
    Ties on ts break by event_id so the result is total-ordered and
    engine-independent. Timestamps leave as formatted strings so the
    cross-engine hash can't trip on timezone/precision rendering."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format(nxt, _TS_FMT_SPARK).alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@query(
    "q_outlier_mad",
    oracle="""
    WITH q AS (
      SELECT event_id, event_type, ROUND(value, 3) AS v FROM events
    ), med AS (
      SELECT event_type, ROUND(median(v), 6) AS med FROM q GROUP BY event_type
    ), mad AS (
      SELECT q.event_type,
             ROUND(median(ABS(q.v - med.med)), 6) AS mad
      FROM q JOIN med ON q.event_type = med.event_type
      GROUP BY q.event_type
    )
    SELECT q.event_id, q.event_type,
           ROUND((q.v - med.med) / (1.4826 * NULLIF(mad.mad, 0)), 4)
             AS robust_z,
           CASE WHEN ABS((q.v - med.med) / (1.4826 * NULLIF(mad.mad, 0)))
                  > 3.5
                THEN 1 ELSE 0 END AS is_outlier
    FROM q
    JOIN med ON q.event_type = med.event_type
    JOIN mad ON q.event_type = mad.event_type
    """,
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-group median/MAD z-scores
    (|z| > 3.5 flags, the Iglewicz-Hoaglin rule), which unlike
    mean/stddev cannot be dragged by the outliers themselves. Exact
    distributed medians are normally a scale trap (percentile buffers
    per-group values); here values are QUANTIZED first (round to 3 dp),
    which bounds percentile's value->count map by the VALUE RANGE
    (range x 1000 entries) instead of the row count — exact medians
    with O(range) memory at any number of rows. Group stats are a
    few rows, so both join-backs broadcast; the data table is scanned
    twice (once per median pass), the price of exactness — an
    approx_percentile single-pass is the swap-in when +-epsilon is
    acceptable. A zero MAD (constant-valued group) yields NULL z
    (guarded on both engines: when(mad != 0) here, NULLIF in the
    oracle) rather than Spark-NULL-vs-DuckDB-inf divergence."""
    events = table(spark, sf_dir, "events")
    q = events.select(
        "event_id", "event_type", F.round("value", 3).alias("v")
    )
    med = q.groupBy("event_type").agg(
        F.round(F.expr("percentile(v, 0.5)"), 6).alias("med")
    )
    mad = (
        q.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("percentile(abs(v - med), 0.5)"), 6
            ).alias("mad")
        )
    )
    z = F.when(
        F.col("mad") != 0,
        (F.col("v") - F.col("med")) / (F.lit(1.4826) * F.col("mad")),
    )
    return (
        q.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(z, 4).alias("robust_z"),
            F.when(F.abs(z) > 3.5, F.lit(1)).otherwise(F.lit(0)).alias(
                "is_outlier"
            ),
        )
    )


@query(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT c_custkey, c_mktsegment, c_name FROM customer
    ), pairs AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM c a JOIN c b
        ON a.c_mktsegment = b.c_mktsegment
       AND substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
    ), edges AS (
      SELECT ka AS s, kb AS d FROM pairs
      UNION
      SELECT kb AS s, ka AS d FROM pairs
    ), reach(node, comp) AS (
      SELECT c_custkey, c_custkey FROM c
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node
    ), cc AS (
      SELECT node AS c_custkey, MIN(comp) AS entity_id
      FROM reach GROUP BY node
    )
    SELECT c_custkey, entity_id,
           COUNT(*) OVER (PARTITION BY entity_id) AS entity_size,
           CASE WHEN c_custkey = entity_id THEN 1 ELSE 0 END
             AS is_canonical
    FROM cc
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocking → pairwise match →
    transitive clustering → survivorship. Candidate pairs come from
    the blocked fuzzy join (equi-join on (segment, 16-char name
    prefix), levenshtein <= 2 verify — bounded blocks, never
    all-pairs, see q_join_fuzzy); matches close transitively via the
    alternating large-star/small-star connected-components rounds
    (llm/graph.py — shuffle-bounded, the distributed-CC algorithm);
    the surviving canonical record per entity is the minimum key
    (is_canonical marks it). This is the full MDM/dedupe pipeline
    shape — the same three stages Dedupe.io/Zingg run — composed
    entirely from engine operators. The oracle restates the closure
    as a recursive CTE (fine at oracle scale; quadratic at corpus
    scale, which is why the engine iterates star rounds instead).
    Fixture note: TPC-H names are sequential, so near-key neighbors
    legitimately match the edit-distance rule — clusters are chains
    of adjacent keys sharing a block; deterministic in both engines."""
    from oarphpy_spark.llm.graph import connected_components

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    a = cust.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", 1, 16).alias("blk"),
        F.col("c_name").alias("name_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", 1, 16).alias("blk"),
        F.col("c_name").alias("name_b"),
    )
    pairs = (
        a.join(b, ["seg", "blk"])
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("name_a", "name_b") <= 2)
        .select("ka", "kb")
    )
    cc = connected_components(pairs, "ka", "kb")
    labeled = cust.select("c_custkey").join(
        cc, F.col("c_custkey") == F.col("node"), "left"
    ).select(
        "c_custkey",
        F.coalesce("component", "c_custkey").alias("entity_id"),
    )
    w = Window.partitionBy("entity_id")
    entities = labeled.select(
        "c_custkey",
        "entity_id",
        F.count("*").over(w).alias("entity_size"),
        F.when(F.col("c_custkey") == F.col("entity_id"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_canonical"),
    )
    return hold_caches(entities, cc)


@query(
    "q_sink_orc",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*)                     AS n_orders,
           ROUND(SUM(o_totalprice), 2)  AS sum_price
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderstatus
    """,
)
def q_sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + re-scan: write filtered orders as ORC (Spark's
    second columnar native format — same pushdown/pruning machinery as
    parquet via the vectorized OrcFileFormat), read it back, aggregate.
    Proves the engine round-trips through ORC losslessly — the oracle
    is the same aggregate over the raw table. Predicate applied BEFORE
    the write so the sink test also witnesses filter pushdown into the
    producing scan."""
    out = new_scratch_dir("sink_orc")
    (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .orc(out, compression="zlib")
    )
    agg = (
        spark.read.orc(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )
    return hold_caches(agg, out)


@query(
    "q_snapshot_time_travel",
    oracle="""
    WITH feed AS (
      SELECT o_custkey AS k, o_orderkey AS seq,
             CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderkey AS last_order, ROUND(o_totalprice, 2) AS last_total
      FROM orders
    ),
    v0 AS (
      SELECT k, last_order, last_total FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC)
                  AS rn
        FROM feed
        WHERE seq <= (SELECT MAX(o_orderkey) // 2 FROM orders)
      ) WHERE rn = 1 AND op = 'U'
    ),
    v1 AS (
      SELECT k, last_order, last_total FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC)
                  AS rn
        FROM feed
      ) WHERE rn = 1 AND op = 'U'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v0) AS n_keys_v0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS n_keys_v1,
           CAST(SUM(CASE WHEN v0.k IS NULL OR v1.k IS NULL
                          OR v0.last_order <> v1.last_order
                          OR v0.last_total <> v1.last_total
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
    FROM v0 FULL JOIN v1 ON v0.k = v1.k
    """,
)
def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT TIME TRAVEL over the copy-on-write upsert store: the
    orders CDC feed is applied in two generations (even-seq changes,
    then odd-seq), and BOTH versions are read back — gen=0 via
    ``read_generation`` (the Delta/Iceberg 'VERSION AS OF' read) and
    gen=1 via the CURRENT pointer — then diffed into one row:
    key counts per version and how many keys changed between them.
    The feed is split by sequence RANGE (not arbitrarily) because
    cross-batch CDC correctness requires monotone sequence numbers —
    a later batch always wins. The oracle restates each version as
    latest-wins over the corresponding feed prefix, so the
    generation store's versioning
    semantics (not just its final state) are value-hash-checked.
    Retention note: time travel reaches exactly ``keep_generations``
    back; reading a pruned generation raises rather than serving the
    wrong version."""
    from oarphpy_spark.streaming.upsert import (
        read_generation,
        read_snapshot,
        upsert_snapshot_sink,
    )

    with transient_scratch_dir("timetravel") as root:
        feed = table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderkey") % 97 == 0, "D")
            .otherwise("U").alias("op"),
            F.col("o_orderkey").alias("last_order"),
            F.round("o_totalprice", 2).alias("last_total"),
        )
        # Batches split by seq RANGE (first half, then the rest):
        # foreachBatch CDC assumes sequence numbers are monotone
        # ACROSS batches — a later batch's change wins uncondition-
        # ally — so a parity split would be an invalid feed.
        thr = feed.agg(
            (F.max("seq") / 2).cast("long").alias("t")
        ).collect()[0]["t"]
        sink = upsert_snapshot_sink(root, "k", keep_generations=2)
        sink(feed.filter(F.col("seq") <= thr), 0)
        sink(feed.filter(F.col("seq") > thr), 1)
        v0 = read_generation(spark, root, 0).alias("v0")
        v1 = read_snapshot(spark, root).alias("v1")
        joined = v0.join(v1, F.col("v0.k") == F.col("v1.k"), "full_outer")
        changed = F.when(
            F.col("v0.k").isNull()
            | F.col("v1.k").isNull()
            | (F.col("v0.last_order") != F.col("v1.last_order"))
            | (F.col("v0.last_total") != F.col("v1.last_total")),
            1,
        ).otherwise(0)
        return truncate_lineage(
            joined.agg(
                F.count(F.col("v0.k")).alias("n_keys_v0"),
                F.count(F.col("v1.k")).alias("n_keys_v1"),
                F.sum(changed).cast("long").alias("n_changed"),
            )
        )


@query(
    "q_dynamic_partition_overwrite",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_centi
    FROM events
    WHERE event_type <> 'click' OR event_id % 2 = 0
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse primitive for
    'recompute one day/type and swap it in without touching sibling
    partitions': write events partitioned by event_type, then
    overwrite in DYNAMIC mode with a feed containing only a filtered
    'click' slice. Under partitionOverwriteMode=dynamic (an option on
    that one write, so the session conf never flips) Spark deletes
    ONLY the partitions present in the incoming write (the default
    STATIC mode would truncate the whole table — the production
    data-loss footgun this query pins). The read-back aggregate
    proves non-click partitions survived byte-identical while click
    holds exactly the replacement rows (even event_ids). Integer
    counts and centi-sums only."""
    with transient_scratch_dir("dpo") as root:
        ev = table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        ev.write.mode("overwrite").partitionBy("event_type").parquet(root)
        # A per-write option, not the session conf: concurrent writers
        # on the session keep their own overwrite mode.
        (
            ev.where(
                (F.col("event_type") == "click")
                & (F.col("event_id") % 2 == 0)
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type")
            .parquet(root)
        )
        return truncate_lineage(
            spark.read.parquet(root)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("sum_centi"),
            )
            .orderBy("event_type")
        )


@query(
    "q_delete_vector_apply",
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             l_extendedprice, l_discount,
             l_orderkey % 16 AS file_id,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey % 16
               ORDER BY l_orderkey, l_linenumber
             ) - 1 AS pos
      FROM lineitem
    ), dv AS (
      SELECT file_id, pos FROM base
      WHERE CAST(('0x' || substring(
               md5('dv|' || CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR)), 1, 8))
            AS BIGINT) % 997 = 0
    )
    SELECT b.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           ROUND(SUM(b.l_extendedprice * (1 - b.l_discount)), 2)
             AS revenue
    FROM base b
    LEFT JOIN dv ON b.file_id = dv.file_id AND b.pos = dv.pos
    WHERE dv.pos IS NULL
    GROUP BY b.l_returnflag ORDER BY b.l_returnflag
    """,
)
def q_delete_vector_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read POSITION DELETES, the Iceberg v2 / Delta
    deletion-vector read path: a base scan carries (file_id, pos)
    row coordinates, a (typically tiny) delete-vector relation lists
    coordinates to suppress, and the read applies it as an ANTI-join
    before any aggregation — no rewrite of base files. Positions are
    assigned per-file by a deterministic in-file order (a per-file
    window, each file sorts independently — the same contract a real
    table format gets from physical row order); the demo delete
    vector derives from a salted md5 so both engines delete the same
    ~1/997 of rows — genuinely orders of magnitude smaller than the
    base, as real deletion vectors are. No forced broadcast hint:
    AQE sees the dv side's runtime size and picks broadcast when it
    fits autoBroadcastJoinThreshold (it does at every tested SF),
    and degrades to a shuffled anti-join instead of an OOM if a
    pathological workload ever grows the dv side."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
        (F.col("l_orderkey") % 16).alias("file_id"),
    ).withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("file_id").orderBy(
                "l_orderkey", "l_linenumber"
            )
        )
        - 1,
    )
    dv = base.filter(
        F.conv(
            F.substring(
                md5_str(
                    F.concat_ws(
                        "|",
                        F.lit("dv"),
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 997
        == 0
    ).select("file_id", "pos")
    live = base.join(dv, ["file_id", "pos"], "left_anti")
    return (
        live.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_live"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_bitmap_intersect",
    oracle="""
    WITH wa AS (
      SELECT c_custkey // 32 AS w,
             bit_or(1::BIGINT << CAST(c_custkey % 32 AS INTEGER)) AS bm
      FROM customer WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1
    ), wb AS (
      SELECT o_custkey // 32 AS w,
             bit_or(1::BIGINT << CAST(o_custkey % 32 AS INTEGER)) AS bm
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY 1
    ), m AS (
      SELECT COALESCE(wa.bm, 0) AS a, COALESCE(wb.bm, 0) AS b
      FROM wa FULL OUTER JOIN wb ON wa.w = wb.w
    )
    SELECT CAST(SUM(bit_count(a)) AS BIGINT) AS n_a,
           CAST(SUM(bit_count(b)) AS BIGINT) AS n_b,
           CAST(SUM(bit_count(a & b)) AS BIGINT) AS n_inter,
           CAST(SUM(bit_count(a | b)) AS BIGINT) AS n_union
    FROM m
    """,
)
def q_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra: two key sets (BUILDING-segment
    customers; customers with an 'F' order) are compressed into
    word-aligned bitmaps — 32 keys per int64 word via
    bit_or(1 << key%32) grouped on key/32 — and intersected/unioned
    with pure bitwise AND/OR + popcount, the way OLAP bitmap indexes
    (and roaring containers) answer set predicates without
    materializing either key list. One groupBy per side at 1/32nd
    the key cardinality, one equi-join on the word index, and the
    dedup is FREE (bit_or is idempotent — duplicate o_custkey rows
    set the same bit), which is why this beats COUNT(DISTINCT)
    joins on repeated keys at scale. All-integer output."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    wa = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy((F.col("c_custkey") / 32).cast("bigint").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(c_custkey % 32 AS INT)))"
            ).alias("bm_a")
        )
    )
    wb = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy((F.col("o_custkey") / 32).cast("bigint").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(o_custkey % 32 AS INT)))"
            ).alias("bm_b")
        )
    )
    m = (
        wa.join(wb, "w", "full_outer")
        .select(
            F.coalesce("bm_a", F.lit(0)).alias("a"),
            F.coalesce("bm_b", F.lit(0)).alias("b"),
        )
    )
    return m.agg(
        F.sum(F.bit_count("a")).cast("bigint").alias("n_a"),
        F.sum(F.bit_count("b")).cast("bigint").alias("n_b"),
        F.sum(F.bit_count(F.expr("a & b"))).cast("bigint").alias("n_inter"),
        F.sum(F.bit_count(F.expr("a | b"))).cast("bigint").alias("n_union"),
    )


@query(
    "q_table_checksum",
    oracle="""
    WITH h AS (
      SELECT 'orders' AS tbl,
             md5('ck|' || CAST(o_orderkey AS VARCHAR) || '|'
                 || CAST(o_custkey AS VARCHAR) || '|'
                 || CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR)) AS hx
      FROM orders
      UNION ALL
      SELECT 'lineitem',
             md5('ck|' || CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR) || '|'
                 || CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                         AS VARCHAR))
      FROM lineitem
    )
    SELECT tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substring(hx, 1, 7)) AS BIGINT))
                AS BIGINT) AS sum28,
           CAST(bit_xor(CAST(('0x' || substring(hx, 18, 15)) AS BIGINT))
                AS BIGINT) AS xor60
    FROM h GROUP BY tbl ORDER BY tbl
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints — the replication /
    migration integrity check: every row hashes to md5 over its key
    columns + integer-cents amounts (floats enter only through an
    explicit integer quantization, so no formatting divergence), and
    the table digest is a pair of commutative folds — a 28-bit-slice
    SUM (sized so even billions of rows stay in int64) and a
    60-bit-slice XOR. Both are partial-aggregable and
    partitioning-insensitive, so two 100 TB replicas compare with one
    scan each and a 2-row exchange; any single-row difference flips
    the XOR channel with probability 1 - 2^-60. Companion to
    q_table_diff (which localizes differences; this certifies
    equality cheaply)."""
    def hx(df, tbl, cols):
        return df.select(
            F.lit(tbl).alias("tbl"),
            md5_str(F.concat_ws("|", F.lit("ck"), *cols)).alias("hx"),
        )

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    h = hx(
        orders,
        "orders",
        [
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .cast("string"),
        ],
    ).unionAll(
        hx(
            li,
            "lineitem",
            [
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.round(F.col("l_extendedprice") * 100)
                .cast("bigint")
                .cast("string"),
            ],
        )
    )
    sl = lambda a, b: F.conv(F.substring("hx", a, b), 16, 10).cast(  # noqa: E731
        "bigint"
    )
    return (
        h.groupBy("tbl")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(sl(1, 7)).alias("sum28"),
            F.expr(
                "bit_xor(CAST(conv(substring(hx, 18, 15), 16, 10)"
                " AS BIGINT))"
            ).alias("xor60"),
        )
        .orderBy("tbl")
    )
