"""Scalar function families (SURVEY.md §2.B(h),(j)).

All JVM-side `pyspark.sql.functions` except the declared pandas-UDF
query, which demonstrates the Arrow-vectorized Python escape hatch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from oarphpy_spark.registry import query
from oarphpy_spark.tables import bound_sql, table


@query(
    "q_fn_string",
    oracle="""
    SELECT doc_id,
           upper(substring(text, 1, 12)) AS head,
           length(text) AS n_chars_computed,
           len(string_split(text, ' ')) AS n_words,
           regexp_extract(text, '(spark|data)', 1) AS first_kw,
           concat_ws('/', lang, source) AS lang_source
    FROM documents
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (concat/substr/upper/trim/lpad/regexp)
    — all JVM codegen expressions, no Python in the loop."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head"),
        F.length("text").cast("long").alias("n_chars_computed"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_words"),
        F.regexp_extract("text", "(spark|data)", 1).alias("first_kw"),
        F.concat_ws("/", "lang", "source").alias("lang_source"),
    )


@query(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)  AS o_year,
           month(o_orderdate) AS o_month,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0
    FROM orders
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery: trunc, extract, datediff, add
    months, day-of-week arithmetic on order dates."""
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_epoch0"
        ),
    )


@query(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           ROUND(sqrt(l_extendedprice), 4)   AS sqrt_price,
           ROUND(ln(l_extendedprice + 1), 4) AS ln_price,
           ROUND(pow(l_quantity, 2), 4)      AS qty_sq,
           ROUND(abs(l_discount - 0.05), 4)  AS disc_dev,
           CAST(ceil(l_tax * 100) AS BIGINT)  AS tax_pct_ceil,
           CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor
    FROM lineitem
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery: abs/ceil/floor/round/pmod/power on
    integer-safe inputs so both engines agree bitwise."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("ln_price"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
    )


@query(
    "q_fn_array",
    oracle="""
    SELECT vec_id,
           len(embedding) AS n_dims,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0,
           ROUND(list_sum(list_transform(embedding[1:8],
                                         x -> CAST(x AS DOUBLE))), 6) AS sum8,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_e
    FROM embeddings
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function battery: split, slice, array_contains, sort,
    size over rebuilt token arrays."""
    emb = table(spark, sf_dir, "embeddings")
    sum8 = F.aggregate(
        F.slice("embedding", 1, 8),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
        F.round(sum8, 6).alias("sum8"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_e"),
    )


@query(
    "q_fn_map",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON props into a map column, then element_at — map
    family exercised end-to-end with a scalar (hashable) output."""
    events = table(spark, sf_dir, "events")
    props_map = F.from_json("props", "map<string,bigint>")
    return events.select(
        "event_id", F.element_at(props_map, "k").alias("k_val")
    )


@query(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN 1 ELSE 0 END AS has_k
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions: get_json_object paths into the event props
    column, the schema-on-read escape hatch."""
    events = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.alias("k_str"),
        F.when(k.isNotNull(), 1).otherwise(0).alias("has_k"),
    )


@query(
    "q_fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256
    FROM customer
    """,
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine analog of the reference's stable_hash (pickle+md5,
    oarphpy/util/misc.py:89-122) — here content hashing stays JVM-side."""
    cust = table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
        F.sha2(F.col("c_name").cast("binary"), 256).alias("name_sha256"),
    )


@query(
    "q_pandas_udf_norm",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
)
def q_pandas_udf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF — the sanctioned Python escape hatch
    (never row-at-a-time `F.udf`). Batches arrive as pandas Series of
    numpy arrays; numpy does the math per batch."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def l2_norm(v: pd.Series) -> pd.Series:
        return v.map(
            lambda arr: float(np.sqrt(np.sum(np.asarray(arr, dtype=np.float64) ** 2)))
        )

    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm("embedding"), 6).alias("l2_norm"))


@query(
    "q_grouped_apply_zscore",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           ROUND((c_acctbal - AVG(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_pop(c_acctbal) OVER (PARTITION BY c_mktsegment),
                 4) AS zscore
    FROM customer
    """,
)
def q_grouped_apply_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` with a BOUNDED group key. Naively
    grouping by ``c_mktsegment`` (5 values) would materialize ~1/5 of
    the table as one pandas DataFrame in one executor — an OOM by
    construction at scale. Instead, two passes:

    1. segment mean/stddev via a plain partial-aggregable ``groupBy``
       (5 output rows), broadcast-joined back onto the table;
    2. ``applyInPandas`` on the SALTED key ``(c_mktsegment,
       c_custkey % SALT)`` — max group size is O(rows / (5·SALT)),
       and SALT is DERIVED from the table's parquet-footer row count
       (util/scale.py, floor 16) so the bound actually tightens as
       the data grows; no single group ever exceeds executor memory.
       Each group already carries its segment stats as columns, so
       the pandas fn is pure per-row math (the shape real users need
       for model scoring / scipy fits, where per-group logic is NOT
       window-expressible).

    The declared semantics stay window-expressible on purpose — that
    is what lets a SQL oracle certify the grouped-map transport
    (group integrity, column mapping, dtype fidelity)."""
    import os as _os

    import numpy as np

    from oarphpy_spark.util.scale import derive_subkey_count, parquet_row_count

    SALT = derive_subkey_count(
        parquet_row_count(_os.path.join(sf_dir, "customer.parquet")),
        n_groups=5,
        floor=16,
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["c_acctbal"].to_numpy(dtype=np.float64)
        mean = pdf["seg_mean"].to_numpy(dtype=np.float64)
        std = pdf["seg_std"].to_numpy(dtype=np.float64)
        z = np.where(std > 0, (v - mean) / np.where(std > 0, std, 1.0), 0.0)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "zscore": np.round(z, 4),
            }
        )

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    stats = cust.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("seg_mean"),
        F.stddev_pop("c_acctbal").alias("seg_std"),
    )
    enriched = cust.join(F.broadcast(stats), "c_mktsegment").withColumn(
        "salt", (F.col("c_custkey") % SALT).cast("int")
    )
    return enriched.groupBy("c_mktsegment", "salt").applyInPandas(
        zscore, "c_custkey long, c_mktsegment string, zscore double"
    )


@query(
    "q_explode_ordinality",
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS val
    FROM embeddings
    WHERE vec_id % 20 = 0
    """,
)
def q_explode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``posexplode``: array → (position, element) rows with the
    ordinal preserved — the lateral-unnest-WITH-ORDINALITY of SQL
    engines. Runs inside whole-stage codegen (Generate node), no
    shuffle; the vec_id filter pushes to the parquet scan before the
    row expansion, so the explode multiplies only surviving rows —
    the right order of operations at any scale."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 20 == 0)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("v").cast("double"), 6).alias("val"),
    )


@query(
    "q_min_max_by",
    oracle="""
    SELECT o_custkey,
           arg_min(o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS HUGEINT)
                   * 18446744073709551616 + o_orderkey) AS cheapest_order,
           arg_max(o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS HUGEINT)
                   * 18446744073709551616 + o_orderkey) AS priciest_order,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``min_by``/``max_by``: argmin/argmax as a single partial-
    aggregable pass — the shuffle-light replacement for the
    window-rank-then-filter idiom when only the extreme row's key is
    needed. Ties on price are broken deterministically by ordering on
    the STRUCT (price_cents, o_orderkey) — lexicographic struct
    comparison is overflow-free at any scale factor (a previous int64
    fold of price×1e9+orderkey silently corrupted ordering once
    orderkeys crossed 1e9, around SF≈42). The oracle states the same
    total order as a HUGEINT (int128) fold: price_cents·2^64 +
    orderkey, exactly the struct's lexicographic order since both
    fields are non-negative and orderkey < 2^64."""
    orders = table(spark, sf_dir, "orders")
    ordv = F.struct(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.col("o_orderkey").alias("o_orderkey"),
    )
    return orders.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", ordv).alias("cheapest_order"),
        F.max_by("o_orderkey", ordv).alias("priciest_order"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]*er')) AS BIGINT)
               AS n_matches,
           array_to_string(regexp_extract_all(text, '[a-z]*er'), ',')
               AS matches
    FROM documents
    WHERE len(regexp_extract_all(text, '[a-z]*er')) > 0
    """,
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``regexp_extract_all``: every match per row, order preserved —
    scan-local, codegen'd JVM regex (no Python). Joined to a string
    for the oracle hash so array-representation differences between
    engines can't mask value differences."""
    docs = table(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit("[a-z]*er"), 0)
    return (
        docs.select("doc_id", matches.alias("m"))
        .filter(F.size("m") > 0)
        .select(
            "doc_id",
            F.size("m").cast("long").alias("n_matches"),
            F.array_join("m", ",").alias("matches"),
        )
    )


@query(
    "q_cogroup_click_purchase",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, MIN(ts) AS first_p, CAST(COUNT(*) AS BIGINT) AS n_p
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    ca AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_c FROM c GROUP BY user_id
    ),
    b AS (
      SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM c JOIN p ON p.user_id = c.user_id
      WHERE c.ts < p.first_p GROUP BY c.user_id
    )
    SELECT COALESCE(ca.user_id, p.user_id) AS user_id,
           COALESCE(ca.n_c, 0) AS n_clicks,
           COALESCE(p.n_p, 0) AS n_purchases,
           COALESCE(b.n_before, 0) AS clicks_before_first_purchase
    FROM ca FULL JOIN p ON p.user_id = ca.user_id
    LEFT JOIN b ON b.user_id = COALESCE(ca.user_id, p.user_id)
    ORDER BY user_id
    """,
)
def q_cogroup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: the click stream and the purchase
    stream are grouped on user_id INDEPENDENTLY and each user's two
    pandas frames arrive together in one Arrow-batched callable —
    Spark's primitive for 'align two keyed datasets and run custom
    per-key Python' without first materializing a join (the two
    sides shuffle once each on the key; keys present on either side
    still produce a row). The demo statistic — clicks strictly
    before the user's first purchase — restates relationally for
    the oracle, but the surface is the point: per-key model scoring
    against per-key features, custom as-of alignments, per-entity
    reconciliation all land on this exact API shape. Integer counts
    only, so the Python path introduces no float drift."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )

    def merge(key: tuple, c: pd.DataFrame, p: pd.DataFrame) -> pd.DataFrame:
        n_c, n_p = len(c), len(p)
        before = int((c["ts"] < p["ts"].min()).sum()) if n_p and n_c else 0
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [n_c],
                "n_purchases": [n_p],
                "clicks_before_first_purchase": [before],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purch.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id bigint, n_clicks bigint, n_purchases bigint, "
            "clicks_before_first_purchase bigint",
        )
        .orderBy("user_id")
    )


@query(
    "q_fn_url",
    oracle="""
    WITH u AS (
      SELECT 'https://' || source || '.example.org/' || lang ||
             '/doc-' || doc_id || '?sz=' || n_chars || '&v=2' AS url,
             n_chars
      FROM documents
    )
    SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(regexp_extract(url, '[?&]sz=([0-9]+)', 1)
                         AS BIGINT)) AS BIGINT) AS sum_sz,
           CAST(MAX(LENGTH(regexp_extract(
               url, 'https://[^/]+(/[^?]*)', 1))) AS BIGINT)
             AS max_path_len
    FROM u
    GROUP BY 1 ORDER BY 1
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with Spark's JVM-side ``parse_url`` (HOST /
    PATH / a single QUERY parameter) over deterministically
    constructed document URLs, rolled up per host. parse_url is the
    idiomatic weblog primitive — one codegen'd expression, no Python,
    no regex backtracking in the hot path; the DuckDB oracle restates
    the same extraction with anchored regexes (DuckDB has no
    parse_url). Integer aggregates only."""
    docs = table(spark, sf_dir, "documents")
    u = docs.select(
        F.concat(
            F.lit("https://"),
            "source",
            F.lit(".example.org/"),
            "lang",
            F.lit("/doc-"),
            "doc_id",
            F.lit("?sz="),
            "n_chars",
            F.lit("&v=2"),
        ).alias("url")
    )
    return (
        u.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY"), F.lit("sz"))
            .cast("bigint")
            .alias("sz"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n"),
            F.sum("sz").alias("sum_sz"),
            F.max(F.length("path")).cast("bigint").alias("max_path_len"),
        )
        .orderBy("host")
    )


@query(
    "q_fn_listagg",
    oracle="""
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           string_agg(c_mktsegment, '|' ORDER BY c_mktsegment)
             AS segments
    FROM (
      SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    )
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q_fn_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's ANSI LISTAGG ... WITHIN
    GROUP (ORDER BY ...) vs DuckDB's ordered string_agg: the
    deterministic-concatenation contract (an ORDER-less listagg is a
    nondeterminism footgun — row order varies per shuffle) that
    makes a concatenated column value-hashable at all. Applied to
    the distinct (nation, segment) pairs so the aggregate input is
    bounded; the WITHIN GROUP sort is per-key over <= 5 rows."""
    return bound_sql(
        spark,
        sf_dir,
        """
        SELECT c_nationkey AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               listagg(c_mktsegment, '|')
                 WITHIN GROUP (ORDER BY c_mktsegment) AS segments
        FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM {customer})
        GROUP BY c_nationkey ORDER BY nationkey
        """,
    )
