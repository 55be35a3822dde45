"""Similarity search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the corpus; per-corpus-row expression math in
  codegen; window top-k. The right baseline, and the verifier for the
  approximate path. Never crossJoin corpus x corpus.

* ``hyperplane_lsh_topk`` — the scale path: random-hyperplane (SimHash
  for vectors) bucketing. Each vector gets an h-bit signature; search
  compares only within the query's bucket. Hyperplane signs are derived
  from md5 nibbles keyed by (plane, dim) — deterministic, seedable, and
  engine-portable, so even the approximate path is oracle-checkable.
  At 100 TB: signatures are one scan; buckets are an equi-join key;
  multi-probe (flipping low-confidence bits) trades recall for fanout.

* ``cosine_near_dup_pairs`` — embedding near-duplicate detection within
  blocks (labels at test scale, LSH buckets at 100 TB).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oarphpy_spark.functions.vectors import dot, dot_lit, dot_sql, l2_norm, l2_norm_sql
from oarphpy_spark.functions.text import quote_ident
from oarphpy_spark.util.partitioning import spread


def _paired_cosine() -> "F.Column":
    """cos(qv, cv) given per-side precomputed norms ``qn``/``cn``.

    Bit-identical to ``cosine(qv, cv)`` = dot/(sqrt(dot_q)*sqrt(dot_c))
    — same expressions, same operand order — but the norms are computed
    once per ROW before the join instead of once per candidate PAIR
    after it: at fanout f that deletes 2f of every 3 dot products, the
    dominant cost of the scoring stage.

    ``try_divide``, not ``/``: a zero vector has no defined cosine, and
    under ANSI mode (Spark 4 default) a plain divide would kill the
    whole job on one degenerate row. NULL scores are dropped before
    ranking (see ``_topk_by_cos``)."""
    return F.try_divide(dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn"))


# Rank each query's scored candidates by (cos DESC, neighbor_id) and
# keep the first ``{k}``; NULL scores (zero vectors, see
# _paired_cosine) are dropped before ranking.
_TOPK_SQL = """
SELECT {cols} FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS __rk
  FROM {{scored}} WHERE cos IS NOT NULL
) WHERE __rk <= {k}
"""


def _topk_by_cos(scored: DataFrame, k: int) -> DataFrame:
    """Top-``k`` rows of ``scored`` per ``query_id``, with all of its
    columns: one statement over ``scored`` bound as its argument. Every
    search in this module ranks through here."""
    cols = ", ".join(quote_ident(c) for c in scored.columns)
    text = _TOPK_SQL.format(cols=cols, k=int(k))
    return scored.sparkSession.sql(text, scored=scored)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: query_id, neighbor_id, cos (rounded 6dp; ranked on the
    rounded value with id tiebreak so results are total-ordered)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    # spread(): a small corpus parquet scans as ONE split, serializing
    # the |corpus| x |queries| dot products onto a single task; the
    # guard repartitions iff the scan is narrower than the cluster
    # (no-op on real many-split inputs — guide 2.5 "input skew").
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_paired_cosine(), 6).alias("cos"),
        )
    )
    return _topk_by_cos(scored, k)


def hyperplane_signs(
    num_planes: int, dim: int, seed: str = "lsh"
) -> list[list[float]]:
    """+/-1 hyperplane sign matrix, sign[p][i-1] = +1 iff the first hex
    nibble of md5('{seed}|{p}|{i}') >= '8' (i is 1-based).

    Computed ONCE on the driver (num_planes x dim Python md5 calls) and
    embedded as plan literals — per-row signature hashing in the
    executors would cost num_planes x dim md5 calls per corpus row.
    The derivation is identical to the engine-portable oracle form, so
    buckets stay bit-equal across Spark / DuckDB / Python."""
    return [
        [
            1.0
            if hashlib.md5(f"{seed}|{p}|{i}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for i in range(1, dim + 1)
        ]
        for p in range(num_planes)
    ]


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality via a LIMIT-1 scan (metadata-scale job)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not row or row[0]["d"] is None or row[0]["d"] <= 0:
        raise ValueError(f"cannot infer vector dim from column {vec_col!r}")
    return int(row[0]["d"])


def hyperplane_signature(
    vec_sql: str,
    num_planes: int = 4,
    seed: str = "lsh",
    dim: int | None = None,
    signs: list[list[float]] | None = None,
) -> "F.Column":
    """h-bit signature: bit p = (v . r_p) > 0, where r_p is a +/-1
    hyperplane literal from :func:`hyperplane_signs`. Pure float
    multiply-adds — no per-row hashing. ``vec_sql`` is the vector
    column as SQL text; each plane is one expression string (per-element
    ``F.lit`` would cost a py4j round-trip per dimension)."""
    if signs is None:
        if dim is None:
            raise ValueError("hyperplane_signature needs dim= or signs=")
        signs = hyperplane_signs(num_planes, dim, seed)
    sig = F.lit(0)
    for p, row in enumerate(signs):
        proj = dot_lit(vec_sql, row)
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(0)
    return sig


def hyperplane_signature_udf(signs: list[list[float]]):
    """Vectorized (Arrow/numpy) form of :func:`hyperplane_signature`:
    one matmul per batch instead of planes x dim interpreted
    higher-order-function steps per row (HOFs do not enter whole-stage
    codegen, and measured ~0.4 us per element — the dominant cost of
    the LSH stage). numpy's pairwise summation can differ from the
    sequential fold by ~1e-13 relative, which flips a bucket bit only
    when |projection| is at float-noise scale — verified bucket-
    identical on every test scale factor."""
    from pyspark.sql.functions import pandas_udf

    S = np.asarray(signs, dtype=np.float64)  # (P, D)
    weights = (1 << np.arange(S.shape[0], dtype=np.int64))  # bit p -> 2^p

    @pandas_udf("int")
    def signature(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)  # (N, D)
        bits = (M @ S.T) > 0.0  # (N, P)
        return pd.Series((bits @ weights).astype(np.int32))

    # Value-deterministic, but marked non-deterministic so the
    # optimizer cannot duplicate the evaluation when it pushes the
    # bucket-join's inferred isnotnull(signature(...)) below the
    # projection (guide 4.4: the r15 before-plan carried TWO
    # ArrowEvalPython nodes per side — every corpus row paid the
    # Arrow transfer + matmul twice).
    return signature.asNondeterministic()


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_planes: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.
    Same output shape as ``brute_force_topk`` (recall < 1 by design)."""
    signs = hyperplane_signs(num_planes, dim or _vec_dim(corpus, vec_col))
    signature = hyperplane_signature_udf(signs)
    # spread(): see brute_force_topk — the corpus-side signature UDF
    # must not run on a single scan split.
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
        signature(vec_col).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
        signature(vec_col).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_paired_cosine(), 6).alias("cos"),
        )
    )
    return _topk_by_cos(scored, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    block_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
) -> DataFrame:
    """Within-block embedding near-duplicates: pairs with cosine >=
    threshold. Blocks bound the quadratic term (LSH buckets at scale)."""
    # spread(): see brute_force_topk — the within-block pair expansion
    # must not run on a single scan split.
    docs = spread(df).select(
        F.col(id_col).alias("doc"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        # norm per row, not per pair (see _paired_cosine)
        l2_norm(F.col(vec_col)).alias("nv"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(b, F.col("a.block") == F.col("b.block"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("vec_a"),
            F.col("b.doc").alias("vec_b"),
            F.round(
                F.try_divide(
                    dot(F.col("a.v"), F.col("b.v")),
                    F.col("a.nv") * F.col("b.nv"),
                ),
                6,
            ).alias("cos"),
        )
        # NULL-safe: zero vectors have no defined cosine and the >=
        # filter drops their NULL scores
        .filter(F.col("cos") >= threshold)
    )


def two_stage_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    candidates: int = 32,
    self_exclude: bool = True,
) -> DataFrame:
    """Two-stage retrieval: int8 coarse scan -> exact float rerank.

    The production ANN serving shape (FAISS SQ8, ScaNN's quantized
    tier): stage 1 scans the 4x-smaller int8 corpus and keeps
    ``candidates`` ids per query by integer dot product; stage 2
    fetches full-precision vectors for ONLY those survivors and
    reranks by exact cosine to top-``k``. At 100 TB the coarse scan is
    the bandwidth-bound pass (int8 columns, integer SIMD) and the
    rerank is a point-lookup tier; here the rerank re-reads the
    corpus scan pruned by a broadcast semi-join on the ~|Q|*C
    surviving ids — the same I/O asymmetry, expressed declaratively.

    Everything is oracle-exact: quantization is the established
    ``quantize_int8`` idiom (round(127*x/||v||), green cross-engine),
    and integer dot products of int8 components (|q_i| <= 127) at
    embedding dims << 2^40 are exact in any engine's arithmetic, so
    even the APPROXIMATE stage carries no float tolerance. Zero
    vectors are excluded on both sides (no defined cosine).

    ``self_exclude=True`` (the default) drops pairs whose corpus id
    equals the query id — correct when queries are drawn FROM the
    corpus (the registered q_sim_rerank_two_stage shape, where a
    vector is trivially its own nearest neighbor). Pass
    ``self_exclude=False`` when the query and corpus id spaces are
    independent: there a coincidental id collision is a legitimate
    neighbor, not an identity.

    Output: query_id, neighbor_id, coarse_dot (int64), cos."""
    from oarphpy_spark.llm.embeddings import quantize_int8

    nz_q = queries.filter(l2_norm(F.col(vec_col)) > 0)
    # spread(): see brute_force_topk — both corpus passes (coarse int8
    # scan and the rerank re-read) are compute-heavy per row.
    nz_c = spread(corpus).filter(l2_norm(F.col(vec_col)) > 0)
    qq = quantize_int8(nz_q, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )
    cq = quantize_int8(nz_c, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q").alias("cq")
    )
    # int8 x int8 dot: products <= 127^2, sums exact far beyond any
    # embedding dim — kept in bigint so the coarse score is integer.
    idot = F.aggregate(
        F.zip_with(
            F.col("cq"),
            F.col("qq"),
            lambda x, y: (x * y).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    coarse = cq.crossJoin(F.broadcast(qq))
    if self_exclude:
        coarse = coarse.filter(F.col("neighbor_id") != F.col("query_id"))
    coarse = coarse.select(
        "query_id", "neighbor_id", idot.alias("coarse_dot")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_dot").desc(), "neighbor_id"
    )
    cand = (
        coarse.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= candidates)
        .drop("crk")
    )
    qf = nz_q.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    cf = nz_c.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    # Survivors are ~|Q|*candidates rows: broadcast them so the float
    # fetch is a semi-join-pruned corpus scan, never a shuffle.
    rerank = (
        cf.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "coarse_dot",
            F.round(_paired_cosine(), 6).alias("cos"),
        )
    )
    return _topk_by_cos(rerank, k)


def _ivf_scored_sql(id_col: str, vec_col: str, probe: bool) -> str:
    """The IVF cell join and cosine over the two assigned sides ``{c}``
    and ``{q}``, each its input plus the ``__cell`` (or, when
    ``probe``, the query side's ``__cells`` array) its projection
    added. The query side is broadcast, norms are taken once per row
    before the join (see _paired_cosine), and the score is the same
    rounded ``try_divide`` cosine."""
    idq, vq = quote_ident(id_col), quote_ident(vec_col)
    q_from = "{q} LATERAL VIEW explode(__cells) p AS __cell" if probe else "{q}"
    return f"""
WITH c AS (
  SELECT {idq} AS neighbor_id, {vq} AS cv, {l2_norm_sql(vq)} AS cn, __cell AS cell
  FROM {{c}}
), q AS (
  SELECT {idq} AS query_id, {vq} AS qv, {l2_norm_sql(vq)} AS qn, __cell AS cell
  FROM {q_from}
)
SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
       round(try_divide({dot_sql("qv", "cv")}, qn * cn), 6) AS cos
FROM c JOIN q ON c.cell = q.cell
WHERE neighbor_id != query_id
"""


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 8,
    centroids: DataFrame | list[tuple[int, list[float]]] | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition vectors into
    cells by nearest centroid; search only the query's cell.

    ``centroids`` defaults to the first ``n_cells`` corpus vectors by id
    — a deterministic stand-in for k-means training that keeps the
    whole operator oracle-checkable. In production: train KMeans
    offline; everything else is identical. Assignment uses the expanded
    L2 form ||a||^2 - 2<a,b> + ||b||^2 so both engines evaluate the
    same sequential dot products.

    The centroid table is tiny by construction (``n_cells`` rows), so
    it is collected once on the driver and closed over by a vectorized
    Arrow ``pandas_udf``: assignment is one numpy matmul + argmin per
    batch — NO join, NO shuffle, no per-element interpreted expression
    steps. Distances never appear in the output (only the winning cell
    id does), and rounding uses explicit HALF_UP to match ``round()``
    in both engines; ties break to the lowest cell id exactly like the
    SQL oracle's (dist, cell) ordering.

    At 100 TB: assignment is batch-local math inside the corpus scan;
    cells become an equi-join key exactly like the LSH bucket; recall
    tuned by ``n_probe`` — each query searches its ``n_probe`` nearest
    cells (the corpus side always lives in exactly one cell, so the
    candidate fanout grows only with the tiny query side).

    The cell join and cosine are one ``spark.sql`` statement over the
    two assigned sides, bound as its arguments, and the top-k ranking
    one more; the UDF runs in one projection per side ahead of them.
    """
    from pyspark.sql.functions import pandas_udf

    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < n_cells)
    if isinstance(centroids, DataFrame):
        cent_rows = centroids.select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("cv")
        ).collect()
        centroids = [(r["cell"], r["cv"]) for r in cent_rows]
    cents = sorted(
        (int(cell), [float(x) for x in vec]) for cell, vec in centroids
    )

    cell_ids = np.array([cell for cell, _ in cents], dtype=np.int64)
    cmat = np.array([vec for _, vec in cents], dtype=np.float64)  # (C, D)
    # Left-to-right Python sum == the engines' sequential list fold,
    # so the centroid self-dot literals are bit-equal to dot(c, c).
    cnorms = []
    for _, cvec in cents:
        cc = 0.0
        for x in cvec:
            cc += x * x
        cnorms.append(cc)
    cnorms = np.array(cnorms)

    def _dists(v: pd.Series) -> "np.ndarray":
        from oarphpy_spark.functions.vectors_np import (
            pairwise_sq_dists,
            round_half_up,
        )

        M = np.stack(v.to_numpy()).astype(np.float64)  # (N, D)
        # cnorms hold the oracle's sequential-fold self-dots; HALF_UP
        # at 6dp makes tie semantics match the SQL oracle.
        return round_half_up(pairwise_sq_dists(M, cmat, c_sq=cnorms))

    @pandas_udf("int")
    def assign_cell(v: pd.Series) -> pd.Series:
        # argmin returns the FIRST min -> lowest cell id on ties
        # (cents sorted ascending) == the oracle's (dist, cell) order.
        return pd.Series(cell_ids[np.argmin(_dists(v), axis=1)].astype(np.int32))

    @pandas_udf("array<int>")
    def assign_probe_cells(v: pd.Series) -> pd.Series:
        # stable sort keeps ascending cell order on 6dp-ties, matching
        # the oracle's ORDER BY (dist, cell) ... rn <= n_probe
        order = np.argsort(_dists(v), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([cell_ids[row].astype("int32").tolist() for row in order])

    # Same guide-4.4 de-duplication as hyperplane_signature_udf: both
    # assigners are value-deterministic, but without the marker the
    # cell-join's inferred isnotnull pushes below the projection and
    # re-evaluates the UDF (two ArrowEvalPython per side, r15 plan).
    assign_cell = assign_cell.asNondeterministic()
    assign_probe_cells = assign_probe_cells.asNondeterministic()

    # One projection per side applies the UDF, and the statement reads
    # its output. spread(): see brute_force_topk — the corpus-side
    # cell-assignment UDF must not run on a single scan split.
    c = spread(corpus).withColumn("__cell", assign_cell(vec_col))
    if n_probe <= 1:
        q = queries.withColumn("__cell", assign_cell(vec_col))
    else:
        # probe cells are pairwise distinct per query and each corpus
        # row has exactly one cell, so the explode join cannot emit a
        # (query, neighbor) pair twice — no dedup shuffle needed. The
        # explode reads the bound projection's output: a generator
        # cannot take the (non-deterministic) UDF directly, and the
        # split pins a single UDF evaluation before the explode.
        q = queries.withColumn("__cells", assign_probe_cells(vec_col))
    # The ranking stays _topk_by_cos's own statement over the scored
    # pairs: every search here ranks through it, and perfbench's
    # tracer counts scored candidates per result there.
    text = _ivf_scored_sql(id_col, vec_col, probe=n_probe > 1)
    return _topk_by_cos(corpus.sparkSession.sql(text, c=c, q=q), k)


def hyperplane_lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_planes: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe LSH: each query searches its own bucket plus every
    bucket at Hamming distance 1 (one hyperplane's vote flipped) —
    recall rises steeply for a (planes+1)x candidate fanout, with no
    extra passes over the corpus. The standard recall knob when adding
    hash tables is too expensive."""
    signs = hyperplane_signs(num_planes, dim or _vec_dim(corpus, vec_col))
    signature = hyperplane_signature_udf(signs)
    # spread(): see brute_force_topk.
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
        signature(vec_col).alias("bucket"),
    )
    q_sig = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
        signature(vec_col).alias("bucket"),
    )
    probes = q_sig.select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
            )
        ).alias("bucket"),
    )
    # No distinct needed: a neighbor has exactly ONE bucket and the
    # probe values (bucket, bucket^1, ..., bucket^2^(p-1)) are all
    # distinct per query, so each (query, neighbor) pair matches at
    # most one probe row — a dedup here would add a full shuffle.
    scored = (
        c.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_paired_cosine(), 6).alias("cos"),
        )
    )
    return _topk_by_cos(scored, k)
