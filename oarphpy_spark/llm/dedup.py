"""Deduplication operators for large-scale corpus curation.

All pure DataFrame transforms — nothing collects to the driver — so
each scales to the 100 TB corpus target:

* ``exact_dedup`` — content-hash groupBy; one shuffle on a 32-byte key.
* ``minhash_signatures`` / ``minhash_candidate_pairs`` — MinHash + LSH
  banding: shingle -> k minhashes -> b bands -> equi-join on
  (band, band_hash). The join is on short hash keys (never on text),
  and candidate verification happens only within buckets — the
  standard way to avoid the O(n^2) crossJoin at scale. Skewed buckets
  (boilerplate shingles) should be salted or capped at 100 TB;
  ``max_bucket`` provides the cap.
* ``simhash16`` — 16-bit SimHash fingerprints: near-dup clusters share
  a fingerprint; Hamming-neighbor lookup = 16 more equi-joins.
  Computed per document in an Arrow-vectorized batch (integer-exact,
  shuffle-free) rather than explode+aggregate — see its docstring.
* ``ngram_jaccard_pairs`` — exact n-gram Jaccard verification over
  candidate pairs (or blocked pairs at test scale).

Hashing is md5-hex (portable; see functions.text) so every operator is
oracle-checkable; swap ``F.xxhash64`` in for raw throughput.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oarphpy_spark.functions.text import md5_str, norm_tokens, shingles
from oarphpy_spark.util.checkpoints import (
    hold_caches,
    release_cached,  # noqa: F401 — re-exported for existing callers
)
from oarphpy_spark.util.partitioning import spread


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One representative (min id) per distinct normalized content.
    Output: fingerprint, doc_id (representative), n_copies."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    return (
        df.select(md5_str(norm).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("doc_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: minhash_j = min over shingles of the
    j-th 4-hex-char slice of md5(shingle). md5 bits are independent, so
    disjoint slices of one digest act as ``num_hashes`` independent
    min-wise hash functions — ONE md5 per shingle total (the
    hash-per-permutation formulation costs k×; and array-expression
    formulations lose to Catalyst's CollapseProject, which re-inlines
    the whole fold into EVERY downstream reference of the signature
    columns — a single nested ``aggregate``/``zip_with`` fold measured
    fine in isolation and ~5x slower once the band projection consumed
    it).

    Plan shape: explode shingles → one md5 → ``num_hashes`` parallel
    ``min`` aggregates in one pass; partial aggregation shrinks map
    output to one row per doc before the only shuffle, and every
    expression is whole-stage codegen'd. Requires num_hashes*4 <= 32
    hex chars.
    """
    if num_hashes * 4 > 32:
        raise ValueError("md5 supplies at most 8 4-hex-char minhash slices")
    sh = shingles(norm_tokens(F.col(text_col)), shingle_n)
    exploded = spread(df).select(F.col(id_col), F.explode(sh).alias("__s")).select(
        F.col(id_col), md5_str(F.col("__s")).alias("__h")
    )
    aggs = [
        F.min(F.substring("__h", j * 4 + 1, 4)).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH band-bucket table: one row per (doc, band) with the band's
    32-char bucket hash — the joinable index both the self-join
    (``minhash_candidate_pairs``) and the batch-vs-corpus incremental
    path (``incremental_minhash_dedup``) build on.  At 100 TB the
    corpus side of this table is what a production pipeline
    materializes once and re-joins every ingest batch against."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), md5_str(F.concat(*parts)).alias("h"))
        )
    return sigs.select(
        F.col(id_col).alias("doc"), F.explode(F.array(*band_cols)).alias("bh")
    ).select("doc", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become a candidate pair.
    Output: (doc_a, doc_b, n_shared_bands), doc_a < doc_b.

    ``buckets`` optionally supplies a PRE-MATERIALIZED band-bucket
    relation over the same corpus/params (e.g. a session-shared
    checkpoint, r16: four registered queries derive identical buckets
    from the documents table — tokenize + shingle + 8 min-wise hashes,
    the corpus-proportional part — so one session running several of
    them should pay that derivation once, like the graph family's
    shared edge relation). When ``buckets`` is given, ``df``,
    ``text_col``, ``id_col``, ``num_hashes``, ``bands`` and
    ``shingle_n`` are ignored: the buckets already encode them. The
    caller owns the buckets' lifecycle: no persist here and no
    ride-along cache."""
    shared_buckets = buckets is not None
    if not shared_buckets:
        buckets = minhash_band_buckets(
            df, text_col, id_col, num_hashes, bands, shingle_n
        )
    # Pair generation: persist the tiny bucket table (bands x (id +
    # 32-byte hash) per doc — a sliver of the corpus) and self-join on
    # (band, h). A one-shuffle alternative (collect_list each bucket
    # into a sorted array, expand i<j via posexplode + slice-explode,
    # re-aggregate pairs) was tried and REVERTED on measurement: at
    # sf0.1 steady-state it ran ~2.5x slower (1.1-1.7 s vs 0.48-0.6 s
    # best-of-4, same session) — the two Generate nodes break
    # whole-stage codegen after the aggregate and the pair rows
    # re-shuffle anyway for the n_shared_bands count, costing more than
    # the exchange the self-join adds. Equal keys co-locate identically
    # in both forms, so the per-bucket m^2 term is the same; the
    # self-join is simply the cheaper physical shape. No explicit
    # unpersist (the result is lazy); Spark's ContextCleaner drops the
    # cached blocks once the DataFrame is driver-GC'd.
    if max_bucket is not None:
        # Cap pathological boilerplate buckets BEFORE the join: a
        # million-doc bucket must never reach the m^2 expansion. Costs
        # one extra count shuffle — the right trade at the 100 TB
        # setting where the cap is in play.
        sizes = buckets.groupBy("band", "h").agg(F.count("*").alias("__n"))
        buckets = buckets.join(
            sizes.filter(F.col("__n") <= max_bucket).select("band", "h"),
            ["band", "h"],
        )
        shared_buckets = False  # capped relation is per-call again
    if not shared_buckets:
        buckets = buckets.persist()
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h")),
        )
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )
    # Deterministic cache release: the persisted bucket table rides on
    # the result (hold_caches); long-lived sessions that call
    # this repeatedly should `release_cached(pairs)` after
    # materializing, instead of waiting for driver GC + ContextCleaner
    # to notice the reference is gone. (Not attached for caller-owned
    # shared buckets — releasing those per-query would tear down the
    # session-shared checkpoint under its other consumers.)
    if not shared_buckets:
        hold_caches(pairs, buckets)
    return pairs


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash fingerprint per document.

    Bit p is the majority vote over tokens of the high bit of the p-th
    md5 nibble (nibble >= 8). Token multiplicity weights the vote —
    standard SimHash with unit weights."""
    # Vectorized Arrow batch form. The explode-and-aggregate
    # formulation (one md5 row per token, 16 partial-aggregated votes)
    # is the right *distributed* shape, but it pays for materializing
    # ~54x the row volume plus a 17-buffer hash aggregate; measured
    # ~1.1 s at sf0.1 against ~0.35 s for this per-document batch form.
    # SimHash is pure integer math over md5 bytes — bit-exact in any
    # evaluation order — so the Python escape hatch carries zero
    # float-parity risk, and the operator stays embarrassingly
    # parallel (no shuffle at all: fingerprints fall out of the scan).
    #
    # Bit p votes on the high bit of md5 hex-nibble p: the first 8
    # digest bytes hold nibbles 1..16, so one uint64 load + 16
    # shift/mask ops per token replaces 16 substring compares.
    import hashlib

    from pyspark.sql.functions import pandas_udf

    shifts = np.array([(16 - p) * 4 + 3 for p in range(1, 17)], dtype=np.uint64)
    weights = np.array([1 << (p - 1) for p in range(1, 17)], dtype=np.int64)

    # Token-hash memo, persistent across batches within a Python
    # worker: token frequencies are Zipfian, so the hot vocabulary
    # covers almost every occurrence and each md5 is paid once per
    # DISTINCT token per worker, not once per occurrence. Capped so an
    # adversarial unique-token corpus can't grow worker memory
    # unboundedly (2^20 entries x ~100 B ≈ 100 MB worst case).
    _tok_cache: dict[str, int] = {}
    _TOK_CACHE_MAX = 1 << 20

    @pandas_udf("int")
    def simhash_of(text: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        cache = _tok_cache
        doc_idx, hashes, n_toks = [], [], []
        for i, t in enumerate(text):
            if t is None:
                # NULL text: zero tokens -> every majority fails ->
                # simhash 0, matching SQL semantics (NULL votes make
                # each CASE contribute nothing).
                n_toks.append(0)
                continue
            # identical tokenization to norm_tokens():
            # split(lower(text), ' ', -1) keeps empty tokens
            toks = t.lower().split(" ")
            n_toks.append(len(toks))
            doc_idx.extend([i] * len(toks))
            for tok in toks:
                h = cache.get(tok)
                if h is None:
                    h = int.from_bytes(md5(tok.encode()).digest()[:8], "big")
                    if len(cache) < _TOK_CACHE_MAX:
                        cache[tok] = h
                hashes.append(h)
        H = np.array(hashes, dtype=np.uint64)
        bits = ((H[:, None] >> shifts[None, :]) & 1).astype(np.int64)
        votes = np.zeros((len(text), 16), dtype=np.int64)
        np.add.at(votes, np.array(doc_idx, dtype=np.int64), bits)
        # majority over ZERO tokens (NULL text) is vacuously false ->
        # simhash 0.
        majority = (2 * votes) > np.array(n_toks, dtype=np.int64)[:, None]
        return pd.Series((majority @ weights).astype(np.int32))

    return spread(df).select(
        F.col(id_col), simhash_of(F.col(text_col)).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float,
    shingle_n: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard over within-block pairs.

    ``block_col`` bounds the quadratic term (at 100 TB the block is an
    LSH bucket from ``minhash_candidate_pairs``, never a raw column).
    Output: doc_a, doc_b, jaccard (rounded 6dp) for pairs >= threshold.
    """
    sh = F.array_distinct(shingles(norm_tokens(F.col(text_col)), shingle_n))
    # The shingled relation feeds BOTH self-join sides; identical
    # sides do not get a ReusedExchange (verified: 4 scans of the
    # source without the cache), so persist it — tokenizing and
    # shingling every document twice is the dominant map cost at
    # corpus scale. Rides on the result (release_cached).
    docs = df.select(
        F.col(id_col).alias("doc"), F.col(block_col).alias("block"), sh.alias("sh")
    ).persist()
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union.cast("double")
    out = (
        a.join(b, F.col("a.block") == F.col("b.block"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return hold_caches(out, docs)


def incremental_dedup(
    new_df: DataFrame, corpus_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Dedup an INCOMING batch against an existing corpus without
    touching corpus rows: each new doc is flagged if its normalized
    content hash already exists in the corpus (plus its within-batch
    copy count). The corpus side reduces to DISTINCT 32-byte hashes
    before the join — one shuffle of hashes, never of documents; at
    100 TB the corpus hash set is a persisted table (or a Bloom filter
    for a lossy pre-filter) that each nightly crawl joins against,
    which is exactly how production crawl pipelines avoid
    re-clustering the world per batch."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    new_fp = new_df.select(
        F.col(id_col), md5_str(norm).alias("fingerprint")
    )
    corpus_fp = (
        corpus_df.select(md5_str(norm).alias("fingerprint")).distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    from pyspark.sql import Window

    flagged = new_fp.join(corpus_fp, "fingerprint", "left")
    # Window over fingerprint: ONE shuffle serves both the copy count
    # and the output rows (a groupBy + join-back would shuffle the
    # fingerprints twice for the same partitioning).
    w = Window.partitionBy("fingerprint")
    return flagged.select(
        F.col(id_col),
        "fingerprint",
        F.coalesce("in_corpus", F.lit(False)).alias("dup_of_corpus"),
        F.count("*").over(w).alias("batch_copies"),
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-dup companion to :func:`incremental_dedup`: flag incoming
    batch docs whose content is a MinHash-LSH near-duplicate of the
    standing corpus, without re-clustering the corpus.  Both sides
    reduce to band-bucket tables (``minhash_band_buckets``: one row
    per (doc, band), 32-char key) and meet in ONE equi-join on
    (band, h) — never a pairwise text compare.  At 100 TB the corpus
    band table is materialized once (it is the LSH index) and each
    ingest batch's bands — a sliver — broadcast- or shuffle-join
    against it; per-batch cost is proportional to the batch, not the
    corpus.

    Output per flagged batch doc: (doc_id, n_corpus_candidates =
    distinct corpus near-dup candidates, best_shared_bands = strongest
    band support among them)."""
    nb = minhash_band_buckets(
        new_df, text_col, id_col, num_hashes, bands, shingle_n
    ).select(F.col("doc").alias("doc_id"), "band", "h")
    cb = minhash_band_buckets(
        corpus_df, text_col, id_col, num_hashes, bands, shingle_n
    ).select(F.col("doc").alias("corpus_doc"), "band", "h")
    per_pair = (
        nb.join(cb, ["band", "h"])
        .groupBy("doc_id", "corpus_doc")
        .agg(F.count("*").alias("shared"))
    )
    return per_pair.groupBy("doc_id").agg(
        F.count("*").alias("n_corpus_candidates"),
        F.max("shared").alias("best_shared_bands"),
    )


def set_similarity_join(
    tok: DataFrame,
    id_col: str = "id",
    token_col: str = "token",
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al., WWW 2007; Xiao et al.,
    WWW 2008). Finds every id pair whose token-set Jaccard is
    >= tau_num/tau_den, with NO false negatives (unlike MinHash LSH,
    which trades recall for speed).

    Prefix-filter lemma: order every set by one global total token
    order; two sets with Jaccard >= t must share a token within each
    other's first ``|x| - ceil(t*|x|) + 1`` tokens. So instead of the
    all-pairs token join, candidates come from an equi-join of the
    short PREFIXES only. The global order used is ascending document
    frequency (ties by token string) — rare tokens first, so prefixes
    join on the rarest tokens and bucket fanout stays small; any
    total order is correct, this one is the fast one.

    Scale shape: one df-count agg, one per-doc window to rank tokens
    (keyed by id — partition-bounded), one prefix equi-join, then the
    verify join expands only CANDIDATE pairs by their token lists
    (never the full token-postings self-join the lemma exists to
    avoid). Integer arithmetic throughout the filters
    (ceil(t*n) = (tau_num*n + tau_den - 1) // tau_den), so the
    threshold decisions are exact.

    Beyond the prefix + length filters of AllPairs, this applies
    PPJoin's POSITIONAL filter and a suffix-restricted verify:

    - positional: the candidate groupBy keeps, per pair, the count m
      of shared prefix tokens and the ranks (i_last, j_last) of the
      LAST shared prefix token in each document's global-order
      ranking. Any shared token beyond it must sit after i_last in a
      and after j_last in b (one consistent total order), so
      overlap <= m + min(na - i_last, nb - j_last); pairs whose bound
      misses minoverlap = ceil(tau_num*(na+nb)/(tau_num+tau_den)) are
      dropped BEFORE the expensive verify join — same shuffle as the
      plain candidate distinct (the aggregate replaces it), strictly
      fewer survivors.
    - array-local verify: each surviving pair joins the two docs'
      sorted distinct-token arrays by id and takes
      size(array_intersect) in one codegen'd expression. The
      suffix-token join form this replaced (pair x suffix rows
      matched on token, re-aggregated per pair) pushed ~40 skinny
      rows per candidate through two extra shuffles; the array form
      ships ONE row per doc per side and AQE broadcasts the
      doc-array table outright when it fits (same rewrite as
      containment_join, measured -27% there at sf1.0).

    Returns (id_a, id_b, overlap, jaccard), id_a < id_b.
    """
    # t feeds FIVE branches (sizes, df, ranked join, verify arrays)
    # and upstream is typically an explode+distinct over the whole
    # corpus — persist it or every branch re-runs that derivation.
    # prefix feeds both self-join sides (the per-doc rank window
    # would otherwise sort the full token relation twice). The caches
    # ride on the result (hold_caches; freed by release_cached).
    t = tok.select(
        F.col(id_col).alias("id"), F.col(token_col).alias("token")
    ).distinct().persist()
    sz = t.groupBy("id").agg(F.count("*").alias("n"))
    dfreq = t.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "token")
    ranked = (
        t.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .join(sz, "id")
    )
    ceil_tn = (F.lit(tau_num) * F.col("n") + F.lit(tau_den - 1)) / F.lit(
        tau_den
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.floor(ceil_tn) + 1
    ).select("id", "token", "n", "rn").persist()
    a = prefix.alias("a")
    b = prefix.alias("b")
    # minoverlap o: o >= ceil(num*(na+nb)/(num+den)); integer-exact
    # compare via bound*(num+den) >= num*(na+nb).
    pos_bound = F.col("m") + F.least(
        F.col("na") - F.col("i_last"), F.col("nb") - F.col("j_last")
    )
    cand = (
        a.join(b, "token")
        .filter(F.col("a.id") < F.col("b.id"))
        # length filter: tau*na <= nb and tau*nb <= na (integer-exact)
        .filter(
            (F.col("b.n") * tau_den >= F.col("a.n") * tau_num)
            & (F.col("a.n") * tau_den >= F.col("b.n") * tau_num)
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        # positional filter state: one aggregate in place of the plain
        # candidate-pair distinct (same shuffle, more pruning)
        .agg(
            F.count("*").alias("m"),
            F.max("a.rn").alias("i_last"),
            F.max("b.rn").alias("j_last"),
        )
        .filter(
            pos_bound * (tau_num + tau_den)
            >= F.lit(tau_num) * (F.col("na") + F.col("nb"))
        )
        .select("id_a", "id_b", "na", "nb")
    )
    # Array-local verify: exact overlap from the two sorted
    # distinct-token arrays, one row per doc per side. arr feeds both
    # pair sides — persisted so the collect_list aggregation runs once.
    arr = t.groupBy("id").agg(
        F.sort_array(F.collect_list("token")).alias("toks")
    ).persist()
    overlap = (
        cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")),
            "id_a",
        )
        .join(
            arr.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("ta", "tb")).alias("overlap"),
        )
    )
    # Exact rational threshold: o/(na+nb-o) >= num/den iff
    # o*den >= (na+nb-o)*num — integer compare, no float boundary.
    union_n = F.col("na") + F.col("nb") - F.col("overlap")
    jac = F.col("overlap") / union_n.cast("double")
    out = (
        overlap.filter(
            F.col("overlap") * tau_den >= union_n * tau_num
        )
        .select(
            "id_a",
            "id_b",
            "overlap",
            F.round(jac, 6).alias("jaccard"),
        )
    )
    return hold_caches(out, t, prefix, arr)


def containment_join(
    tok: DataFrame,
    id_col: str = "id",
    token_col: str = "token",
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT asymmetric CONTAINMENT join: every ordered pair (a, b),
    a != b, with |A n B| / |A| >= tau — the near-SUBSET detector
    (quotes, excerpts, boilerplate wrappers, supersets) that a
    symmetric Jaccard join structurally misses: a 50-token quote
    inside a 5000-token page has Jaccard ~0.01 but containment 1.0.

    Prefix filtering adapts asymmetrically (Bayardo et al. WWW 2007
    generalized): the QUERY side A needs overlap >= ceil(tau*|A|),
    so A must share one of its first |A| - ceil(tau*|A|) + 1 tokens
    in the global df order — but B's matching token may sit anywhere
    in B, so the INDEX side carries all of B's tokens (no prefix).
    Candidates therefore come from an equi-join of A-prefixes
    (globally rarest tokens of each A, so fanout is df-bounded on
    rare tokens) against full postings; the positional filter prunes
    pairs where even m + (|A| - last-shared-prefix-rank) overlap
    can't reach the bar. A size filter drops B's smaller than
    ceil(tau*|A|) (overlap can't exceed |B|). All thresholds are
    exact integer cross-multiplications.

    Verify is ARRAY-LOCAL: each surviving pair joins the two docs'
    sorted distinct-token arrays by id and takes
    size(array_intersect) in one codegen'd expression. The previous
    suffix-token join shape (pair x A-suffix rows matched against a
    (id_b, token) postings shuffle, then a pair re-aggregation) moved
    ~40 skinny rows per candidate through two shuffles; the array
    form ships ONE row per doc per side (docs are KB-bounded in any
    real corpus), lets AQE broadcast the doc-array table when it
    fits, and cut the sf1.0 wall ~27% (21.0 s -> 15.2 s, best-of-2
    back-to-back A/B on identical 10x data) with the brute-force
    property test green at three thresholds.

    Returns (id_a, id_b, overlap, containment) for C(A->B) >= tau.
    """
    t = tok.select(
        F.col(id_col).alias("id"), F.col(token_col).alias("token")
    ).distinct().persist()
    # t (persisted, released via hold_caches/release_cached)
    # feeds five branches — sizes, df, the ranked probe, the postings
    # index, and the verify arrays; without the cache each re-runs
    # the upstream corpus explode+distinct.
    sz = t.groupBy("id").agg(F.count("*").alias("n"))
    dfreq = t.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "token")
    ranked = (
        t.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .join(sz, "id")
    )
    # prefix length = n - ceil(tau*n) + 1, integer ceil
    ceil_tn = F.floor(
        (F.lit(tau_num) * F.col("n") + F.lit(tau_den - 1)) / F.lit(tau_den)
    )
    plen = (F.col("n") - ceil_tn + 1).alias("plen")
    probe = ranked.select("id", "token", "n", "rn", plen).filter(
        F.col("rn") <= F.col("plen")
    )
    # Index side needs no df ranking — B's matching token can sit
    # anywhere, so postings are just (id, token, |B|).
    index = t.join(sz, "id").select(
        F.col("id").alias("id_b"),
        "token",
        F.col("n").alias("nb"),
    )
    cand = (
        probe.alias("a")
        .join(index, "token")
        .filter(F.col("a.id") != F.col("id_b"))
        # |B| >= ceil(tau*|A|): overlap is capped by |B|
        .filter(F.col("nb") * tau_den >= F.col("a.n") * tau_num)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("id_b"),
            F.col("a.n").alias("na"),
        )
        .agg(F.count("*").alias("m"), F.max("a.rn").alias("i_last"))
        # positional: overlap <= m + (na - i_last); need >= ceil(tau*na)
        .filter(
            (F.col("m") + F.col("na") - F.col("i_last")) * tau_den
            >= F.lit(tau_num) * F.col("na")
        )
        .select("id_a", "id_b", "na")
    )
    arr = t.groupBy("id").agg(
        F.sort_array(F.collect_list("token")).alias("toks")
    ).persist()
    overlap = (
        cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")),
            "id_a",
        )
        .join(
            arr.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "na",
            F.size(F.array_intersect("ta", "tb")).alias("overlap"),
        )
    )
    out = overlap.filter(
        F.col("overlap") * tau_den >= F.col("na") * tau_num
    ).select(
        "id_a",
        "id_b",
        "overlap",
        F.round(
            F.col("overlap") / F.col("na").cast("double"), 6
        ).alias("containment"),
    )
    return hold_caches(out, t, arr)
