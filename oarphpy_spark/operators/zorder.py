"""Z-order (Morton curve) data layout for multi-column data skipping.

At 100 TB a parquet scan's cost is decided before the first task runs:
by how many files/row-groups the min/max footer statistics let the
reader SKIP. A linear sort clusters one column perfectly and the rest
not at all; interleaving the bits of k rank-normalized columns
(the Z-/Morton curve — the same layout Delta Lake's OPTIMIZE ZORDER
and ClickHouse's mortonEncode use) gives every indexed column locality
~2^(bits/k), so conjunctive OR single-column range predicates on ANY
of them prune most files.

Everything here is plan-side and codegen'd:

* per-column min/max comes from ONE aggregate row broadcast back into
  the plan (no driver round-trip in the lineage, no second scan -- the
  same 1-row-crossJoin idiom as operators/histogram.py);
* rank normalization + bit interleave compile to shift/mask/OR
  expressions inside whole-stage codegen (no UDF);
* the layout write is ``repartitionByRange`` on the z-key (range
  partitioner => files own disjoint z-ranges) + ``sortWithinPartitions``
  (row-groups within a file own disjoint z-subranges too).

``file_prune_stats`` reads back ONLY parquet footers to measure the
skipping a predicate achieves — the evidence loop for layout tuning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oarphpy_spark.util.fs import input_files

ZKEY = "__zkey"


def _interleave(norm_cols: list[Column], bits: int) -> Column:
    """Morton-interleave k already-normalized integer columns
    (each in [0, 2^bits)) into one long: output bit (i*k + j) is bit i
    of column j. Pure shift/mask/OR — whole-stage codegen folds this
    into straight-line JVM bytecode."""
    k = len(norm_cols)
    terms = []
    for j, c in enumerate(norm_cols):
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def with_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 12
) -> DataFrame:
    """Append a ``__zkey`` long column: the Morton code of ``cols``
    after min/max rank normalization to ``bits`` bits each.

    ``bits * len(cols)`` must fit a long (<= 63). Normalization stats
    are a single 1-row aggregate broadcast into the plan — at any SF
    that is one cheap extra stage over a column-pruned scan.

    Min/max normalization assumes roughly uniform value spread (true
    for synthetic keys and timestamps); heavily skewed columns would
    want percentile-edge normalization (operators/histogram.py has the
    two-pass idiom) at the cost of an approx-percentile pass.
    """
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must be <= 63 to fit a long")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__max_{c}"))
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    norm = [
        F.least(
            F.lit(top),
            F.floor(
                (F.col(c).cast("double") - F.col(f"__min_{c}"))
                / (F.col(f"__max_{c}") - F.col(f"__min_{c}") + F.lit(1e-12))
                * (1 << bits)
            ),
        ).cast("long")
        for c in cols
    ]
    return joined.withColumn(ZKEY, _interleave(norm, bits)).drop(
        *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 12,
) -> None:
    """Write ``df`` as parquet laid out along the Z-curve of ``cols``.

    ``repartitionByRange`` on the z-key gives each output file a
    disjoint z-range (range partitioner samples the key distribution,
    so files are size-balanced even when the curve is dense in one
    corner); the within-partition sort tightens per-row-group min/max
    further. Readers need nothing special: plain parquet whose footer
    stats happen to be extremely selective for predicates on any
    indexed column."""
    zdf = with_zorder_key(df, cols, bits)
    (
        zdf.repartitionByRange(num_files, F.col(ZKEY))
        .sortWithinPartitions(ZKEY)
        .drop(ZKEY)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_prune_stats(
    path: str, predicates: dict[str, tuple[float, float]]
) -> tuple[int, int]:
    """Footer-only skipping measurement: (total data files, files a
    stats-aware reader must actually open) for a conjunction of
    closed-interval predicates {col: (lo, hi)} — the same keep/skip
    test Spark's parquet reader (and any lakehouse file index)
    applies. Delegates the stats fold and overlap test to
    sources/manifest.py so this measurement path can never diverge
    from the manifest read path."""
    from oarphpy_spark.sources.manifest import file_stats, stats_overlap

    cols = list(predicates)
    files = input_files(path)
    kept = sum(stats_overlap(file_stats(f, cols), predicates) for f in files)
    return len(files), kept
