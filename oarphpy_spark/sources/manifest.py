"""File-skipping manifest: a queryable min/max index over parquet files.

The lakehouse pattern (Delta/Iceberg file statistics, Hive-style
indexes) reduced to its Spark-native core: ONE distributed
footer-only pass builds a manifest DataFrame — (file, rows, bytes,
per-column min/max) — and later reads consult the manifest FIRST,
opening only files whose stats intersect the predicate. At 100 TB the
manifest is ~1 row per file (millions of rows, not billions) and is
itself a parquet table; re-planning a selective scan becomes a
manifest filter + a file-list read instead of a full directory scan.

Complements operators/zorder.py: the z-order write makes per-file
min/max TIGHT; the manifest makes the skipping decision queryable and
persistable instead of buried in the scan.

Footer reads happen on EXECUTORS via mapInPandas over the file list
(a few KB of I/O per file regardless of file size), so manifest
construction parallelizes with the file count.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oarphpy_spark.util.fs import input_files


def file_stats(path: str, cols: list[str]) -> dict:
    """Footer-only stats for ONE parquet file: file/n_rows/n_bytes plus
    min_/max_ per requested column, folded across row groups; a column
    with any statless row group reports None (conservatively
    un-prunable). THE single implementation of the stats fold — the
    distributed manifest build and any driver-side measurement (e.g.
    operators/zorder.file_prune_stats) both call it, so the
    measurement path can never diverge from the read path."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(len(md.schema))}
    row = {
        "file": path,
        "n_rows": md.num_rows,
        "n_bytes": os.path.getsize(path),
    }
    for c in cols:
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo, hi = None, None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        row[f"min_{c}"] = lo
        row[f"max_{c}"] = hi
    return row


def stats_overlap(
    stats: dict, predicates: dict[str, tuple[float, float]]
) -> bool:
    """Keep/skip test for one file's stats row against a conjunction of
    closed-interval predicates — missing stats conservatively keep."""
    for c, (lo, hi) in predicates.items():
        cmin, cmax = stats.get(f"min_{c}"), stats.get(f"max_{c}")
        if cmin is None:
            continue
        if cmax < lo or cmin > hi:
            return False
    return True


def _footer_stats(cols: list[str]):
    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([file_stats(p, cols) for p in pdf["path"]])

    return read_footers


def build_manifest(
    spark: SparkSession, path: str, cols: list[str], col_type: str = "bigint"
) -> DataFrame:
    """Distributed footer scan -> manifest DataFrame with one row per
    data file: (file, n_rows, n_bytes, min_/max_ per indexed column).

    ``cols`` must share ``col_type`` (per-column types would need a
    struct schema; integer keys cover the layout/index use case).
    The file list (``util/fs.input_files``, Spark's listing rule) is
    parallelized so footer I/O runs executor-side."""
    files = input_files(path)
    if not files:
        raise ValueError(f"no parquet data files under {path!r}")
    listing = spark.createDataFrame([(f,) for f in files], "path string")
    stat_cols = ", ".join(
        f"min_{c} {col_type}, max_{c} {col_type}" for c in cols
    )
    schema = f"file string, n_rows bigint, n_bytes bigint, {stat_cols}"
    return listing.repartition(min(len(files), 64)).mapInPandas(
        _footer_stats(cols), schema=schema
    )


def pruned_files(
    manifest: DataFrame, predicates: dict[str, tuple[float, float]]
) -> list[str]:
    """Files whose stats intersect EVERY closed-interval predicate
    {col: (lo, hi)} — exactly the row-group test parquet readers
    apply, lifted to the file level. Files with missing stats are
    conservatively kept."""
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        has = F.col(f"min_{c}").isNotNull()
        cond = cond & (
            ~has | ((F.col(f"max_{c}") >= lo) & (F.col(f"min_{c}") <= hi))
        )
    return [r.file for r in manifest.filter(cond).select("file").collect()]


def pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    predicates: dict[str, tuple[float, float]],
) -> DataFrame:
    """Read ONLY the manifest-surviving files, then re-apply the
    predicate exactly (stats admit false positives, never false
    negatives). Returns an empty-but-typed DataFrame when every file
    prunes away.

    The collect() is manifest-sized (file paths), not data-sized —
    the same driver-side file listing every table format does at plan
    time, except here the skipping happened in a queryable DataFrame
    filter first."""
    files = pruned_files(manifest, predicates)
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        cond = cond & F.col(c).between(lo, hi)
    if not files:
        # Everything pruned: recover the schema from ONE file (footer
        # read only — the filter is statically false) instead of
        # handing the reader the whole directory.
        one = manifest.select("file").limit(1).collect()
        return spark.read.parquet(one[0].file).filter(F.lit(False))
    return spark.read.parquet(*files).filter(cond)
