"""Small-file compaction: rewrite a fragmented parquet directory into
files near a target size.

The small-files problem is the classic operational failure of long-
running ingestion at scale: a streaming sink or an over-parallel batch
write leaves thousands of KB-sized files, and every later scan pays
per-file open/footer/seek overhead plus driver-side listing and split
planning — at 100 TB a directory of 1e7 tiny files is slower to PLAN
than a compacted copy is to READ. Every table format's maintenance
story (Delta OPTIMIZE, Iceberg rewrite_data_files, Hive concatenate)
is this same rewrite; here it is an engine-native operator for plain
parquet directories.

Sizing comes from the file listing only (no data read): output file
count = ceil(total_bytes / target). ``shuffle=False`` uses
``coalesce`` — zero shuffle, each output task concatenates whole input
splits (the right default: compaction is IO-bound and the rows are
passing through unchanged); ``shuffle=True`` uses round-robin
``repartition`` for exactly-even output files at the cost of one full
exchange — worth it only when the inputs are badly skewed.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from oarphpy_spark.util.fs import input_files


def plan_compaction(in_dir: str, target_bytes: int) -> tuple[int, int]:
    """(files_before, n_output_files) from the listing only."""
    files = input_files(in_dir)
    total = sum(os.path.getsize(f) for f in files)
    return len(files), max(1, math.ceil(total / target_bytes))


def compact(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = 128 << 20,
    shuffle: bool = False,
) -> dict:
    """Rewrite ``in_dir`` into ``out_dir`` with ~``target_bytes``
    files. Returns {'files_before', 'files_after', 'n_output_planned'}.
    Content is bit-identical rows; only the physical layout changes."""
    files_before, n_out = plan_compaction(in_dir, target_bytes)
    df = spark.read.parquet(in_dir)
    sized = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    sized.write.mode("overwrite").parquet(out_dir)
    return {
        "files_before": files_before,
        "files_after": len(input_files(out_dir)),
        "n_output_planned": n_out,
    }
