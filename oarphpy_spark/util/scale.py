"""Data-derived scale knobs.

Several operators bound per-task work by splitting a low-cardinality
group key into sub-keys (salt / range buckets). The sub-key count must
GROW with the data or the bound is fiction at 100×: a constant
``SALT = 16`` that keeps groups under executor memory at sf0.1 blows
past it at sf10. These helpers derive the knob from the input's actual
row count — read from parquet FOOTERS only (no Spark job, no row-group
I/O) — with the hand-tuned constants kept as floors.
"""

from __future__ import annotations

import math

from oarphpy_spark.util.fs import input_files

# One pandas/sort partition of ~1M rows stays comfortably inside a
# multi-GB executor for the narrow (few-column) frames these operators
# feed; knobs derive from this, not from hand-picked per-SF constants.
DEFAULT_TARGET_ROWS_PER_TASK = 1_000_000


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file or directory from footer
    metadata alone (``num_rows`` is a required footer field): O(part
    files) footer reads, zero data pages — cheap even for a 100 TB
    table, and free compared to a ``count()`` job. A directory's part
    files are listed by Spark's rule (``util/fs.input_files``), so a
    hive-partitioned layout counts every partition."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in input_files(path))


def derive_subkey_count(
    n_rows: int,
    n_groups: int,
    target_rows_per_task: int = DEFAULT_TARGET_ROWS_PER_TASK,
    floor: int = 16,
) -> int:
    """How many sub-keys (salt values / range buckets) each of
    ``n_groups`` coarse groups needs so no task holds more than
    ~``target_rows_per_task`` rows, assuming roughly even spread.
    Monotone in ``n_rows`` (tested), never below ``floor`` — the floor
    preserves parallelism on tiny inputs where the formula would
    collapse to 1."""
    if n_rows <= 0 or n_groups <= 0:
        return floor
    need = math.ceil(n_rows / (n_groups * target_rows_per_task))
    return max(floor, need)
