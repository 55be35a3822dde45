"""Codec round-trips as declared queries (SURVEY.md §2 R1-R5).

Each query encodes synthetic Python objects with the codec layer,
persists them through parquet, reads them back, decodes to live
objects, and emits a flat scalar summary the oracle can state as
literals — so the round-trip-equals-identity property (the reference's
core test idea, oarphpy_test/test_spark.py:1154-1202) is itself
oracle-checked.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Row, SparkSession

from oarphpy_spark.codec import CloudpickeledCallable, RowAdapter, Tensor
from oarphpy_spark.registry import query
from oarphpy_spark.util.fs import transient_scratch_dir


class _Fixture:
    """Plain __dict__ object used by the round-trip fixtures."""

    def __init__(self, obj_id: int = 0, label: str = "", arr=None, fn=None):
        self.obj_id = obj_id
        self.label = label
        self.arr = arr if arr is not None else np.zeros(1, dtype=np.int64)
        self.fn = fn if fn is not None else CloudpickeledCallable()


def _double(x: int) -> int:
    return 2 * x


def _fixture_objects() -> list[_Fixture]:
    return [
        _Fixture(1, "small", np.arange(4, dtype=np.int64), CloudpickeledCallable(_double)),
        _Fixture(2, "packed", np.arange(1000, dtype=np.int64), CloudpickeledCallable(_double)),
        _Fixture(3, "empty_fn", np.array([[1, 2], [3, 4]], dtype=np.int64)),
    ]


@query(
    "q_rowadapter_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'small',    4, 6,    0, 2),
      (2, 'packed', 1000, 499500, 1, 4),
      (3, 'empty_fn',  4, 10,   0, -1)
    ) AS t(obj_id, label, arr_size, arr_sum, was_packed, fn_of_obj_id)
    """,
)
def q_rowadapter_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """objects -> to_row -> parquet -> read -> from_row -> objects, then
    summarize decoded state (reference round-trip harness:
    oarphpy_test/test_spark.py:1154-1202). was_packed checks the 2 KB
    Tensor pack threshold (reference oarphpy/spark.py:931); fn_of_obj_id
    proves the decoded callable is invocable (-1 = empty callable)."""
    objs = _fixture_objects()
    df = RowAdapter.to_df(spark, objs)
    with transient_scratch_dir("codec_roundtrip") as out:
        df.write.mode("overwrite").parquet(out)
        decoded = RowAdapter.collect_objects(spark.read.parquet(out))

    rows = []
    for o in sorted(decoded, key=lambda o: o.obj_id):
        assert isinstance(o.arr, np.ndarray), type(o.arr)
        packed = int(o.arr.nbytes >= 2 * 1024)
        try:
            fn_val = o.fn(o.obj_id)
        except ValueError:
            fn_val = -1
        rows.append(
            Row(
                obj_id=o.obj_id,
                label=o.label,
                arr_size=int(o.arr.size),
                arr_sum=int(o.arr.sum()),
                was_packed=packed,
                fn_of_obj_id=fn_val,
            )
        )
    return spark.createDataFrame(
        rows,
        schema="obj_id int, label string, arr_size int, arr_sum int, "
        "was_packed int, fn_of_obj_id int",
    )


@query(
    "q_tensor_codec",
    oracle="""
    SELECT * FROM (VALUES
      ('float32_small', 'float32', 8,    0, 28.0),
      ('float64_packed','float64', 512,  1, 130816.0),
      ('int32_matrix',  'int32',   6,    0, 21.0)
    ) AS t(name, dtype, n_elems, was_packed, total)
    """,
)
def q_tensor_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ndarray <-> Tensor-struct <-> parquet round-trip across dtypes and
    the packed/unpacked split (reference oarphpy/spark.py:933-968)."""
    arrays = {
        "float32_small": np.arange(8, dtype=np.float32),
        "float64_packed": np.arange(512, dtype=np.float64),
        "int32_matrix": np.array([[1, 2, 3], [4, 5, 6]], dtype=np.int32),
    }
    # One row, one typed tensor column per array (a tensor column's SQL
    # type is dtype-dependent, so mixed dtypes live in separate columns).
    proto = Row(**{k: v for k, v in sorted(arrays.items())})
    row = Row(**{k: Tensor.from_numpy(v) for k, v in sorted(arrays.items())})
    df = spark.createDataFrame([row], schema=RowAdapter.to_schema(proto))
    with transient_scratch_dir("codec_tensor") as out:
        df.write.mode("overwrite").parquet(out)
        back = spark.read.parquet(out).collect()[0]

    summary = []
    for name in sorted(arrays):
        arr = Tensor.to_numpy(back[name])
        orig = arrays[name]
        assert arr.dtype == orig.dtype and arr.shape == orig.shape
        assert np.array_equal(arr, orig)
        summary.append(
            Row(
                name=name,
                dtype=str(arr.dtype),
                n_elems=int(arr.size),
                was_packed=int(arr.nbytes >= 2 * 1024),
                total=float(arr.sum()),
            )
        )
    return spark.createDataFrame(
        summary,
        schema="name string, dtype string, n_elems int, was_packed int, total double",
    )
