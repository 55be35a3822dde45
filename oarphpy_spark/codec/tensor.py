"""ndarray <-> Spark struct codec.

Capability parity with the reference's ``Tensor``
(reference ``oarphpy/spark.py:933-968``): an n-d array persists as a
plain SQL struct readable by any parquet reader (no Spark UDTs — the
reference rejects UDTs for schema burden and nesting bugs,
``oarphpy/spark.py:1102-1107``; we keep that stance):

    struct<__pyclass__:string, shape:array<bigint>, dtype:string,
           order:string, values:array<T>, values_packed:binary>

Arrays >= ``TENSOR_PACK_MIN_BYTES`` store their bytes as ONE binary
cell (columnar/parquet-friendly, no per-element overhead); smaller
arrays store SQL-queryable ``array<T>`` cells — same storage policy and
threshold as the reference (``oarphpy/spark.py:931``).
"""

from __future__ import annotations

import functools
from typing import Any

import numpy as np

from pyspark.sql import Row

#: Arrays at or above this many bytes are stored packed (one binary cell).
TENSOR_PACK_MIN_BYTES = 2 * 1024

PYCLASS_KEY = "__pyclass__"
_TENSOR_PYCLASS = "oarphpy_spark.codec.tensor.Tensor"


@functools.lru_cache(maxsize=64)
def _dtype_name(dtype: np.dtype) -> str:
    # str(dtype) runs numpy's Python-level name formatting on each call.
    return str(dtype)


class Tensor:
    """Namespace for the ndarray<->struct conversions; the at-rest tag
    ``__pyclass__`` points here so decoding is self-describing."""

    @staticmethod
    def from_numpy(arr: np.ndarray) -> Row:
        # asarray keeps a 0-d array 0-d; ascontiguousarray makes it (1,).
        arr_c = np.asarray(arr, order="C")
        packed = arr_c.nbytes >= TENSOR_PACK_MIN_BYTES or arr_c.size == 0
        flat = arr_c.ravel()
        if flat.dtype == np.bool_:
            # The cell is typed array<bigint>, where the JVM nulls
            # Python bools; 0/1 ints decode back to dtype=bool.
            flat = flat.view(np.uint8)
        return Row(
            **{
                PYCLASS_KEY: _TENSOR_PYCLASS,
                "shape": list(arr_c.shape),
                "dtype": _dtype_name(arr_c.dtype),
                "order": "C",
                # tolist() unboxes each element as item() does, in C.
                "values": [] if packed else flat.tolist(),
                "values_packed": bytearray(arr_c.tobytes()) if packed else bytearray(),
            }
        )

    @staticmethod
    def to_numpy(row: Any) -> np.ndarray:
        get = row.__getitem__ if not isinstance(row, dict) else row.get
        shape = list(get("shape"))
        dtype = np.dtype(get("dtype"))
        packed = get("values_packed")
        if packed is not None and len(packed) > 0:
            return np.frombuffer(bytes(packed), dtype=dtype).reshape(shape).copy()
        values = get("values")
        return np.asarray(list(values), dtype=dtype).reshape(shape)

    @staticmethod
    def is_tensor_row(obj: Any) -> bool:
        try:
            return obj[PYCLASS_KEY] == _TENSOR_PYCLASS
        except (KeyError, TypeError, ValueError, IndexError):
            return False
