"""Object-graph <-> Spark row codec.

Capability parity with the reference's ``RowAdapter``
(reference ``oarphpy/spark.py:1091-1250``): arbitrary Python objects —
dataclasses, attrs classes, plain ``__dict__`` objects, ``__slots__``
objects, numpy arrays, wrapped callables, nested containers — persist
as plain SQL structs tagged with a ``__pyclass__`` field, and decode
back to live objects. No Spark UDTs (same stance as the reference,
``oarphpy/spark.py:1102-1107``): the parquet stays readable by any
engine; ``__pyclass__`` is just a string column.

Schema-evolution contract (mirrors reference ``oarphpy/spark.py:
1112-1118, 1210-1222``): decoding ignores at-rest fields the class no
longer has; fields added since write keep their class defaults (the
instance simply lacks them unless the class provides defaults); type
changes take data-at-rest.
"""

from __future__ import annotations

import dataclasses
import importlib
from typing import Any

import numpy as np

from pyspark.sql import Row

from oarphpy_spark.codec.callables import CloudpickeledCallable
from oarphpy_spark.codec.tensor import Tensor

PYCLASS_KEY = "__pyclass__"


def _infer_type(obj: Any):
    """Spark SQL type for a prototype value — codec-aware (Tensor /
    CloudpickeledCallable structs typed explicitly) so packed tensors
    and wrapped callables always get concrete schemas."""
    from pyspark.sql import types as T

    if obj is None:
        raise ValueError(
            "cannot infer a type from None — supply a prototype with "
            "non-None values (reference pitfall: test_spark.py:550-571)"
        )
    if isinstance(obj, bool):
        return T.BooleanType()
    if isinstance(obj, int):
        return T.LongType()
    if isinstance(obj, float):
        return T.DoubleType()
    if isinstance(obj, str):
        return T.StringType()
    if isinstance(obj, (bytes, bytearray)):
        return T.BinaryType()
    if isinstance(obj, np.generic):
        return _infer_type(obj.item())
    if isinstance(obj, np.ndarray):
        elem = T.LongType() if obj.dtype.kind in "iub" else T.DoubleType()
        return T.StructType(
            [
                T.StructField(PYCLASS_KEY, T.StringType(), False),
                T.StructField("shape", T.ArrayType(T.LongType()), True),
                T.StructField("dtype", T.StringType(), True),
                T.StructField("order", T.StringType(), True),
                T.StructField("values", T.ArrayType(elem), True),
                T.StructField("values_packed", T.BinaryType(), True),
            ]
        )
    if isinstance(obj, CloudpickeledCallable):
        return T.StructType(
            [
                T.StructField(PYCLASS_KEY, T.StringType(), False),
                T.StructField("func_bytes", T.BinaryType(), True),
                T.StructField("func_pyclass", T.StringType(), True),
            ]
        )
    if isinstance(obj, Row):
        d = obj.asDict()
        return T.StructType(
            [T.StructField(k, _infer_type(v), True) for k, v in d.items()]
        )
    if isinstance(obj, dict):
        if not obj:
            raise ValueError("cannot infer schema from an empty dict prototype")
        k, v = next(iter(obj.items()))
        return T.MapType(_infer_type(k), _infer_type(v), True)
    if isinstance(obj, (list, tuple)):
        if not obj:
            raise ValueError("cannot infer schema from an empty list prototype")
        return T.ArrayType(_infer_type(obj[0]), True)
    # Arbitrary object -> tagged struct over its (sorted) fields.
    fields = _object_fields(obj)
    return T.StructType(
        [T.StructField(PYCLASS_KEY, T.StringType(), False)]
        + [T.StructField(k, _infer_type(v), True) for k, v in fields.items()]
    )


def _pyclass_of(obj: Any) -> str:
    cls = type(obj)
    return f"{cls.__module__}.{cls.__qualname__}"


def _resolve_class(pyclass: str) -> type:
    """Resolve 'pkg.mod.Outer.Inner' by importing the longest importable
    module prefix, then walking attributes (handles nested classes)."""
    parts = pyclass.split(".")
    last_err = None
    for i in range(len(parts) - 1, 0, -1):
        mod_name = ".".join(parts[:i])
        try:
            mod = importlib.import_module(mod_name)
        except ImportError as ex:
            last_err = ex
            continue
        obj = mod
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ImportError(f"cannot resolve {pyclass!r}") from last_err


def _object_fields(obj: Any) -> dict[str, Any]:
    """Instance fields in deterministic (sorted) order for stable schemas."""
    if dataclasses.is_dataclass(obj):
        fields = {f.name: getattr(obj, f.name) for f in dataclasses.fields(obj)}
    elif hasattr(obj, "__attrs_attrs__"):
        fields = {a.name: getattr(obj, a.name) for a in obj.__attrs_attrs__}
    elif hasattr(obj, "__dict__") or hasattr(type(obj), "__slots__"):
        # Merge __dict__ with every __slots__ member across the MRO: a
        # subclass with __slots__ under a slot-less base has BOTH, and
        # slots can also be declared at several inheritance levels.
        fields = dict(getattr(obj, "__dict__", {}))
        for klass in type(obj).__mro__:
            slots = getattr(klass, "__slots__", ())
            for s in ([slots] if isinstance(slots, str) else slots):
                if s not in ("__dict__", "__weakref__") and hasattr(obj, s):
                    fields[s] = getattr(obj, s)
    else:
        raise TypeError(f"cannot adapt {type(obj)}")
    return dict(sorted(fields.items()))


class RowAdapter:
    """Static codec: ``to_row`` / ``from_row`` / ``to_schema``."""

    @staticmethod
    def to_row(obj: Any) -> Any:
        enc = RowAdapter.to_row
        if obj is None or isinstance(obj, (bool, int, float, str)):
            return obj
        if isinstance(obj, (bytes, bytearray)):
            return bytearray(obj)
        if isinstance(obj, np.ndarray):
            return Tensor.from_numpy(obj)
        if isinstance(obj, np.generic):  # numpy boxed scalar -> python scalar
            return obj.item()
        if isinstance(obj, CloudpickeledCallable):
            return obj.to_row()
        if isinstance(obj, Row):
            return Row(**{k: enc(v) for k, v in obj.asDict().items()})
        if isinstance(obj, dict):
            return {k: enc(v) for k, v in obj.items()}
        if isinstance(obj, (list, tuple)):
            return [enc(v) for v in obj]
        # Arbitrary object -> tagged struct.
        fields = _object_fields(obj)
        return Row(
            **{PYCLASS_KEY: _pyclass_of(obj)},
            **{k: enc(v) for k, v in fields.items()},
        )

    @staticmethod
    def from_row(obj: Any) -> Any:
        dec = RowAdapter.from_row
        if isinstance(obj, Row):
            d = obj.asDict()
            if Tensor.is_tensor_row(d):
                return Tensor.to_numpy(d)
            if CloudpickeledCallable.is_cc_row(d):
                return CloudpickeledCallable.from_row(d)
            if PYCLASS_KEY in d:
                pyclass = d.pop(PYCLASS_KEY)
                cls = _resolve_class(pyclass)
                inst = cls.__new__(cls)  # no-ctor materialization
                for k, v in d.items():
                    try:
                        # object.__setattr__, not plain setattr: it
                        # bypasses frozen dataclass/attrs guards (like
                        # dataclass __init__ does — their
                        # FrozenInstanceError is an AttributeError
                        # subclass a setattr try/except would silently
                        # swallow, losing every field), routes slot
                        # descriptors correctly even on __dict__+slots
                        # hybrids, and still raises AttributeError for
                        # a slot dropped from the class since write.
                        object.__setattr__(inst, k, dec(v))
                    except AttributeError:
                        pass  # field's slot no longer exists
                return inst
            return Row(**{k: dec(v) for k, v in d.items()})
        if isinstance(obj, dict):
            return {k: dec(v) for k, v in obj.items()}
        if isinstance(obj, list):
            return [dec(v) for v in obj]
        return obj

    @staticmethod
    def to_schema(prototype: Any):
        """StructType deduced from a prototype object.

        Unlike sample-based inference, this types Tensor structs from
        their numpy dtype — so packed tensors (whose ``values`` list is
        empty) still get a concrete ``array<T>`` schema. Empty plain
        containers still need a non-empty prototype (the reference's
        documented pitfall, ``oarphpy_test/test_spark.py:595-629``).
        """
        dt = _infer_type(prototype)
        from pyspark.sql import types as T

        if not isinstance(dt, T.StructType):
            raise TypeError(f"prototype must map to a struct, got {dt}")
        return dt

    # ------------------------------------------------------------------
    # DataFrame-level conveniences
    # ------------------------------------------------------------------

    @staticmethod
    def to_df(spark, objs: list, prototype: Any = None):
        """Encode objects and build a DataFrame (schema from a prototype
        so all-empty/None columns still type correctly).

        Same rows and partitions as ``spark.createDataFrame(rows,
        schema, verifySchema=False)``, without its Python tasks: that
        call re-pickles the parallelized rows in a Python worker
        (``RDD._pickled``) before the JVM unpickles them, once per
        partition and again on every action. The JVM reads the rows as
        ``parallelize`` pickled them instead (``SerDeUtil.pythonToJava``
        takes both batch framings). Needs a classic (non-Connect)
        session.
        """
        from pyspark.sql import DataFrame

        proto = prototype if prototype is not None else objs[0]
        schema = RowAdapter.to_schema(proto)
        rows = [RowAdapter.to_row(o) for o in objs]
        rdd, struct = spark._createFromLocal(rows, schema)
        serde = spark._jvm.SerDeUtil
        jrdd = serde.toJavaArray(serde.pythonToJava(rdd._jrdd, True))
        jdf = spark._jsparkSession.applySchemaToPythonRDD(jrdd.rdd(), struct.json())
        df = DataFrame(jdf, spark)
        df._schema = struct
        return df

    @staticmethod
    def collect_objects(df) -> list:
        return [RowAdapter.from_row(r) for r in df.collect()]
