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
import functools
import importlib
from collections.abc import Callable
from typing import Any

import numpy as np

from pyspark.sql import Row
from pyspark.sql import types as T
from pyspark.sql.types import _create_converter

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


#: Types ``to_row`` returns as they are.
_PLAIN = frozenset((type(None), bool, int, float, str))

#: Types ``to_row`` handles before its arbitrary-object branch.
_NOT_OBJECTS = (
    bool, int, float, str, bytes, bytearray, np.ndarray, np.generic,
    CloudpickeledCallable, Row, dict, list, tuple,
)

_TENSOR_STRUCTS = (
    _infer_type(np.zeros(1, np.int64)), _infer_type(np.zeros(1, np.float64))
)
_CALLABLE_STRUCT = _infer_type(CloudpickeledCallable())


def _reference_encoder(dt) -> Callable[[Any], Any]:
    """``createDataFrame``'s encoding of a value at a ``dt`` position:
    ``to_row``, the converter that drops ``Row`` field names, then
    ``toInternal``. The compiled plan falls back to it for any value
    whose runtime shape the plan does not cover."""
    conv = _create_converter(dt)
    return lambda v: dt.toInternal(conv(RowAdapter.to_row(v)))


@functools.lru_cache(maxsize=32)
def _encoder(schema) -> Callable[[Any], Any]:
    """Per-schema encoder, compiled once: object -> the Spark-internal
    tuple that ``schema.toInternal`` gives for ``to_row(object)``."""
    return _compile(schema)


def _compile(dt) -> Callable[[Any], Any]:
    """Encoder for the values at a ``dt`` position. Each node handles
    the value shapes the prototype typed it for and hands any other
    value to :func:`_reference_encoder`, so the output is the
    reference encoding whatever the value."""
    ref = _reference_encoder(dt)
    if isinstance(dt, T.StructType):
        return _compile_struct(dt, ref)
    if isinstance(dt, T.ArrayType):
        elem = _compile(dt.elementType)
        return lambda v: (
            [elem(x) for x in v] if type(v) is list or type(v) is tuple else ref(v)
        )
    if isinstance(dt, T.MapType):
        # to_row leaves keys as they are; the converter and toInternal
        # still apply to them.
        kconv, kt = _create_converter(dt.keyType), dt.keyType
        val = _compile(dt.valueType)
        return lambda v: (
            {kt.toInternal(kconv(k)): val(x) for k, x in v.items()}
            if type(v) is dict else ref(v)
        )
    if isinstance(dt, T.StringType):
        return lambda v: v if type(v) is str or v is None else ref(v)
    # Numeric, boolean and binary values need no conversion after to_row.
    return lambda v: v if type(v) in _PLAIN else ref(v)


def _compile_struct(dt, ref) -> Callable[[Any], Any]:
    if dt in _TENSOR_STRUCTS:
        return lambda v: (
            tuple(Tensor.from_numpy(v)) if type(v) is np.ndarray
            else None if v is None else ref(v)
        )
    if dt == _CALLABLE_STRUCT:
        return lambda v: (
            tuple(v.to_row()) if type(v) is CloudpickeledCallable
            else None if v is None else ref(v)
        )
    if not dt.names or dt.names[0] != PYCLASS_KEY:
        return ref
    encs = [_compile(f.dataType) for f in dt.fields[1:]]
    pyclasses: dict[type, str | None] = {}  # None: not an object to_row tags

    def enc_object(v):
        if v is None:
            return None
        cls = type(v)
        if cls not in pyclasses:
            pyclasses[cls] = None if issubclass(cls, _NOT_OBJECTS) else _pyclass_of(v)
        pyclass = pyclasses[cls]
        if pyclass is None:
            return ref(v)
        # Positional, like the converter and toInternal on to_row's Row:
        # an object whose fields differ from the schema's lines up (and
        # truncates) exactly as it does there.
        return (pyclass, *[e(x) for e, x in zip(encs, _object_fields(v).values())])

    return enc_object


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
        """Encode objects and build a DataFrame, typed by
        ``to_schema(prototype)`` (default: the first object), so columns
        that are empty or None in some objects still type correctly.

        The rows, schema and partitions equal those of
        ``spark.createDataFrame([to_row(o) for o in objs], schema,
        verifySchema=False)``, at a fraction of its driver cost and
        with no Python task:

        * An encoder compiled once per schema walks the ``StructType``
          and emits Spark's internal tuples straight from the objects:
          tensor and callable structs, ``__pyclass__`` objects (their
          fields read in ``to_row``'s order), arrays, maps and binary.
          No ``Row`` is built, and no per-row ``toInternal`` pass
          follows. A value whose shape the schema
          does not describe falls back to ``to_row`` and
          ``toInternal``, so the result is the same whatever the
          objects hold.
        * The JVM reads the rows as ``parallelize`` pickled them
          (``SerDeUtil.pythonToJava`` takes both batch framings).
          ``createDataFrame`` instead re-pickles them in a Python
          worker (``RDD._pickled``), once per partition and again on
          every action.

        Needs a classic (non-Connect) session. Raises ``ValueError``
        when ``objs`` is empty and no ``prototype`` is given.
        """
        from pyspark.sql import DataFrame

        if prototype is None:
            if not objs:
                raise ValueError(
                    "to_df of no objects needs a prototype= to type the schema"
                )
            prototype = objs[0]
        schema = RowAdapter.to_schema(prototype)
        rdd = spark.sparkContext.parallelize(list(map(_encoder(schema), objs)))
        serde = spark._jvm.SerDeUtil
        jrdd = serde.toJavaArray(serde.pythonToJava(rdd._jrdd, True))
        jdf = spark._jsparkSession.applySchemaToPythonRDD(jrdd.rdd(), schema.json())
        df = DataFrame(jdf, spark)
        df._schema = schema
        return df

    @staticmethod
    def collect_objects(df) -> list:
        return [RowAdapter.from_row(r) for r in df.collect()]
