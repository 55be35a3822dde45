"""Round-trip-equals-identity tests for the codec layer (the
reference's core correctness idea, oarphpy_test/test_spark.py:519-1109).
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Row

from oarphpy_spark.codec import CloudpickeledCallable, RowAdapter, Tensor


class DictObj:
    def __init__(self, foo=0, bar=""):
        self.foo = foo
        self.bar = bar

    def __eq__(self, other):
        return (self.foo, self.bar) == (other.foo, other.bar)


class SlotObj:
    __slots__ = ("meow",)

    def __init__(self, meow=0):
        self.meow = meow

    def __eq__(self, other):
        return self.meow == other.meow


def _mod_double(x):
    return x * 2


def _roundtrip_df(spark, objs, tmp_path, proto=None):
    df = RowAdapter.to_df(spark, objs, prototype=proto)
    out = str(tmp_path / "rt.parquet")
    df.write.mode("overwrite").parquet(out)
    return RowAdapter.collect_objects(spark.read.parquet(out))


def test_primitives_roundtrip(spark, tmp_path):
    objs = [DictObj(foo=i, bar=f"s{i}") for i in range(5)]
    back = _roundtrip_df(spark, objs, tmp_path)
    assert sorted(back, key=lambda o: o.foo) == objs


def test_slots_roundtrip(spark, tmp_path):
    objs = [SlotObj(meow=i) for i in range(3)]
    back = _roundtrip_df(spark, objs, tmp_path)
    assert sorted(back, key=lambda o: o.meow) == objs


def test_nested_containers_roundtrip(spark, tmp_path):
    objs = [
        DictObj(foo=1, bar={"k": [DictObj(foo=2, bar="inner")]}),
        DictObj(foo=2, bar={"k": [DictObj(foo=3, bar="x")]}),
    ]
    back = sorted(_roundtrip_df(spark, objs, tmp_path), key=lambda o: o.foo)
    assert back[0].bar["k"][0] == DictObj(foo=2, bar="inner")


@pytest.mark.parametrize(
    "arr",
    [
        np.arange(6, dtype=np.int64),
        np.arange(6, dtype=np.float32).reshape(2, 3),
        np.arange(1024, dtype=np.float64),  # packed (8 KB)
        np.zeros((0,), dtype=np.int32),  # empty
        np.array([True, False, True]),  # bool, stored as 0/1
        np.array(3.5),  # 0-d
        np.array(7, dtype=np.int32),  # 0-d int
    ],
)
def test_tensor_roundtrip(spark, tmp_path, arr):
    objs = [DictObj(foo=1, bar=arr)]
    back = _roundtrip_df(spark, objs, tmp_path)
    assert np.array_equal(back[0].bar, arr)
    assert back[0].bar.dtype == arr.dtype
    assert back[0].bar.shape == arr.shape


def test_tensor_pack_threshold():
    small = Tensor.from_numpy(np.arange(4, dtype=np.int64))
    big = Tensor.from_numpy(np.arange(1000, dtype=np.int64))
    assert len(small["values"]) == 4 and len(small["values_packed"]) == 0
    assert len(big["values"]) == 0 and len(big["values_packed"]) == 8000


def test_callable_roundtrip(spark, tmp_path):
    objs = [DictObj(foo=1, bar=CloudpickeledCallable(_mod_double))]
    back = _roundtrip_df(spark, objs, tmp_path)
    assert back[0].bar(21) == 42


def test_empty_callable_raises():
    cc = CloudpickeledCallable.from_row(
        CloudpickeledCallable().to_row()
    )
    with pytest.raises(ValueError):
        cc(1)


def test_lambda_roundtrip_via_cloudpickle():
    cc = CloudpickeledCallable(lambda x: x + 1)
    back = CloudpickeledCallable.from_row(cc.to_row())
    assert back(41) == 42


def test_numpy_scalar_unboxed():
    assert RowAdapter.to_row(np.float32(1.5)) == 1.5
    assert isinstance(RowAdapter.to_row(np.int32(7)), int)


def test_schema_from_prototype_handles_packed_tensor():
    schema = RowAdapter.to_schema(Row(a=np.arange(10_000, dtype=np.float64)))
    t = schema["a"].dataType
    assert t["values"].dataType.simpleString() == "array<double>"


def test_schema_evolution_removed_field(spark, tmp_path):
    # Write rows having an extra field the class "no longer" has:
    # decode must ignore it (reference oarphpy/spark.py:1112-1118).
    rows = [
        Row(
            __pyclass__=f"{DictObj.__module__}.{DictObj.__qualname__}",
            foo=1,
            bar="x",
            gone=99,
        )
    ]
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "evolve.parquet")
    df.write.mode("overwrite").parquet(out)
    back = RowAdapter.collect_objects(spark.read.parquet(out))
    assert back[0].foo == 1 and back[0].bar == "x"
    assert back[0].gone == 99  # lands as an extra attribute on __dict__ objs


class OuterHolder:
    class InnerPayload:
        def __init__(self, v=0):
            self.v = v

        def __eq__(self, other):
            return self.v == other.v


def test_nested_class_roundtrip(spark, tmp_path):
    objs = [OuterHolder.InnerPayload(v=7)]
    back = _roundtrip_df(spark, objs, tmp_path)
    assert back[0] == OuterHolder.InnerPayload(v=7)


import dataclasses


@dataclasses.dataclass(frozen=True)
class FrozenPoint:
    x: int = 0
    y: str = ""


@dataclasses.dataclass(frozen=True, slots=True)
class FrozenSlotPoint:
    x: int = 0
    y: str = ""


def test_frozen_dataclass_roundtrip(spark, tmp_path):
    """Frozen dataclasses raise FrozenInstanceError (an AttributeError
    subclass) from setattr; decode must not silently drop every field."""
    objs = [FrozenPoint(x=3, y="a"), FrozenPoint(x=4, y="b")]
    back = sorted(_roundtrip_df(spark, objs, tmp_path), key=lambda o: o.x)
    assert back == objs


def test_frozen_slots_dataclass_roundtrip(spark, tmp_path):
    objs = [FrozenSlotPoint(x=5, y="c")]
    back = _roundtrip_df(spark, objs, tmp_path)
    assert back == objs


class _SlotlessBase:
    pass


class HybridSlots(_SlotlessBase):
    # subclass __slots__ under a slot-less base: instances have BOTH a
    # __dict__ and slot descriptors; writes must route through the
    # descriptor or reads hit the (empty) slot, not __dict__
    __slots__ = ("x",)

    def __eq__(self, other):
        return self.x == other.x


def test_dict_plus_slots_hybrid_roundtrip(spark, tmp_path):
    o = HybridSlots()
    o.x = 11
    back = _roundtrip_df(spark, [o], tmp_path)
    assert back[0].x == 11


def test_to_df_matches_create_dataframe_without_a_python_task(spark):
    objs = [DictObj(foo=i, bar=f"b{i}") for i in range(10)] + [DictObj(foo=None, bar=None)]
    schema = RowAdapter.to_schema(objs[0])
    rows = [RowAdapter.to_row(o) for o in objs]
    want = spark.createDataFrame(rows, schema=schema, verifySchema=False)

    df = RowAdapter.to_df(spark, objs)
    assert df.schema == want.schema
    assert df.rdd.getNumPartitions() == want.rdd.getNumPartitions()
    assert df.collect() == want.collect()
    # createDataFrame re-pickles its rows in a Python worker first.
    assert "PythonRDD[" in want._jdf.rdd().toDebugString()
    assert "PythonRDD[" not in df._jdf.rdd().toDebugString()


class Holder:
    def __init__(self, child=None, arr=None, tag=""):
        self.child = child
        self.arr = arr
        self.tag = tag


def _assert_to_df_equals_create_dataframe(spark, objs, proto=None):
    schema = RowAdapter.to_schema(proto if proto is not None else objs[0])
    want = spark.createDataFrame(
        [RowAdapter.to_row(o) for o in objs], schema=schema, verifySchema=False
    )
    got = RowAdapter.to_df(spark, objs, prototype=proto)
    assert got.schema == want.schema
    assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions()
    assert got.collect() == want.collect()
    return got


def _evolved_holder():
    # An instance written before ``gone`` was removed from the class
    # still carries it; the schema comes from a current prototype.
    h = Holder(child=DictObj(foo=9, bar="z"), arr=np.arange(2), tag="old")
    h.gone = 5
    return h


_EDGE_CASES = {
    "none_nested_object_and_tensor": [
        Holder(child=DictObj(foo=1, bar="a"), arr=np.arange(3), tag="x"),
        Holder(child=None, arr=None, tag=None),
    ],
    "empty_zero_d_and_bool_tensors": [
        Holder(child=DictObj(), arr=np.zeros(0), tag="empty"),
        Holder(child=DictObj(), arr=np.array(3.5), tag="0-d"),
        Holder(child=DictObj(), arr=np.array([True, False]), tag="bool"),
        Holder(child=DictObj(), arr=np.zeros((0, 3), np.int32), tag="empty-2d"),
        Holder(child=DictObj(), arr=np.ones((40, 40), np.float32), tag="packed"),
    ],
    "slots_dict_hybrids": [HybridSlots(), HybridSlots()],
    "frozen_dataclasses": [FrozenPoint(x=1, y="a"), FrozenPoint(x=2, y="b")],
    "frozen_slots_dataclasses": [FrozenSlotPoint(x=3, y="c")],
    "removed_field_on_old_instances": [
        Holder(child=DictObj(foo=1, bar="a"), arr=np.arange(2), tag="new"),
        _evolved_holder(),
    ],
    "callables_and_maps": [
        DictObj(foo={"k": CloudpickeledCallable(_mod_double)}, bar=[b"\x00", b""]),
        DictObj(foo={"k": CloudpickeledCallable()}, bar=[]),
    ],
}
for _i, _h in enumerate(_EDGE_CASES["slots_dict_hybrids"]):
    _h.x = _i
    _h.extra = f"dict-{_i}"  # lands in __dict__ beside the slot


@pytest.mark.parametrize("case", sorted(_EDGE_CASES))
def test_to_df_equals_create_dataframe_on_edge_objects(spark, case):
    _assert_to_df_equals_create_dataframe(spark, _EDGE_CASES[case])


def test_to_df_decodes_edge_objects(spark, tmp_path):
    objs = _EDGE_CASES["none_nested_object_and_tensor"]
    back = _roundtrip_df(spark, objs, tmp_path)
    back = sorted(back, key=lambda o: o.tag is None)
    assert back[0].child == DictObj(foo=1, bar="a")
    assert np.array_equal(back[0].arr, np.arange(3))
    assert back[1].child is None and back[1].arr is None


def test_to_df_of_no_objects_needs_a_prototype(spark):
    with pytest.raises(ValueError, match="prototype"):
        RowAdapter.to_df(spark, [])
    df = RowAdapter.to_df(spark, [], prototype=DictObj(foo=1, bar="a"))
    assert df.schema == RowAdapter.to_schema(DictObj(foo=1, bar="a"))
    assert df.count() == 0
