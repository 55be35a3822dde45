"""Property-based round-trip tests for the codec layer (hypothesis):
for ANY generated object graph, from_row(to_row(x)) == x, and the
deduced schema accepts the encoded row, and ``to_df``'s compiled
encoder ships exactly what ``createDataFrame`` would. Runs driver-side
(no Spark job) so hundreds of examples stay fast, except for one
DataFrame-level check on a few examples; the Spark/parquet leg is
covered by tests/test_codec.py on representative cases.
"""

from __future__ import annotations

import dataclasses

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import Row

from oarphpy_spark.codec import RowAdapter


class Box:
    def __init__(self, payload=None):
        self.payload = payload

    def __eq__(self, other):
        return isinstance(other, Box) and _eq(self.payload, other.payload)


def _eq(a, b) -> bool:
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return (
            isinstance(a, np.ndarray)
            and isinstance(b, np.ndarray)
            and a.dtype == b.dtype
            and a.shape == b.shape
            and np.array_equal(a, b)
        )
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_eq(a[k], b[k]) for k in a)
    return a == b


scalars = st.one_of(
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=20),
    st.binary(max_size=20).map(bytearray),
)

arrays = st.one_of(
    st.lists(st.integers(-1000, 1000), min_size=0, max_size=300).map(
        lambda xs: np.asarray(xs, dtype=np.int64)
    ),
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=0,
        max_size=300,
    ).map(lambda xs: np.asarray(xs, dtype=np.float32)),
)

values = st.recursive(
    st.one_of(scalars, arrays),
    lambda children: st.one_of(
        st.lists(children, min_size=1, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=8), children, min_size=1, max_size=4),
        children.map(Box),
    ),
    max_leaves=8,
)


@given(values)
@settings(max_examples=200, deadline=None)
def test_roundtrip_identity(v):
    obj = Box(payload=v)
    back = RowAdapter.from_row(RowAdapter.to_row(obj))
    assert isinstance(back, Box)
    assert _eq(back.payload, obj.payload)


@given(values)
@settings(max_examples=50, deadline=None)
def test_schema_deducible_for_nonempty(v):
    # Schema deduction must either succeed or raise the documented
    # empty-container error — never crash otherwise.
    try:
        schema = RowAdapter.to_schema(Row(x=v))
    except ValueError as ex:
        assert "empty" in str(ex) or "None" in str(ex)
        return
    assert schema.fieldNames() == ["x"]


class Pair:
    """A plain object: its fields are listed per instance, set here out
    of the sorted order ``to_row`` lists them in."""

    def __init__(self, b=None, a=None):
        self.b, self.a = b, a


@dataclasses.dataclass
class Triple:
    """Fields fixed by the class, declared out of sorted order."""

    z: object = None
    m: object = None
    a: object = None


# Like ``values``, with multi-field objects of both kinds nested in and
# map keys of two types (a key of the other type than the prototype's
# is converted, not passed through).
encoder_values = st.recursive(
    st.one_of(scalars, arrays),
    lambda children: st.one_of(
        st.lists(children, min_size=1, max_size=4),
        st.dictionaries(
            st.one_of(st.text(min_size=1, max_size=8), st.integers(-3, 3)),
            children, min_size=1, max_size=4,
        ),
        children.map(Box),
        st.builds(Pair, children, children),
        st.builds(Triple, children, children, children),
    ),
    max_leaves=8,
)


def _reference_internal(schema, obj):
    """What ``createDataFrame(rows, schema, verifySchema=False)`` ships
    for ``obj``: ``to_row``, the Row-name-dropping converter, then
    ``toInternal``."""
    from pyspark.sql.types import _create_converter

    return schema.toInternal(_create_converter(schema)(RowAdapter.to_row(obj)))


def _encoded_or_error(encode, obj):
    try:
        return encode(obj)
    except Exception as ex:  # noqa: BLE001 — compared, not swallowed
        return type(ex)


@given(st.lists(encoder_values, min_size=1, max_size=4))
@settings(max_examples=300, deadline=None)
def test_compiled_encoder_equals_reference_encoding(vs):
    """The compiled encoder emits exactly the internal tuples
    createDataFrame builds, for every object under the first object's
    schema: same-shaped objects take the compiled plan, others its
    fallback (an error on both sides counts as equal)."""
    from oarphpy_spark.codec.row_adapter import _encoder

    objs = [Box(payload=v) for v in vs]
    try:
        schema = RowAdapter.to_schema(objs[0])
    except ValueError:
        return  # the documented empty-container / None pitfall
    encode = _encoder(schema)
    for o in objs:
        assert _encoded_or_error(encode, o) == _encoded_or_error(
            lambda x: _reference_internal(schema, x), o
        )


@given(st.lists(encoder_values, min_size=1, max_size=3))
@settings(max_examples=8, deadline=None)
def test_to_df_equals_create_dataframe(spark, vs):
    """DataFrame level: to_df's schema, rows and partition count equal
    createDataFrame's over the rows to_row encodes."""
    import pytest

    objs = [Box(payload=v) for v in vs]
    try:
        schema = RowAdapter.to_schema(objs[0])
        for o in objs:
            _reference_internal(schema, o)
    except Exception:  # noqa: BLE001
        return  # untypeable prototype, or objects the schema cannot hold
    want = spark.createDataFrame(
        [RowAdapter.to_row(o) for o in objs], schema=schema, verifySchema=False
    )
    got = RowAdapter.to_df(spark, objs)
    assert got.schema == want.schema
    assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions()
    try:
        want_rows = want.collect()
    except Exception:  # noqa: BLE001 — the JVM rejects a value: so must to_df
        with pytest.raises(Exception):
            got.collect()
        return
    assert got.collect() == want_rows
