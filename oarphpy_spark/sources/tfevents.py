"""TensorBoard event-file scan WITHOUT TensorFlow installed.

Capability parity with the reference's ``TFSummaryReader``
(``oarphpy/util/tfutil.py:253-302``), which required the TF runtime to
iterate event files. Redesign: an event file is just a TFRecord stream
(``oarphpy_spark.sources.tfrecords``) of ``Event`` protobuf messages,
and the two message shapes we surface (scalars + wall_time/step) need
only protobuf *wire-format* walking — varints and length-delimited
fields, no generated classes, no protobuf runtime.

Field numbers used (public tensorflow/core/util/event.proto and
tensorflow/core/framework/summary.proto):

* ``Event``: 1 = wall_time (double), 2 = step (int64),
  5 = summary (message)
* ``Summary``: 1 = repeated Value (message)
* ``Summary.Value``: 1 = tag (string), 2 = simple_value (float),
  4 = image (Summary.Image), 8 = tensor (TensorProto)
* ``Summary.Image``: 1 = height, 2 = width, 3 = colorspace
  (all int32), 4 = encoded_image_string (bytes — PNG per the proto
  docs)
* ``TensorProto``: 1 = dtype (enum), 2 = tensor_shape
  (TensorShapeProto: 2 = repeated Dim{1 = size}), 4 = tensor_content
  (packed little-endian bytes), and the repeated fallback encodings
  5 = float_val, 6 = double_val, 7 = int_val, 10 = int64_val,
  11 = bool_val (all ``[packed = true]`` on modern writers, but
  unpacked wire forms are accepted too)

Parity note: the reference's ``TFSummaryReader`` additionally decodes
images via imageio and tensors via ``tf.make_ndarray``
(``oarphpy/util/tfutil.py:229-238``); here image summaries surface
dims + encoded PNG bytes (decode with
``oarphpy_spark.util.images.png_decode`` — see
``decode_image_summary``) and tensors surface dtype/shape/values, so
neither TF nor imageio is ever required.

Scan is distributed: records come from the ``tfrecords`` data source
(``tfrecords_df``), which streams each file on an executor, and only
the ``parse_event`` step runs in Arrow-batched ``mapInPandas``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from oarphpy_spark.sources.tfrecords import tfrecords_df


def iter_proto_fields(data: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) triples from one
    serialized protobuf message. Values: int for varint, bytes for
    length-delimited, raw little-endian bytes for fixed32/fixed64.
    Unknown/deprecated wire types terminate the walk gracefully."""
    i, n = 0, len(data)
    while i < n:
        key, i = _read_varint(data, i)
        if key is None:
            return
        field, wire = key >> 3, key & 7
        if wire == 0:  # varint
            val, i = _read_varint(data, i)
            if val is None:
                return
        elif wire == 1:  # fixed64
            if i + 8 > n:
                return
            val, i = data[i : i + 8], i + 8
        elif wire == 2:  # length-delimited
            ln, i = _read_varint(data, i)
            if ln is None or i + ln > n:
                return
            val, i = data[i : i + ln], i + ln
        elif wire == 5:  # fixed32
            if i + 4 > n:
                return
            val, i = data[i : i + 4], i + 4
        else:  # groups (3/4) — long-deprecated; stop rather than guess
            return
        yield field, wire, val


def _read_varint(data: bytes, i: int) -> tuple[int | None, int]:
    result, shift = 0, 0
    while i < len(data):
        b = data[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, i
        shift += 7
        if shift > 63:
            break
    return None, i


# Public tensorflow/core/framework/types.proto DataType enum values we
# can meaningfully turn into array<double> tensor values.
_DTYPE_NAMES = {
    1: "float32", 2: "float64", 3: "int32", 4: "uint8", 5: "int16",
    6: "int8", 7: "string", 9: "int64", 10: "bool", 17: "uint16",
    22: "uint32", 23: "uint64",
}
_DTYPE_STRUCT = {
    1: ("<f", 4), 2: ("<d", 8), 3: ("<i", 4), 4: ("<B", 1), 5: ("<h", 2),
    6: ("<b", 1), 9: ("<q", 8), 10: ("<?", 1), 17: ("<H", 2),
    22: ("<I", 4), 23: ("<Q", 8),
}


def _to_signed64(val: int) -> int:
    """int64 varints are two's-complement on the wire."""
    return val - (1 << 64) if val >= (1 << 63) else val


def _parse_summary_image(data: bytes) -> dict:
    """``Summary.Image`` message -> height/width/colorspace/png bytes."""
    out = {"image_height": None, "image_width": None,
           "image_colorspace": None, "image_png": None}
    for field, wire, val in iter_proto_fields(data):
        if field == 1 and wire == 0:
            out["image_height"] = _to_signed64(val)
        elif field == 2 and wire == 0:
            out["image_width"] = _to_signed64(val)
        elif field == 3 and wire == 0:
            out["image_colorspace"] = _to_signed64(val)
        elif field == 4 and wire == 2:
            out["image_png"] = bytes(val)
    return out


def _iter_packed_or_single(wire: int, val: object, fmt: str, width: int):
    """A repeated scalar field arrives either packed (one wire-type-2
    blob of back-to-back encodings) or as one value per key; yield the
    numeric values either way."""
    if wire == 2:  # packed
        data = val
        if fmt is None:  # packed varints
            i = 0
            while i < len(data):
                v, i = _read_varint(data, i)
                if v is None:
                    return
                yield _to_signed64(v)
        else:
            for i in range(0, len(data) - width + 1, width):
                yield struct.unpack(fmt, data[i : i + width])[0]
    elif wire == 0 and fmt is None:
        yield _to_signed64(val)
    elif wire == 5 and width == 4:
        yield struct.unpack(fmt, val)[0]
    elif wire == 1 and width == 8:
        yield struct.unpack(fmt, val)[0]


def _parse_tensor_proto(data: bytes) -> dict:
    """``TensorProto`` message -> dtype name, shape, values as doubles.

    Values come from ``tensor_content`` (dense little-endian packing,
    what ``tf.make_ndarray`` reads first — reference parity:
    ``oarphpy/util/tfutil.py:238``) or, when absent, from the typed
    repeated fallback fields modern summary writers use for small
    tensors."""
    dtype_code = None
    shape: list[int] = []
    content: bytes | None = None
    fallback: list[float] = []
    for field, wire, val in iter_proto_fields(data):
        if field == 1 and wire == 0:
            dtype_code = val
        elif field == 2 and wire == 2:  # TensorShapeProto
            for sfield, swire, sval in iter_proto_fields(val):
                if sfield == 2 and swire == 2:  # Dim
                    for dfield, dwire, dval in iter_proto_fields(sval):
                        if dfield == 1 and dwire == 0:
                            shape.append(_to_signed64(dval))
        elif field == 4 and wire == 2:
            content = bytes(val)
        elif field == 5:  # float_val
            fallback.extend(_iter_packed_or_single(wire, val, "<f", 4))
        elif field == 6:  # double_val
            fallback.extend(_iter_packed_or_single(wire, val, "<d", 8))
        elif field in (7, 10, 11):  # int_val / int64_val / bool_val
            fallback.extend(_iter_packed_or_single(wire, val, None, 0))
    values: list[float] | None = None
    if content and dtype_code in _DTYPE_STRUCT:
        fmt, width = _DTYPE_STRUCT[dtype_code]
        values = [
            float(struct.unpack(fmt, content[i : i + width])[0])
            for i in range(0, len(content) - width + 1, width)
        ]
    elif fallback:
        values = [float(v) for v in fallback]
    return {
        "tensor_dtype": _DTYPE_NAMES.get(dtype_code),
        "tensor_shape": shape if (dtype_code is not None) else None,
        "tensor_values": values,
    }


_EMPTY_EXTRAS = {
    "image_height": None, "image_width": None, "image_colorspace": None,
    "image_png": None, "tensor_dtype": None, "tensor_shape": None,
    "tensor_values": None,
}


def parse_event(event_bytes: bytes, full: bool = False) -> list[dict]:
    """One serialized ``Event`` -> rows, one per summary value (or a
    single tag-less row when the event carries no summary, e.g. the
    file-version preamble). With ``full=True`` each row additionally
    carries decoded image-summary (height/width/colorspace/png bytes)
    and tensor-summary (dtype/shape/values) columns, matching the
    reference ``TFSummaryReader``'s scalar+image+tensor fillers
    (``oarphpy/util/tfutil.py:227-238``) without TF or imageio."""
    wall_time, step = 0.0, 0
    values: list[dict] = []
    for field, wire, val in iter_proto_fields(event_bytes):
        if field == 1 and wire == 1:
            (wall_time,) = struct.unpack("<d", val)
        elif field == 2 and wire == 0:
            step = _to_signed64(val)
        elif field == 5 and wire == 2:
            for sfield, swire, sval in iter_proto_fields(val):
                if sfield == 1 and swire == 2:
                    tag, simple = None, None
                    extras = dict(_EMPTY_EXTRAS) if full else {}
                    for vfield, vwire, vval in iter_proto_fields(sval):
                        if vfield == 1 and vwire == 2:
                            tag = vval.decode("utf-8", errors="replace")
                        elif vfield == 2 and vwire == 5:
                            (simple,) = struct.unpack("<f", vval)
                        elif full and vfield == 4 and vwire == 2:
                            extras.update(_parse_summary_image(vval))
                        elif full and vfield == 8 and vwire == 2:
                            extras.update(_parse_tensor_proto(vval))
                    if tag is not None:
                        values.append(
                            {"tag": tag, "simple_value": simple, **extras}
                        )
    if not values:
        base = {"wall_time": wall_time, "step": step, "tag": None,
                "simple_value": None}
        if full:
            base.update(_EMPTY_EXTRAS)
        return [base]
    return [{"wall_time": wall_time, "step": step, **v} for v in values]


def decode_image_summary(image_png: bytes):
    """Decode an image-summary's encoded PNG bytes to an HxWxC numpy
    array via the repo's dependency-free PNG codec — the TF-free
    equivalent of the reference's ``imageio.imread(
    summary.image.encoded_image_string)`` (``oarphpy/util/tfutil.py:
    229-232``)."""
    from oarphpy_spark.util.images import png_decode

    return png_decode(image_png)


TFEVENTS_SCHEMA = (
    "path string, step bigint, wall_time double, tag string, "
    "simple_value double"
)

TFEVENTS_FULL_SCHEMA = TFEVENTS_SCHEMA + (
    ", image_height bigint, image_width bigint, image_colorspace bigint"
    ", image_png binary, tensor_dtype string, tensor_shape array<bigint>"
    ", tensor_values array<double>"
)


_SCALAR_COLS = ["path", "step", "wall_time", "tag", "simple_value"]
_FULL_COLS = _SCALAR_COLS + [
    "image_height", "image_width", "image_colorspace", "image_png",
    "tensor_dtype", "tensor_shape", "tensor_values",
]


def tf_summary_df(
    spark: SparkSession, path_glob: str, full: bool = False
) -> DataFrame:
    """Scan TensorBoard event files matching ``path_glob`` (file, glob
    or log directory, searched recursively as :func:`tfrecords_df`
    does; local or POSIX-mounted paths only) into rows of
    (path, step, wall_time, tag, simple_value) — plus, with
    ``full=True``, decoded image-summary dims/PNG-bytes and
    tensor-summary dtype/shape/values columns (the reference
    ``TFSummaryReader``'s full row shape, TF-free)."""
    cols = _FULL_COLS if full else _SCALAR_COLS

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {"path": path, **r}
                for path, rec in zip(pdf["path"], pdf["record"])
                for r in parse_event(rec, full=full)
            ]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    schema = TFEVENTS_FULL_SCHEMA if full else TFEVENTS_SCHEMA
    records = tfrecords_df(spark, path_glob).select("path", "record")
    return records.mapInPandas(explode, schema=schema)
