"""TF event scan tests: events are hand-encoded with an independent
protobuf wire encoder (below), so the parser is checked against the
spec, not against itself."""

from __future__ import annotations

import struct

from oarphpy_spark.sources.tfevents import parse_event, tf_summary_df
from oarphpy_spark.sources.tfrecords import write_tfrecords


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field(num: int, wire: int, payload: bytes) -> bytes:
    return _varint((num << 3) | wire) + payload


def _scalar_event(wall_time: float, step: int, tags_vals) -> bytes:
    summary = b""
    for tag, val in tags_vals:
        value_msg = _field(1, 2, _varint(len(tag)) + tag.encode()) + _field(
            2, 5, struct.pack("<f", val)
        )
        summary += _field(1, 2, _varint(len(value_msg)) + value_msg)
    ev = (
        _field(1, 1, struct.pack("<d", wall_time))
        + _field(2, 0, _varint(step & ((1 << 64) - 1)))
        + _field(5, 2, _varint(len(summary)) + summary)
    )
    return ev


def test_parse_event_scalars():
    ev = _scalar_event(1234.5, 42, [("loss", 0.25), ("acc", 0.875)])
    rows = parse_event(ev)
    assert [(r["tag"], r["simple_value"]) for r in rows] == [
        ("loss", 0.25),
        ("acc", 0.875),
    ]
    assert all(r["step"] == 42 and r["wall_time"] == 1234.5 for r in rows)


def test_parse_event_negative_step_and_no_summary():
    ev = _field(1, 1, struct.pack("<d", 9.0)) + _field(
        2, 0, _varint((-3) & ((1 << 64) - 1))
    )
    rows = parse_event(ev)
    assert rows == [
        {"wall_time": 9.0, "step": -3, "tag": None, "simple_value": None}
    ]


def test_parse_event_tolerates_unknown_fields():
    # file_version preamble (field 3, string) + an unknown fixed32.
    ev = _field(3, 2, _varint(5) + b"brain") + _field(9, 5, b"\x01\x02\x03\x04")
    rows = parse_event(ev)
    assert rows[0]["tag"] is None


def _value_msg(inner: bytes) -> bytes:
    return _field(1, 2, _varint(len(inner)) + inner)


def _image_event(wall_time: float, step: int, tag: str, h: int, w: int,
                 colorspace: int, png: bytes) -> bytes:
    img = (
        _field(1, 0, _varint(h))
        + _field(2, 0, _varint(w))
        + _field(3, 0, _varint(colorspace))
        + _field(4, 2, _varint(len(png)) + png)
    )
    value = _field(1, 2, _varint(len(tag)) + tag.encode()) + _field(
        4, 2, _varint(len(img)) + img
    )
    summary = _value_msg(value)
    return (
        _field(1, 1, struct.pack("<d", wall_time))
        + _field(2, 0, _varint(step))
        + _field(5, 2, _varint(len(summary)) + summary)
    )


def _tensor_event(step: int, tag: str, dtype: int, shape, content: bytes,
                  packed_floats=None) -> bytes:
    dims = b"".join(
        _field(2, 2, _varint(len(d)) + d)
        for d in (_field(1, 0, _varint(s)) for s in shape)
    )
    tp = _field(1, 0, _varint(dtype)) + _field(2, 2, _varint(len(dims)) + dims)
    if content:
        tp += _field(4, 2, _varint(len(content)) + content)
    if packed_floats is not None:
        blob = b"".join(struct.pack("<f", v) for v in packed_floats)
        tp += _field(5, 2, _varint(len(blob)) + blob)
    value = _field(1, 2, _varint(len(tag)) + tag.encode()) + _field(
        8, 2, _varint(len(tp)) + tp
    )
    summary = _value_msg(value)
    return _field(2, 0, _varint(step)) + _field(
        5, 2, _varint(len(summary)) + summary
    )


def test_parse_event_image_summary():
    import numpy as np

    from oarphpy_spark.sources.tfevents import decode_image_summary
    from oarphpy_spark.util.images import png_encode

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    png = png_encode(img)
    ev = _image_event(7.0, 3, "viz/frame", 2, 3, 3, png)
    rows = parse_event(ev, full=True)
    assert len(rows) == 1
    r = rows[0]
    assert (r["tag"], r["step"]) == ("viz/frame", 3)
    assert (r["image_height"], r["image_width"], r["image_colorspace"]) == (
        2, 3, 3
    )
    assert r["image_png"] == png
    assert np.array_equal(decode_image_summary(r["image_png"]), img)
    # scalar-mode parse of the same event stays on the narrow schema
    assert "image_png" not in parse_event(ev)[0]


def test_parse_event_tensor_content_and_fallback():
    # DT_FLOAT (1) via dense tensor_content
    vals = [1.5, -2.0, 0.25, 8.0]
    content = b"".join(struct.pack("<f", v) for v in vals)
    ev = _tensor_event(5, "t/content", 1, [2, 2], content)
    r = parse_event(ev, full=True)[0]
    assert r["tensor_dtype"] == "float32"
    assert r["tensor_shape"] == [2, 2]
    assert r["tensor_values"] == vals
    # packed float_val fallback (no tensor_content)
    ev2 = _tensor_event(6, "t/packed", 1, [3], b"", packed_floats=[1.0, 2.0, 3.0])
    r2 = parse_event(ev2, full=True)[0]
    assert r2["tensor_values"] == [1.0, 2.0, 3.0]
    # DT_INT64 (9) via tensor_content
    content64 = b"".join(struct.pack("<q", v) for v in [-1, 7])
    r3 = parse_event(_tensor_event(7, "t/i64", 9, [2], content64), full=True)[0]
    assert r3["tensor_dtype"] == "int64"
    assert r3["tensor_values"] == [-1.0, 7.0]


def test_tf_summary_df_full_scan(spark, tmp_path):
    import numpy as np

    from oarphpy_spark.util.images import png_encode

    png = png_encode(np.zeros((4, 5, 3), dtype=np.uint8))
    events = [
        _scalar_event(100.0, 0, [("loss", 2.0)]),
        _image_event(101.0, 1, "viz", 4, 5, 3, png),
        _tensor_event(2, "emb", 1, [2], b"", packed_floats=[0.5, 0.75]),
    ]
    p = tmp_path / "events.out.tfevents.456.host"
    with open(p, "wb") as f:
        write_tfrecords(f, events)

    df = tf_summary_df(spark, str(p), full=True)
    by_tag = {r["tag"]: r for r in df.collect()}
    assert by_tag["loss"]["simple_value"] == 2.0
    assert by_tag["viz"]["image_width"] == 5
    assert bytes(by_tag["viz"]["image_png"]) == png
    assert by_tag["emb"]["tensor_dtype"] == "float32"
    assert list(by_tag["emb"]["tensor_values"]) == [0.5, 0.75]


def test_tf_summary_df_scan(spark, tmp_path):
    events = [
        _scalar_event(100.0, 0, [("loss", 2.0)]),
        _scalar_event(101.0, 1, [("loss", 1.5), ("lr", 0.01)]),
    ]
    p = tmp_path / "events.out.tfevents.123.host"
    with open(p, "wb") as f:
        write_tfrecords(f, events)

    df = tf_summary_df(spark, str(tmp_path / "events.out.tfevents.*"))
    rows = sorted(
        ((r["step"], r["tag"], round(r["simple_value"], 6)) for r in df.collect())
    )
    assert rows == [(0, "loss", 2.0), (1, "loss", 1.5), (1, "lr", 0.01)]


def test_tf_summary_df_reads_run_subdirectories(spark, tmp_path):
    """The usual TensorBoard layout, ``logdir/<run>/events.*``, scans
    from the log directory itself."""
    for run, step in [("train", 0), ("eval", 1)]:
        (tmp_path / run).mkdir()
        with open(tmp_path / run / "events.out.tfevents.1.host", "wb") as f:
            write_tfrecords(f, [_scalar_event(100.0, step, [("loss", 2.0)])])

    df = tf_summary_df(spark, str(tmp_path))
    rows = sorted((r["path"].split("/")[-2], r["step"]) for r in df.collect())
    assert rows == [("eval", 1), ("train", 0)]
