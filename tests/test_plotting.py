from __future__ import annotations

from pyspark.sql import Row

import pathlib

import pytest

from oarphpy_spark.operators.histogram import df_histogram, histogram_with_examples
from oarphpy_spark.plotting import (
    hash_to_rgb,
    render_histogram_html,
    render_histogram_interactive_html,
)

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"


def test_hash_to_rgb_stable_and_bounded():
    c1, c2 = hash_to_rgb("a"), hash_to_rgb("a")
    assert c1 == c2
    assert all(64 <= v < 192 for v in c1)
    assert hash_to_rgb("a") != hash_to_rgb("b")


def test_render_histogram_html(spark):
    df = spark.createDataFrame([Row(a=i) for i in range(101)])
    html = render_histogram_html(df_histogram(df, "a", 4), title="a-hist")
    assert "<svg" in html and "<table>" in html
    assert html.count("<rect") == 4
    assert "a-hist" in html
    # deterministic output
    assert html == render_histogram_html(df_histogram(df, "a", 4), title="a-hist")


def test_render_with_examples(spark):
    df = spark.createDataFrame([Row(a=i, k=i * 10) for i in range(50)])
    h = histogram_with_examples(df, "a", [0.0, 25.0, 50.0], example_cols=["k"], n_examples=3)
    html = render_histogram_html(h, title="ex")
    assert html.count("<rect") == 2
    assert "Row(" in html or "," in html  # example cells populated


def _interactive_fixture(spark):
    df = spark.createDataFrame([Row(a=i, k=i * 10) for i in range(50)])
    h = histogram_with_examples(
        df, "a", [0.0, 25.0, 50.0], example_cols=["k"], n_examples=3
    )
    return render_histogram_interactive_html(h, title="iex", width_px=320)


def test_render_interactive_structure(spark):
    html = _interactive_fixture(spark)
    # hover: per-bar tooltip + JS opacity handlers; tap: context box fill
    assert html.count('<rect class="hb"') == 2
    assert "mouseenter" in html and "addEventListener" in html
    assert 'id="hctx"' in html and "Click on a histogram bar" in html
    assert "proportion=" in html
    # examples payload rides inside the document (tap-to-show data)
    assert "<li>" in html


def test_render_interactive_golden(spark):
    """Golden-file compare — the same artifact-regression strategy as
    the reference's PNG-compare test (oarphpy_test/test_plotting.py:
    74-100), on a deterministic HTML artifact instead of pixels.

    A MISSING golden is a hard failure (a silently regenerated golden
    would make the test vacuously pass). After an intentional renderer
    change, regenerate with::

        OARPHPY_SPARK_REGEN_GOLDENS=1 python -m pytest \
            tests/test_plotting.py::test_render_interactive_golden
    """
    import os

    html = _interactive_fixture(spark)
    golden = GOLDEN_DIR / "hist_interactive_golden.html"
    if os.environ.get("OARPHPY_SPARK_REGEN_GOLDENS") == "1":
        GOLDEN_DIR.mkdir(exist_ok=True)
        golden.write_text(html)
    assert golden.exists(), (
        f"golden file missing: {golden} — regenerate with "
        "OARPHPY_SPARK_REGEN_GOLDENS=1 pytest tests/test_plotting.py"
    )
    assert html == golden.read_text()


def test_to_bokeh_layout_parity(spark):
    """Skipped-unless-bokeh: the figure-object adapter must return the
    reference's layout shape (column of [figure, Div], quad glyphs
    over a source carrying count/proportion/left/right/display, tap
    callback wired to the Div) — reference plotting.py:305-365."""
    bokeh = pytest.importorskip("bokeh")  # noqa: F841 — optional dep
    from bokeh.models import Div
    from bokeh.plotting import figure as _Figure  # noqa: N813

    from oarphpy_spark.operators.histogram import df_histogram
    from oarphpy_spark.plotting import to_bokeh

    df = spark.range(100).selectExpr("cast(id as double) AS x")
    layout = to_bokeh(df_histogram(df, "x", 10), title="x")
    fig, ctxbox = layout.children
    assert isinstance(ctxbox, Div)
    quads = [
        r for r in fig.renderers
        if type(r.glyph).__name__ == "Quad"
    ]
    assert quads, fig.renderers
    data = quads[0].data_source.data
    assert len(data["count"]) == 10
    assert abs(sum(data["proportion"]) - 1.0) < 1e-9
    assert all(k in data for k in ("left", "right", "display", "legend"))


def test_to_bokeh_import_error_without_bokeh(spark, monkeypatch):
    """Without bokeh the adapter raises a guided ImportError and the
    dependency-free renderers stay importable/usable."""
    import builtins
    import sys

    if "bokeh" in sys.modules:
        pytest.skip("bokeh installed; the guided-error path is moot")
    from oarphpy_spark.operators.histogram import df_histogram
    from oarphpy_spark.plotting import to_bokeh

    real_import = builtins.__import__

    def no_bokeh(name, *a, **k):
        if name.startswith("bokeh"):
            raise ImportError(f"No module named {name!r}")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_bokeh)
    df = spark.range(10).selectExpr("cast(id as double) AS x")
    with pytest.raises(ImportError, match="render_histogram_interactive"):
        to_bokeh(df_histogram(df, "x", 5))


def test_img_to_data_uri_roundtrip_and_golden():
    """URI-byte golden for the data-URI inliner (reference parity:
    oarphpy/plotting.py:38-57): png_encode is deterministic (fixed
    zlib level, filter 0), so the URI for a fixed array is a stable
    string — pin it, and prove the payload round-trips bit-exact."""
    import base64

    import numpy as np

    from oarphpy_spark.util.images import img_to_data_uri, png_decode

    img = np.array([[0, 128], [255, 64]], dtype=np.uint8)
    uri = img_to_data_uri(img)
    assert uri == (
        "data:image/png;base64,iVBORw0KGgoAAAANSUhEUgAAAAIAAAACCAAAAAB"
        "X3VL4AAAADklEQVR4nGNgaGD47wAABEQBwOpq4d8AAAAASUVORK5CYII="
    )
    payload = base64.b64decode(uri.split(",", 1)[1])
    assert (png_decode(payload) == img).all()
    # already-encoded bytes pass through untouched (no transcode)
    assert img_to_data_uri(payload) == uri
    # jpeg bytes get the honest mimetype (divergence from the
    # reference, which labels everything image/png — documented)
    fake_jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 8
    assert img_to_data_uri(fake_jpeg).startswith("data:image/jpeg;base64,")
    # unrecognized bytes (e.g. GIF/WebP) must NOT be labeled jpeg —
    # the mimetype is sniffed, never assumed
    assert img_to_data_uri(b"GIF89a" + b"\x00" * 8).startswith(
        "data:application/octet-stream;base64,"
    )


def test_img_to_img_tag_clamps_zero_display_dims():
    """Extreme aspect ratios truncate a display dim to 0 in
    get_hw_in_viewport; the emitted attributes must floor at 1px or
    the thumbnail renders invisible (same clamp
    image_bytes_to_img_tag already had)."""
    import re

    import numpy as np

    from oarphpy_spark.util.images import img_to_img_tag

    img = np.zeros((1, 500), dtype=np.uint8)  # 500:1 aspect
    tag = img_to_img_tag(img, display_viewport_hw=(100, 100))
    m = re.search(r'height="(\d+)" width="(\d+)"', tag)
    assert int(m.group(1)) >= 1 and int(m.group(2)) >= 1


def test_get_jpeg_size_reference_alias():
    """get_jpeg_size matches the reference contract
    (oarphpy/util/misc.py:305-329): (width, height) on a JPEG,
    ValueError on anything else — unlike jpeg_header_dimensions'
    None-return."""
    import pytest

    from oarphpy_spark.util.images import (
        get_jpeg_size,
        jpeg_header_dimensions,
    )

    # minimal JPEG: SOI + SOF0 segment carrying 17x42 dims
    sof = b"\xff\xc0" + (8 + 3).to_bytes(2, "big") + b"\x08"
    sof += (42).to_bytes(2, "big") + (17).to_bytes(2, "big") + b"\x01"
    jpeg = b"\xff\xd8" + sof + b"\x00" * 16
    assert get_jpeg_size(jpeg) == (17, 42)
    assert get_jpeg_size(jpeg) == jpeg_header_dimensions(jpeg)
    with pytest.raises(ValueError):
        get_jpeg_size(b"not a jpeg")


def test_img_to_img_tag_viewports():
    """image_viewport_hw downscales the PIXELS (nearest-neighbor)
    before encoding; display_viewport_hw only shrinks the rendered
    height/width attributes — the reference's two-knob contract
    (oarphpy/plotting.py:74-94)."""
    import base64
    import re

    import numpy as np

    from oarphpy_spark.util.images import (
        get_hw_in_viewport,
        img_to_img_tag,
        png_decode,
        resize_nearest,
    )

    assert get_hw_in_viewport((200, 100), (100, 100)) == (100, 50)
    assert get_hw_in_viewport((100, 400), (100, 100)) == (25, 100)
    assert get_hw_in_viewport((50, 50), (100, 100)) == (50, 50)  # no upscale

    img = np.arange(200 * 100, dtype=np.uint8).reshape(200, 100)
    tag = img_to_img_tag(img, image_viewport_hw=(50, 50))
    m = re.match(r'<img src="data:image/png;base64,([^"]+)" '
                 r'height="(\d+)" width="(\d+)" />', tag)
    assert m, tag
    decoded = png_decode(base64.b64decode(m.group(1)))
    assert decoded.shape == (50, 25)  # pixels actually shrank
    assert (int(m.group(2)), int(m.group(3))) == (50, 25)
    assert (decoded == resize_nearest(img, (50, 25))).all()

    # display viewport: attributes shrink, pixels do not
    tag2 = img_to_img_tag(img, display_viewport_hw=(100, 100))
    m2 = re.match(r'<img src="data:image/png;base64,([^"]+)" '
                  r'height="(\d+)" width="(\d+)" />', tag2)
    assert png_decode(base64.b64decode(m2.group(1))).shape == (200, 100)
    assert (int(m2.group(2)), int(m2.group(3))) == (100, 50)


def test_render_interactive_embeds_image_examples(spark):
    """Binary PNG/JPEG examples render as inline thumbnails in the
    interactive histogram (the reference's histogram-examples HTML
    embeds images via img_to_img_tag); non-image bytes degrade to a
    size note, strings stay escaped text."""
    import numpy as np

    from oarphpy_spark.util.images import png_encode

    png = bytes(png_encode(np.full((4, 6), 7, dtype=np.uint8)))
    rows = [
        Row(bucket=0, lo=0.0, hi=1.0, count=2,
            examples=[png, b"not an image"]),
        Row(bucket=1, lo=1.0, hi=2.0, count=1, examples=[png]),
    ]
    html = render_histogram_interactive_html(
        spark.createDataFrame(rows), title="thumbs"
    )
    assert "data:image/png;base64," in html
    assert "(12-byte blob)" in html

    # string examples keep the escaped-text path (one DataFrame can't
    # mix binary and string example arrays — Spark would coerce both
    # to string, stringifying the bytes)
    html2 = render_histogram_interactive_html(
        spark.createDataFrame(
            [Row(bucket=0, lo=0.0, hi=1.0, count=1, examples=["<plain>"])]
        ),
        title="texts",
    )
    assert "&lt;plain&gt;" in html2
