"""Multimodal (image/audio/video) columns.

Design: media are opaque ``binary`` columns + a typed metadata struct
(width/height/format/...); all per-item compute happens in Arrow-
batched ``mapInPandas`` so bytes stream executor-side in columnar
batches — the Spark plumbing (schema, batch shape, partitioning) is
real and tested even where the codec itself is stubbed (image/audio
libraries are not available in this environment).

Reference analogs: binary image helpers (``oarphpy/util/misc.py:
281-329``) and data-URI plumbing (``oarphpy/plotting.py:38-94``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = (
    "doc_id bigint, data binary, "
    "meta struct<width:int, height:int, format:string>"
)


def synth_blob_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media blobs derived from the id — a stand-in
    for a decode-less ingest (bytes = repeated ASCII letter, dims from
    id arithmetic) that exercises the real mapInPandas path end-to-end.
    """
    ids = docs.select(F.col(id_col).alias("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                width = 16 + (doc_id % 5) * 8
                height = 16 + (doc_id % 3) * 8
                fmt = "png" if doc_id % 2 == 0 else "jpeg"
                data = bytes([97 + doc_id % 26]) * (width * height)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "data": data,
                        "meta": {"width": width, "height": height, "format": fmt},
                    }
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, schema=BLOB_SCHEMA)


def decode_image(data: bytes):
    """Decode an image blob to an ndarray. PNG decodes with the
    dependency-free codec in :mod:`oarphpy_spark.util.images`; other
    formats (jpeg pixels) use pillow when installed, else raise."""
    data = bytes(data)
    from oarphpy_spark.util.images import _PNG_SIG, png_decode

    if data.startswith(_PNG_SIG):
        return png_decode(data)
    try:
        from PIL import Image
    except ImportError as ex:
        raise NotImplementedError(
            "non-PNG image decode requires pillow; install it on "
            "executors and Image.open(io.BytesIO(data)) is wired here"
        ) from ex
    import io

    import numpy as np

    return np.asarray(Image.open(io.BytesIO(data)))


def encode_png(img) -> bytes:
    """Encode an ndarray as PNG bytes — reference ``to_png_bytes``
    (``oarphpy/util/misc.py:281-290``), but dependency-free."""
    from oarphpy_spark.util.images import png_encode

    return png_encode(img)


def blob_feature_stats(blobs: DataFrame) -> DataFrame:
    """Per-format rollup over a blob table — metadata-only (never
    deserializes data), so it is scan-bound at any scale."""
    return blobs.groupBy(F.col("meta.format").alias("format")).agg(
        F.count("*").alias("n"),
        F.sum(F.length("data")).alias("total_bytes"),
        F.avg(F.col("meta.width") * F.col("meta.height")).alias("avg_pixels"),
    )


def frame_sample(
    blobs: DataFrame,
    n_frames: int = 4,
    frame_bytes: int = 64,
) -> DataFrame:
    """Sample ``n_frames`` evenly-spaced fixed-size 'frames' from each
    binary blob (the video-frame-sampling shape: the real decoder is a
    stub — see ``decode_image`` — but the batching, offsets, and output
    schema are the production plumbing). Output one row per
    (doc_id, frame_idx) with the frame's byte offset (provenance) and
    the frame bytes."""

    def sample(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(data)
                if len(data) == 0:
                    continue
                stride = max(1, (len(data) - frame_bytes) // max(1, n_frames - 1))
                for i in range(n_frames):
                    off = min(i * stride, max(0, len(data) - frame_bytes))
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": i,
                            "off": off,
                            "frame": data[off : off + frame_bytes],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "off", "frame"]
            )

    return blobs.select("doc_id", "data").mapInPandas(
        sample, schema="doc_id bigint, frame_idx int, off bigint, frame binary"
    )


def extract_byte_histogram_features(blobs: DataFrame, n_bins: int = 16) -> DataFrame:
    """Feature extraction over binary media: n_bins byte-value histogram
    per blob, L1-normalized — a real (decode-free) feature vector
    computed with numpy per Arrow batch. With a codec installed the same
    plumbing carries pixel/mel-spectrogram features; the schema,
    batching, and normalization are production-shaped."""
    import numpy as np

    if n_bins < 1 or 256 % n_bins != 0:
        raise ValueError("n_bins must divide 256 (byte-value range)")
    shift_div = 256 // n_bins  # byte // shift_div -> bin in [0, n_bins)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                arr = np.frombuffer(bytes(data), dtype=np.uint8)
                if arr.size == 0:
                    hist = np.zeros(n_bins)
                else:
                    hist = np.bincount(
                        arr // shift_div, minlength=n_bins
                    ).astype(np.float64)
                    hist = hist / hist.sum()
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "features": hist.tolist(),
                        "argmax_bin": int(hist.argmax()),
                        "n_bytes": int(arr.size),
                    }
                )
            yield pd.DataFrame(rows)

    return blobs.select("doc_id", "data").mapInPandas(
        feats,
        schema="doc_id bigint, features array<double>, argmax_bin int, n_bytes bigint",
    )


def resize_image(data: bytes, max_side: int) -> bytes:
    """Thumbnail an image blob to fit in (max_side, max_side),
    preserving aspect — PNG in, PNG out, real pixels, no pillow
    (nearest-neighbor via the pure codec). Non-PNG input requires
    pillow."""
    import numpy as np

    arr = decode_image(data)
    h, w = arr.shape[:2]
    scale = min(1.0, max_side / max(h, w))
    nh, nw = max(1, int(h * scale)), max(1, int(w * scale))
    ys = (np.arange(nh) * (h / nh)).astype(np.int64)
    xs = (np.arange(nw) * (w / nw)).astype(np.int64)
    out = arr[ys][:, xs]
    return encode_png(out)


def resize_blob(data: bytes, target_bytes: int):
    """Shrink a raw (non-image) media blob by even byte subsampling —
    the deterministic plumbing used for the synthetic blob tables.
    For real images use :func:`resize_image`."""
    if len(data) <= target_bytes:
        return data
    stride = len(data) / target_bytes
    return bytes(data[int(i * stride)] for i in range(target_bytes))


# -- audio ------------------------------------------------------------------

_WAV_SR = 1000  # fixture sample rate (tiny on purpose; format is real)


def _wav_bytes(samples, sample_rate: int = _WAV_SR) -> bytes:
    """Minimal PCM16 mono WAV (RIFF) encoder — dependency-free, same
    spirit as the pure-python PNG codec in util/images.py."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    data = b"data" + struct.pack("<I", len(pcm))
    return hdr + fmt + data + pcm


def _wav_samples(data: bytes):
    """Parse PCM16 mono WAV produced by :func:`_wav_bytes` (header is
    fixed-layout for canonical RIFF; raises on anything else)."""
    import struct

    import numpy as np

    data = bytes(data)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE" or data[36:40] != b"data":
        raise ValueError("not a canonical PCM16 mono WAV")
    sample_rate = struct.unpack("<I", data[24:28])[0]
    n_bytes = struct.unpack("<I", data[40:44])[0]
    return sample_rate, np.frombuffer(data, dtype="<i2", offset=44,
                                      count=n_bytes // 2)


def synth_audio_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic audio blobs: an INTEGER waveform (no float sin, so
    any engine recomputes samples bit-exactly) packed as real PCM16
    WAV bytes in an Arrow-batched mapInPandas — the same opaque-binary
    + typed-metadata column shape as images/video. Frequency and
    length derive from (doc_id, n_chars)."""
    import numpy as np

    ids = docs.select(F.col(id_col).alias("doc_id"), "n_chars")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                doc_id, n_chars = int(doc_id), int(n_chars)
                f = 1 + doc_id % 20
                n = 50 + n_chars % 100
                k = np.arange(n, dtype=np.int64)
                wave = ((k * f * 37) % 1001) - 500  # int16-safe
                rows.append(
                    {
                        "doc_id": doc_id,
                        "data": _wav_bytes(wave),
                        "meta": {
                            "sample_rate": _WAV_SR,
                            "n_samples": n,
                            "format": "wav",
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id bigint, data binary, "
            "meta struct<sample_rate:bigint, n_samples:bigint, format:string>"
        ),
    )


def audio_features(blobs: DataFrame) -> DataFrame:
    """Decode WAV blobs and extract classic audio features — peak
    amplitude, zero crossings, total energy — vectorized per Arrow
    batch. All integer math over the decoded samples, so the numbers
    are engine-independent (the oracle recomputes them from first
    principles)."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                sr, s = _wav_samples(data)
                s64 = s.astype(np.int64)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "sample_rate": int(sr),
                        "n_samples": int(len(s)),
                        "max_amp": int(np.abs(s64).max()) if len(s) else 0,
                        "zero_crossings": int(
                            np.count_nonzero(s64[1:] * s64[:-1] < 0)
                        ),
                        "energy": int(np.sum(s64 * s64)),
                    }
                )
            yield pd.DataFrame(rows)

    return blobs.select("doc_id", "data").mapInPandas(
        feats,
        schema=(
            "doc_id bigint, sample_rate bigint, n_samples bigint, "
            "max_amp bigint, zero_crossings bigint, energy bigint"
        ),
    )
