"""LLM-pipeline operator tests beyond oracle parity: semantic
invariants (LSH recall vs brute force, jaccard bounds, simhash
stability) and the multimodal plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from oarphpy_spark.llm.dedup import minhash_candidate_pairs, simhash16
from oarphpy_spark.llm.multimodal import (
    blob_feature_stats,
    decode_image,
    synth_blob_table,
)
from oarphpy_spark.llm.similarity import brute_force_topk, hyperplane_lsh_topk
from oarphpy_spark.util.images import jpeg_header_dimensions

from .conftest import SF_SMALL


def _docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        Row(doc_id=3, text="completely different content about spark engines"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows)


def test_minhash_finds_near_dups(spark):
    pairs = minhash_candidate_pairs(_docs(spark), "text", "doc_id").collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 4) in found  # exact dup must share every band
    assert all(3 not in p for p in found)  # unrelated doc never pairs


def test_simhash_exact_dup_same_fp(spark):
    fps = {r["doc_id"]: r["simhash"] for r in simhash16(_docs(spark), "text", "doc_id").collect()}
    assert fps[1] == fps[4]
    assert 0 <= fps[1] < 2**16


def test_simhash_null_text_is_zero(spark):
    """NULL text -> zero tokens -> simhash 0, matching SQL semantics
    (the oracle's NULL votes contribute nothing to any bit)."""
    df = spark.createDataFrame(
        [(1, None), (2, "real text here")], "doc_id bigint, text string"
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash16(df, "text", "doc_id").collect()}
    assert fps[1] == 0
    assert fps[2] != 0


def test_ivf_multiprobe_recall_at_least_single(spark):
    from oarphpy_spark.llm.similarity import brute_force_topk, ivf_topk
    from oarphpy_spark.tables import table

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, queries, k=5, n_cells=8, n_probe=n_probe).collect()
        }
        return len(got & brute)

    assert recall(2) >= recall(1)
    # probing every cell == exact search
    assert recall(8) == len(brute)


def test_quantize_int8_roundtrip_error_bound(spark):
    import numpy as np

    from oarphpy_spark.llm.embeddings import quantize_int8
    from oarphpy_spark.tables import table

    emb = table(spark, SF_SMALL, "embeddings")
    rows = quantize_int8(emb).join(emb, "vec_id").collect()
    assert rows
    for r in rows[:50]:
        q = np.array(r["q"], dtype=np.float64)
        assert np.abs(q).max() <= 127
        deq = q * r["inv_scale"]
        orig = np.array([float(x) for x in r["embedding"]])
        # dequantization error bounded by half a quant step per dim
        assert np.abs(deq - orig).max() <= r["inv_scale"] * 0.5 + 1e-9


def test_quantize_int8_zero_vector(spark):
    from oarphpy_spark.llm.embeddings import quantize_int8

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0])], "vec_id bigint, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert out[0]["inv_scale"] is None and out[0]["q"] == [0, 0]
    assert out[1]["q"] == [76, 102]  # 127*(3,4)/5 rounded


def test_lsh_topk_is_subset_of_brute(spark):
    from oarphpy_spark.tables import table

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = brute_force_topk(emb, queries, k=50).collect()
    lsh = hyperplane_lsh_topk(emb, queries, k=5, num_planes=4).collect()
    assert len(lsh) > 0
    brute_scores = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in brute}
    # every LSH result is a genuine neighbor with the same score
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute_scores:  # (top-50 cut; scores must agree when present)
            assert abs(brute_scores[key] - r["cos"]) < 1e-9


def test_multimodal_blob_shapes(spark):
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(20)])
    blobs = synth_blob_table(docs)
    rows = blobs.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["data"]) == r["meta"]["width"] * r["meta"]["height"]
    stats = blob_feature_stats(blobs).collect()
    assert {r["format"] for r in stats} == {"png", "jpeg"}


def test_decode_image_requires_pillow_for_non_png():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")  # bad sig -> not PNG -> pillow path


def test_png_roundtrip_rgb_and_gray():
    import numpy as np

    from oarphpy_spark.llm.multimodal import encode_png

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_png(rgb)), rgb)

    gray = rng.integers(0, 256, size=(5, 17), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_png(gray)), gray)


def test_png_decode_all_filter_types():
    """Decode output of an independent encoder that uses adaptive
    filters: exercise Sub/Up/Average/Paeth reconstruction, not just
    our own filter-0 stream."""
    import numpy as np

    from oarphpy_spark.util.images import png_decode

    # Build a stream with one row per filter type, hand-filtered.
    import struct
    import zlib

    w, ch = 4, 1
    rows = np.array(
        [
            [10, 20, 30, 40],
            [15, 25, 35, 45],
            [20, 30, 40, 50],
            [100, 110, 120, 130],
            [200, 210, 220, 230],
        ],
        dtype=np.int64,
    )
    h = rows.shape[0]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        raw.append(ftype)
        for x in range(w):
            cur = int(rows[y, x])
            left = int(rows[y, x - 1]) if x else 0
            up = int(rows[y - 1, x]) if y else 0
            ul = int(rows[y - 1, x - 1]) if (x and y) else 0
            if ftype == 0:
                enc = cur
            elif ftype == 1:
                enc = cur - left
            elif ftype == 2:
                enc = cur - up
            elif ftype == 3:
                enc = cur - ((left + up) >> 1)
            else:
                enc = cur - paeth(left, up, ul)
            raw.append(enc & 0xFF)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(png), rows.astype(np.uint8))


def test_image_dimensions_header_only():
    import numpy as np

    from oarphpy_spark.llm.multimodal import encode_png
    from oarphpy_spark.util.images import image_dimensions

    png = encode_png(np.zeros((480, 640, 3), dtype=np.uint8))
    assert image_dimensions(png) == (640, 480)
    assert image_dimensions(b"garbage") is None


def test_resize_image_real_pixels():
    import numpy as np

    from oarphpy_spark.llm.multimodal import encode_png, resize_image

    img = np.zeros((64, 32, 3), dtype=np.uint8)
    img[32:, :, 0] = 255  # bottom half red
    out = decode_image(resize_image(encode_png(img), max_side=16))
    assert out.shape == (16, 8, 3)
    assert (out[12:, :, 0] == 255).all()
    assert (out[:4, :, 0] == 0).all()


def test_jpeg_header_dimensions():
    # Minimal synthetic JPEG: SOI + APP0 (16 bytes) + SOF0 with 640x480.
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + (480).to_bytes(2, "big")  # height
        + (640).to_bytes(2, "big")  # width
        + b"\x03" + b"\x00" * 9
    )
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert jpeg_header_dimensions(jpeg) == (640, 480)
    assert jpeg_header_dimensions(b"not a jpeg") is None


def test_frame_sample(spark):
    from oarphpy_spark.llm.multimodal import frame_sample

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(6)])
    frames = frame_sample(synth_blob_table(docs), n_frames=4, frame_bytes=32).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(6))
    for rows in by_doc.values():
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
        assert all(len(r["frame"]) == 32 for r in rows)


def test_tensor_values_as_arrays(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from oarphpy_spark.codec import RowAdapter
    from oarphpy_spark.codec.arrow_helpers import tensor_values_as_arrays

    class Holder:
        def __init__(self, hid=0, arr=None):
            self.hid = hid
            self.arr = arr if arr is not None else np.zeros(1)

    objs = [Holder(1, np.arange(4, dtype=np.float32)),
            Holder(2, np.arange(1024, dtype=np.float64))]  # second is packed
    df = RowAdapter.to_df(spark, objs)
    out = tensor_values_as_arrays(df, "arr", out_col="vals")
    got = {r["hid"]: list(r["vals"]) for r in out.collect()}
    assert got[1] == [0.0, 1.0, 2.0, 3.0]
    assert len(got[2]) == 1024 and got[2][-1] == 1023.0
    # decoded arrays are plain SQL arrays: JVM-side math works on them
    sums = out.select("hid", F.round(F.aggregate("vals", F.lit(0.0), lambda a, x: a + x), 2).alias("s"))
    assert {r["hid"]: r["s"] for r in sums.collect()}[2] == 523776.0


def test_resize_blob_subsample():
    from oarphpy_spark.llm.multimodal import resize_blob

    data = bytes(range(200))
    out = resize_blob(data, 50)
    assert len(out) == 50
    assert out[0] == 0 and out[-1] == data[int(49 * 4)]
    assert resize_blob(b"tiny", 50) == b"tiny"


def test_byte_histogram_n_bins(spark):
    from oarphpy_spark.llm.multimodal import extract_byte_histogram_features

    blobs = spark.createDataFrame(
        [Row(doc_id=1, data=bytearray(bytes(range(256))))], "doc_id bigint, data binary"
    )
    for n_bins in (8, 16, 32):
        r = extract_byte_histogram_features(blobs, n_bins=n_bins).collect()[0]
        assert len(r["features"]) == n_bins
        assert abs(sum(r["features"]) - 1.0) < 1e-9
        assert all(abs(f - 1.0 / n_bins) < 1e-9 for f in r["features"])
    with pytest.raises(ValueError):
        extract_byte_histogram_features(blobs, n_bins=10)


def test_wav_codec_roundtrip():
    import numpy as np

    from oarphpy_spark.llm.multimodal import _wav_bytes, _wav_samples

    wave = np.array([0, 500, -500, 32767, -32768, 7], dtype=np.int16)
    data = _wav_bytes(wave, sample_rate=8000)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    sr, back = _wav_samples(data)
    assert sr == 8000
    assert np.array_equal(back, wave)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _wav_samples(b"nonsense-bytes" * 10)


def test_minhash_max_bucket_excludes_boilerplate(spark):
    """Identical boilerplate docs all collide into the same LSH
    buckets; with max_bucket below the clone count those buckets are
    excluded BEFORE any bucket materialization, so the clones yield no
    candidate pairs while a distinct near-dup pair elsewhere
    survives."""
    boiler = [(i, "terms of service apply to all pages here") for i in range(10)]
    pair = [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id bigint, text string")
    capped = minhash_candidate_pairs(
        df, "text", "doc_id", max_bucket=5
    ).collect()
    docs_in_pairs = {r.doc_a for r in capped} | {r.doc_b for r in capped}
    assert all(d >= 100 for d in docs_in_pairs), capped
    uncapped = minhash_candidate_pairs(df, "text", "doc_id").collect()
    assert len(uncapped) > len(capped)  # boilerplate pairs reappear


def test_minhash_band_buckets_match_duckdb_on_edge_texts(spark):
    """The band-bucket statement against the DuckDB oracle's CTE chain
    (``_minhash_bands_cte``) on the texts its CASE branches split on:
    NULL, empty, one and two tokens (one whole-text shingle), exactly
    three, repeated shingles, case folding and a double space (an
    empty token)."""
    import duckdb
    import pandas as pd

    from oarphpy_spark.llm.dedup import minhash_band_buckets
    from oarphpy_spark.queries.llm_queries import _minhash_bands_cte

    texts = [
        None, "", "one", "two words", "exactly three words",
        "a a a a a a", "a b a b a b a b", "The Quick brown FOX jumps",
        "the quick brown fox jumps", "x  y z",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(
        list(zip(range(len(texts)), texts)), "doc_id bigint, text string"
    )
    buckets = minhash_band_buckets(df, "text", "doc_id", 8, 4, 3)
    assert buckets.schema.simpleString() == "struct<doc:bigint,band:int,h:string>"

    def key(row):
        return tuple("" if v is None else v for v in row)

    got = sorted((tuple(r) for r in buckets.collect()), key=key)
    conn = duckdb.connect()
    conn.register("documents", pdf)
    want = sorted(
        conn.execute(
            f"WITH {_minhash_bands_cte(8, 4, 3)} SELECT doc_id, band, h FROM bands"
        ).fetchall(),
        key=key,
    )
    assert got == want


def test_ivf_multiprobe_with_separate_queries_matches_numpy(spark):
    """``ivf_topk`` with ``n_probe=2`` and a query DataFrame that is not
    drawn from the corpus (its ids overlap the corpus's, so the
    self-exclusion is by id), against a numpy restatement: two nearest
    cells per query, cosine within them, NULL (zero-vector) scores
    dropped, ranked by (cos DESC, neighbor_id)."""
    import numpy as np

    from oarphpy_spark.llm.similarity import ivf_topk

    rng = np.random.default_rng(11)
    corpus = rng.normal(size=(60, 6)).round(3)
    corpus[7] = 0.0  # no defined cosine against anything
    queries = rng.normal(size=(6, 6)).round(3)
    queries[4] = 0.0
    centroids = [(c, corpus[c + 10].tolist()) for c in range(5)]
    cmat = np.array([v for _, v in centroids])
    k = 4

    def cells(v):
        d = ((cmat - v) ** 2).sum(axis=1).round(6)
        return np.argsort(d, kind="stable")

    def cos(a, b):
        na, nb = np.sqrt(a @ a), np.sqrt(b @ b)
        return None if na * nb == 0 else round(float(a @ b / (na * nb)), 6)

    corpus_cell = [cells(v)[0] for v in corpus]
    want = []
    for qid, qv in enumerate(queries):
        probe = set(cells(qv)[:2])
        scored = [
            (cos(qv, cv), nid)
            for nid, cv in enumerate(corpus)
            if corpus_cell[nid] in probe and nid != qid
        ]
        scored = sorted((s for s in scored if s[0] is not None),
                        key=lambda s: (-s[0], s[1]))
        want += [(qid, nid, c) for c, nid in scored[:k]]

    schema = "vec_id bigint, embedding array<double>"
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(corpus)], schema
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(queries)], schema
    )
    out = ivf_topk(cdf, qdf, k=k, centroids=centroids, n_probe=2)
    assert out.columns == ["query_id", "neighbor_id", "cos"]
    got = sorted(tuple(r) for r in out.collect())
    assert [g[:2] for g in got] == [w[:2] for w in sorted(want)]
    assert np.allclose([g[2] for g in got], [w[2] for w in sorted(want)], atol=2e-6)
    assert 4 not in {g[0] for g in got} and 7 not in {g[1] for g in got}
