"""Tests for multimodal binary-column plumbing."""

from __future__ import annotations

import pytest

from hadoop_and_spark_spark.operators import multimodal
from hadoop_and_spark_spark.oracle import compare


@pytest.mark.parametrize("name", sorted(multimodal.QUERIES))
def test_multimodal_vs_oracle(spark, sf_dir, name):
    ok, msg = compare(
        spark, sf_dir, multimodal.QUERIES[name], multimodal.ORACLE_SQL[name]
    )
    assert ok, f"{name}: {msg}"


def test_media_column_is_binary(spark, sf_dir):
    """The plumbing contract: media rides through Arrow as binary."""
    from pyspark.sql import types as T

    df = multimodal._media_table(spark, sf_dir)
    assert isinstance(df.schema["media"].dataType, T.BinaryType)
    assert set(
        r.media_type for r in df.select("media_type").distinct().collect()
    ) == set(multimodal._TYPES)


def test_decode_real_rejects_out_of_scope_payloads():
    """The documented scope boundary: payloads no built-in parser (or
    optional Pillow, when present) can read raise the typed data
    error — never a silent fake-decode."""
    # truncated PNG magic without an IHDR is malformed, not decodable
    with pytest.raises(multimodal.UnsupportedMediaError):
        multimodal._decode_real(b"\x89PNG", "image")
    # an ftyp box alone has no moov/mvhd — malformed, not decodable
    with pytest.raises(multimodal.UnsupportedMediaError):
        multimodal._decode_real(b"\x00\x00\x00\x10ftypmp42mp42", "video")
    # non-ISO-BMFF video containers (MKV) are out of scope by design
    with pytest.raises(multimodal.UnsupportedMediaError):
        multimodal._decode_real(b"\x1a\x45\xdf\xa3matroska", "video")
    # JPEG stream whose scan starts before any SOF has no dimensions
    with pytest.raises(multimodal.UnsupportedMediaError):
        multimodal._decode_real(
            b"\xff\xd8\xff\xda\x00\x04\x01\x00\xff\xd9", "image"
        )


def test_pil_pixel_decode_when_library_present():
    """The optional Pillow path decodes PIXELS (true dims + mean-pixel
    feature) for the committed fixtures; skipped where the library is
    absent (this container ships without media libs)."""
    pytest.importorskip("PIL")
    d = multimodal._pil_decode(_fixture("sample.png"))
    assert d is not None and (d["width"], d["height"]) == (5, 3)
    assert 0.0 <= d["feature"] <= 1.0
    # undecodable bytes → None (caller raises the scope error)
    assert multimodal._pil_decode(b"not an image") is None


def _fixture(name: str) -> bytes:
    import os

    p = os.path.join(os.path.dirname(__file__), "fixtures", "media", name)
    with open(p, "rb") as fh:
        return fh.read()


def test_decode_real_parses_committed_bmp_and_wav_fixtures():
    """The pure-Python decoders read the committed fixtures'
    dimensions/duration straight from the container headers."""
    bmp = multimodal._decode_real(_fixture("sample.bmp"), "image")
    assert (bmp["width"], bmp["height"], bmp["n_frames"]) == (6, 4, 1)
    assert bmp["duration_ms"] == 0 and bmp["n_bytes"] == 134
    wav = multimodal._decode_real(_fixture("sample.wav"), "audio")
    assert wav["duration_ms"] == 50  # 400 samples @ 8 kHz mono 16-bit
    assert (wav["width"], wav["height"], wav["n_frames"]) == (0, 0, 0)
    assert wav["n_bytes"] == 844
    for d in (bmp, wav):
        assert 0.0 <= d["feature"] <= 1.0


def test_decode_real_parses_committed_png_and_jpeg_fixtures():
    """IHDR (PNG) and SOF0 (JPEG) dimension parsing, byte-identical to
    the committed fixtures (5x3 RGB PNG with valid chunk CRCs; JPEG
    marker stream with SOF0 before the scan)."""
    png = multimodal._decode_real(_fixture("sample.png"), "image")
    assert (png["width"], png["height"], png["n_frames"]) == (5, 3, 1)
    assert png["duration_ms"] == 0 and png["n_bytes"] == 113
    jpg = multimodal._decode_real(_fixture("sample.jpg"), "image")
    assert (jpg["width"], jpg["height"], jpg["n_frames"]) == (8, 5, 1)
    assert jpg["duration_ms"] == 0 and jpg["n_bytes"] == 138
    for d in (png, jpg):
        assert 0.0 <= d["feature"] <= 1.0


def test_decode_real_parses_committed_mp4_fixture():
    """ISO-BMFF box walk: mvhd timescale 1000 / duration 2500 →
    2500 ms; stts entries (30×100, 45×100) → 75 frames."""
    mp4 = multimodal._decode_real(_fixture("sample.mp4"), "video")
    assert mp4["duration_ms"] == 2500
    assert mp4["n_frames"] == 75
    assert mp4["n_bytes"] == 260 and 0.0 <= mp4["feature"] <= 1.0


def test_real_decode_kernel_runs_in_spark(spark):
    """The real-decode kernel, passed to mapInPandas over a binary
    column, runs the real header parsers on the fixtures — the real-
    decode path is live plumbing, not a stub."""
    df = spark.createDataFrame(
        [
            (1, bytearray(_fixture("sample.bmp")), "image"),
            (2, bytearray(_fixture("sample.wav")), "audio"),
            (3, bytearray(_fixture("sample.png")), "image"),
            (4, bytearray(_fixture("sample.jpg")), "image"),
        ],
        "doc_id long, media binary, media_type string",
    )
    rows = {
        r.doc_id: r
        for r in df.mapInPandas(
            multimodal._decode_batches_real, schema=multimodal.DECODE_SCHEMA
        ).collect()
    }
    assert (rows[1].width, rows[1].height, rows[1].n_frames) == (6, 4, 1)
    assert rows[2].duration_ms == 50 and rows[2].width == 0
    assert (rows[3].width, rows[3].height) == (5, 3)
    assert (rows[4].width, rows[4].height) == (8, 5)


def test_frames_respect_stride_and_bounds(spark, sf_dir):
    meta = {
        r.doc_id: r.n_frames
        for r in multimodal.multimodal_decode(spark, sf_dir).collect()
    }
    for r in multimodal.multimodal_frames(spark, sf_dir).collect():
        assert r.frame_idx % multimodal.FRAME_STRIDE == 0
        assert 0 <= r.frame_idx < meta[r.doc_id]


def test_features_are_normalized_histograms(spark, sf_dir):
    """Every feature vector sums to 1 (non-empty blob) and has
    FEAT_BUCKETS non-negative components."""
    rows = multimodal.multimodal_feature_vectors(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert len(r.features) == multimodal.FEAT_BUCKETS
        assert all(x >= 0 for x in r.features)
        if r.n_bytes > 0:
            assert abs(sum(r.features) - 1.0) < 1e-9


def test_features_explode_matches_vectors(spark, sf_dir):
    """The registered (driver-checkable) exploded form is exactly the
    posexplode of the array form — same values, FEAT_BUCKETS rows per
    doc."""
    vecs = {
        r.doc_id: r.features
        for r in multimodal.multimodal_feature_vectors(spark, sf_dir).collect()
    }
    rows = multimodal.multimodal_features(spark, sf_dir).collect()
    assert len(rows) == len(vecs) * multimodal.FEAT_BUCKETS
    for r in rows:
        assert r.share == vecs[r.doc_id][r.bucket]
