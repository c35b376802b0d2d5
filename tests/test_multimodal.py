"""Multimodal operators: packed-codec roundtrips, numpy-reference
feature checks through the real Spark stages, and the real-codec stub
contract."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pdf_extractor_spark.operators import multimodal as MM


# ------------------------------------------------------------- codecs
def test_image_roundtrip():
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(12, 20, 3), dtype=np.uint8)
    assert (MM.decode_image_bytes(MM.encode_image_bytes(arr)) == arr).all()


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        MM.decode_image_bytes(b"\x89PNG\r\n\x1a\nnot-a-real-png")
    with pytest.raises(NotImplementedError):
        MM.decode_audio_bytes(b"RIFFxxxxWAVE")
    with pytest.raises(NotImplementedError):
        MM.decode_video_bytes(b"\x00\x00\x00 ftypisom")


# ---------------------------------------------------- spark pipelines
@pytest.fixture(scope="module")
def media_tables(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    return {
        "image": MM.media_from_documents(docs, kind="image"),
        "audio": MM.media_from_documents(docs, kind="audio"),
        "video": MM.media_from_documents(docs, kind="video"),
    }


def test_audio_features_match_numpy(media_tables):
    rows = {r["media_id"]: r for r in MM.audio_features(media_tables["audio"]).collect()}
    for mid in list(rows)[:8]:
        rng = np.random.default_rng(mid)
        n = 1000 + (mid * 31) % 4000
        sig = rng.normal(0, 3000, n).astype("<i2").astype(np.float64)
        assert rows[mid]["rms"] == pytest.approx(np.sqrt((sig**2).mean()))
        assert rows[mid]["duration_ms"] == int(n * 1000 / 16000)


def test_frame_sampling(media_tables):
    rows = MM.sample_frames(media_tables["video"], every_k=2).collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    for mid, frames in list(by_id.items())[:8]:
        n = 4 + mid % 12
        assert sorted(f["frame_idx"] for f in frames) == list(range(0, n, 2))
        fr0 = next(f for f in frames if f["frame_idx"] == 0)
        arr = MM.decode_image_bytes(bytes(fr0["payload"]))
        assert arr.shape == (12, 16, 1)
        rng = np.random.default_rng(mid)
        src = rng.integers(0, 256, size=(n, 12, 16), dtype=np.uint8)
        assert (arr[:, :, 0] == src[0]).all()
        assert fr0["frame_mean"] == pytest.approx(src[0].mean())


def test_packed_header_layout():
    """The packed formats are versioned wire contracts — pin them."""
    arr = np.zeros((2, 3, 1), dtype=np.uint8)
    payload = MM.encode_image_bytes(arr)
    assert payload[:4] == b"FIMG"
    assert struct.unpack_from("<HH", payload, 4) == (3, 2)
    assert payload[8] == 1
