"""Multimodal column operators for training-data pipelines.

Images / audio / video ride through Spark as opaque ``binary`` columns
with a typed metadata struct — the same shape a WARC/tar-shard ingest
produces at 100 TB. All heavy per-payload work happens in Arrow-batched
``mapInPandas`` stages (one Python stage per pipeline, vectorized numpy
inside), never row-at-a-time Python.

Codec reality in this container: no PIL / ffmpeg / torchaudio exist,
so REAL codec decode is stubbed behind ``NotImplementedError`` (clearly
marked), and a deterministic packed format stands in for decoded media:

    FIMG | u16 w | u16 h | u8 c | w*h*c bytes        (image)
    FAUD | u32 sample_rate | u32 n | n * i16le       (audio)
    FVID | u16 n_frames | u16 w | u16 h | frames...  (video, 1 channel)

The Spark-side plumbing — schemas, batch iteration, partitioning,
explode shapes — is real and tested; swapping the stub for PIL/ffmpeg
changes only the inner decode function.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMG_MAGIC, AUD_MAGIC, VID_MAGIC = b"FIMG", b"FAUD", b"FVID"


# ------------------------------------------------------------------ codecs
def real_decode(payload: bytes, kind: str):  # pragma: no cover - stub
    """Real codec decode (PIL / ffmpeg / libsndfile). Not available in
    this container — swap in at deploy time."""
    raise NotImplementedError(
        f"real {kind} codec not available in this environment; "
        "payloads use the deterministic packed format instead"
    )


def decode_image_bytes(payload: bytes) -> np.ndarray:
    """FIMG payload → (h, w, c) uint8 array. Falls through to the real
    codec stub for anything that is not packed format."""
    if payload[:4] != IMG_MAGIC:
        return real_decode(payload, "image")
    w, h = struct.unpack_from("<HH", payload, 4)
    c = payload[8]
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * c, offset=9)
    return arr.reshape(h, w, c)


def encode_image_bytes(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    return IMG_MAGIC + struct.pack("<HH", w, h) + bytes([c]) + arr.tobytes()


def decode_audio_bytes(payload: bytes) -> tuple[int, np.ndarray]:
    if payload[:4] != AUD_MAGIC:
        return real_decode(payload, "audio")
    rate, n = struct.unpack_from("<II", payload, 4)
    return rate, np.frombuffer(payload, dtype="<i2", count=n, offset=12)


def decode_video_bytes(payload: bytes) -> np.ndarray:
    """FVID payload → (n_frames, h, w) uint8 array (single channel)."""
    if payload[:4] != VID_MAGIC:
        return real_decode(payload, "video")
    n, w, h = struct.unpack_from("<HHH", payload, 4)
    arr = np.frombuffer(payload, dtype=np.uint8, count=n * w * h, offset=10)
    return arr.reshape(n, h, w)


# ------------------------------------------------------- synthetic source
def media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """documents → deterministic media rows (media_id, kind, payload,
    meta struct). The payload is a pure function of doc_id, so every
    executor regenerates identical bytes — no driver bottleneck."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rng = np.random.default_rng(i)
                if kind == "image":
                    w, h, c = 16 + i % 48, 16 + (i * 7) % 48, 3
                    arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
                    payload = encode_image_bytes(arr)
                    meta = {"width": w, "height": h, "channels": c,
                            "sample_rate": None, "n_frames": None, "format": "fimg"}
                elif kind == "audio":
                    rate, n = 16000, 1000 + (i * 31) % 4000
                    sig = (rng.normal(0, 3000, n)).astype("<i2")
                    payload = AUD_MAGIC + struct.pack("<II", rate, n) + sig.tobytes()
                    meta = {"width": None, "height": None, "channels": 1,
                            "sample_rate": rate, "n_frames": None, "format": "faud"}
                else:  # video
                    n, w, h = 4 + i % 12, 16, 12
                    frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
                    payload = VID_MAGIC + struct.pack("<HHH", n, w, h) + frames.tobytes()
                    meta = {"width": w, "height": h, "channels": 1,
                            "sample_rate": None, "n_frames": n, "format": "fvid"}
                out.append({"media_id": i, "kind": kind, "payload": payload, **meta})
            pdf_out = pd.DataFrame(out)
            yield pdf_out

    schema = (
        "media_id long, kind string, payload binary, width int, height int, "
        "channels int, sample_rate int, n_frames int, format string"
    )
    slim = docs.select("doc_id")
    sc = docs.sparkSession.sparkContext
    if slim.rdd.getNumPartitions() < sc.defaultParallelism:
        slim = slim.repartition(sc.defaultParallelism, F.xxhash64("doc_id"))
    flat = slim.mapInPandas(gen, schema=schema)
    return flat.select(
        "media_id", "kind", "payload",
        F.struct("width", "height", "channels", "sample_rate", "n_frames", "format").alias("meta"),
    )


# ------------------------------------------------------------- operators
def audio_features(media: DataFrame) -> DataFrame:
    """RMS energy / zero-crossing-rate / duration per clip."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, sig = decode_audio_bytes(bytes(payload))
                x = sig.astype(np.float64)
                rows.append({
                    "media_id": int(mid), "sample_rate": rate,
                    "duration_ms": int(len(x) * 1000 / rate),
                    "rms": float(np.sqrt((x ** 2).mean())) if len(x) else 0.0,
                    "zcr": float((np.diff(np.signbit(x)) != 0).mean()) if len(x) > 1 else 0.0,
                })
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run, schema="media_id long, sample_rate int, duration_ms int, rms double, zcr double"
    )


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Video → one row per sampled frame (every_k-th), frame re-encoded
    as a single-channel FIMG. The explode happens Python-side inside
    the same Arrow stage — no separate explode shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_video_bytes(bytes(payload))
                for fi in range(0, frames.shape[0], every_k):
                    fr = frames[fi][:, :, None]  # (h, w, 1)
                    rows.append({
                        "media_id": int(mid), "frame_idx": fi,
                        "payload": encode_image_bytes(fr),
                        "frame_mean": float(frames[fi].mean()),
                    })
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run, schema="media_id long, frame_idx int, payload binary, frame_mean double"
    )
