"""Multimodal (image/audio/video) column operators.

Media are opaque ``binary`` columns with typed metadata — the pattern a
100 TB training-data pipeline uses: decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` UDFs so bytes never
round-trip through Python row objects.

No codec (PIL/libav/etc.) is used, so the decode step is STUBBED:
``decode_media`` computes a deterministic fake decode (dimensions/duration
derived from the payload bytes), and there is no real-codec path. The
Spark-side plumbing — schema, partitioning, UDF signature, Arrow batch
shape — is real and tested.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_KINDS = ("image", "audio", "video")

DECODE_SCHEMA = (
    "media_id bigint, kind string, n_bytes int, checksum bigint, "
    "width int, height int, duration_ms int, ok boolean"
)

FEATURE_DIM = 16
FEATURE_SCHEMA = f"media_id bigint, feature array<double>"  # noqa: F541

FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_checksum bigint"


def synth_media(spark, n: int = 200, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (media_id, kind, payload,
    meta) — payload bytes are seeded pseudo-random blobs; stands in for
    real image/audio/video bytes."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        kind = MEDIA_KINDS[i % len(MEDIA_KINDS)]
        size = int(256 + rng.randint(0, 2048))
        payload = rng.bytes(size)
        rows.append((i, kind, bytearray(payload)))
    return spark.createDataFrame(rows, "media_id bigint, kind string, payload binary")


def _fake_decode(payload: bytes, kind: str) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec: derive (width, height,
    duration_ms) from payload content. Replace with PIL/libav when the
    codecs exist; keep the signature."""
    h = zlib.crc32(payload)
    if kind == "image":
        return 64 + h % 1920, 64 + (h >> 11) % 1080, 0
    if kind == "audio":
        return 0, 0, 500 + h % 60_000
    return 160 + h % 1920, 90 + (h >> 7) % 1080, 1000 + (h >> 13) % 120_000


def decode_media(media: DataFrame) -> DataFrame:
    """binary payloads -> typed metadata. Arrow-batched; one pandas
    frame per batch, vectorized except the per-blob codec call (which a
    real codec also requires)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            kinds = pdf["kind"]
            dims = [_fake_decode(bytes(p), k) for p, k in zip(payloads, kinds)]
            w, h, d = (np.array(x, dtype=np.int32) for x in zip(*dims))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": kinds,
                    "n_bytes": payloads.map(len).astype(np.int32),
                    "checksum": payloads.map(
                        lambda p: zlib.crc32(bytes(p))
                    ).astype(np.int64),
                    "width": w,
                    "height": h,
                    "duration_ms": d,
                    "ok": True,
                }
            )

    return media.mapInPandas(fn, DECODE_SCHEMA)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """binary -> fixed-width float feature vector (deterministic
    hash-derived; the stub for a real embedding model). Output feeds the
    similarity operators (cosine_topk etc.) unchanged."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for p in pdf["payload"]:
                digest = hashlib.sha256(bytes(p)).digest()
                # dim bytes -> [-1, 1) floats, deterministic
                raw = np.frombuffer((digest * ((dim // 32) + 1))[:dim], dtype=np.uint8)
                feats.append((raw.astype(np.float64) - 128.0) / 128.0)
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.mapInPandas(fn, FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "media_id bigint, width int, height int, n_bytes int, payload binary"
)


def resize_images(
    media: DataFrame,
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """Image resize plumbing: 'image' payloads -> fixed (width, height)
    RGB rasters as new binary payloads (n_bytes = width*height*3).

    The raster synthesis is the STUB (a deterministic byte stream seeded
    by the source payload digest — replace with PIL's decode+resize+
    encode when the codec exists, as in decode_media); the
    Spark side — binary-in/binary-out mapInPandas, Arrow batching,
    pushdown-friendly kind filter, typed output schema — is the real
    operator shape a 100 TB preprocessing pipeline runs.
    """

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = width * height * 3
        for pdf in it:
            payloads = []
            for p in pdf["payload"]:
                digest = hashlib.sha256(
                    bytes(p) + width.to_bytes(4, "little")
                    + height.to_bytes(4, "little")
                ).digest()
                reps = n_out // len(digest) + 1
                payloads.append(bytearray((digest * reps)[:n_out]))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([width] * len(pdf), dtype=np.int32),
                    "height": pd.Series([height] * len(pdf), dtype=np.int32),
                    "n_bytes": pd.Series([n_out] * len(pdf), dtype=np.int32),
                    "payload": payloads,
                }
            )

    return media.where(F.col("kind") == "image").mapInPandas(fn, RESIZE_SCHEMA)


def sample_frames(
    media: DataFrame, frame_bytes: int = 256, every_k: int = 4
) -> DataFrame:
    """Frame sampling plumbing for 'video' payloads: treat the payload
    as fixed-size frames, keep every k-th; emits one row per sampled
    frame (posexplode-style fan-out inside the UDF)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_id, out_idx, out_ck = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                blob = bytes(p)
                n_frames = max(1, len(blob) // frame_bytes)
                for f in range(0, n_frames, every_k):
                    chunk = blob[f * frame_bytes : (f + 1) * frame_bytes]
                    out_id.append(mid)
                    out_idx.append(f)
                    out_ck.append(zlib.crc32(chunk))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_id, dtype=np.int64),
                    "frame_idx": pd.Series(out_idx, dtype=np.int32),
                    "frame_checksum": pd.Series(out_ck, dtype=np.int64),
                }
            )

    return media.where(F.col("kind") == "video").mapInPandas(fn, FRAME_SCHEMA)
