"""Multimodal (binary) column processing.

Images/audio/video are opaque ``binary`` columns with typed metadata
alongside; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages so the bytes never round-trip
through Python row objects. BMP and WAVE blobs decode for real; other
codecs get a deterministic byte-level fake (see ``_decode``).

Scale notes: blobs dominate partition size, so the media table should
be written with a small ``maxRecordsPerFile`` / row-group size, and
feature extraction should run BEFORE any shuffle (features are a few
hundred bytes; blobs are megabytes — never shuffle blobs to group
features).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Canonical media-table schema: blob + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("blob", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

FEATURE_DIM = 8

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def decode_bmp(blob: bytes) -> np.ndarray:
    """Pure-numpy decode of an uncompressed 24-bpp BMP (the public
    BITMAPINFOHEADER layout) to an ``(height, width, 3)`` uint8 RGB
    array. Handles bottom-up (positive height) and top-down rows and
    the 4-byte row padding. No imaging library involved."""
    if blob[:2] != b"BM" or len(blob) < 54:
        raise ValueError("not a BMP blob")
    pixel_off = int.from_bytes(blob[10:14], "little")
    width = int.from_bytes(blob[18:22], "little", signed=True)
    height = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    compression = int.from_bytes(blob[30:34], "little")
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        raise ValueError("only uncompressed 24-bpp BMP supported")
    h = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    data = np.frombuffer(blob, np.uint8, count=row_bytes * h, offset=pixel_off)
    rows = data.reshape(h, row_bytes)[:, : width * 3].reshape(h, width, 3)
    if height > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[..., ::-1]  # stored BGR -> RGB


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """Pure-numpy decode of a RIFF/WAVE PCM blob (8-bit unsigned or
    16-bit signed) to ``(samples, sample_rate)``; multi-channel audio
    is mean-downmixed. Samples are float64 in [-1, 1)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAVE blob")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_fmt != 1 or n_channels < 1:
        raise ValueError("only PCM WAVE supported")
    if bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 2)], dtype="<i2"
        ).astype(np.float64) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError("only 8/16-bit PCM supported")
    if n_channels > 1:
        n = len(samples) - (len(samples) % n_channels)
        samples = samples[:n].reshape(-1, n_channels).mean(axis=1)
    return samples, sample_rate


def _decode(blob: bytes, media_type: str) -> np.ndarray:
    """Decode a blob to a flat float64 intensity array in [0, 255].

    Real, library-free decoders cover the two public container
    formats whose layout is simple enough to parse by hand — 24-bpp
    BMP and PCM WAVE — dispatched on magic bytes. Anything else
    (PNG/JPEG/MP3/MP4 need codec libraries this container lacks)
    falls back to a DETERMINISTIC FAKE (sha256-seeded bytes, clearly
    labeled) so the pipeline shape stays fully testable.
    """
    if media_type == "image" and blob[:2] == b"BM":
        return decode_bmp(blob).astype(np.float64).ravel()
    if media_type == "audio" and blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        samples, _ = decode_wav(blob)
        return (samples + 1.0) * 127.5  # [-1,1) -> [0,255) intensity scale
    digest = hashlib.sha256(blob).digest()
    seed = np.frombuffer(digest, dtype=np.uint8).astype(np.float64)
    return seed


def extract_features(media: DataFrame) -> DataFrame:
    """Per-blob metadata + fixed-size feature vector via mapInPandas.

    The iterator-of-batches signature streams Arrow batches through a
    single Python worker per partition — constant memory regardless of
    partition row count.
    """

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob, mtype in zip(pdf["blob"], pdf["media_type"]):
                b = bytes(blob)
                decoded = _decode(b, mtype).ravel()
                # Deterministic pooled 'embedding' of the decoded
                # array: FEATURE_DIM contiguous-chunk means (trim the
                # tail so any decode length pools cleanly).
                n = decoded.size - (decoded.size % FEATURE_DIM)
                if n:
                    pooled = decoded[:n].reshape(FEATURE_DIM, -1).mean(axis=1) / 255.0
                else:
                    pooled = np.zeros(FEATURE_DIM)
                feats.append(
                    (
                        len(b),
                        hashlib.sha256(b).hexdigest(),
                        [float(x) for x in pooled],
                    )
                )
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [f[0] for f in feats],
                    "content_sha256": [f[1] for f in feats],
                    "features": [f[2] for f in feats],
                }
            )
            yield out

    return media.mapInPandas(per_batch, schema=_FEATURES_SCHEMA)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (H, W, C) image array — pure
    numpy (index arithmetic only, no interpolation libraries), the
    standard pre-embedding normalization step. Deterministic: source
    index = floor(dst * src / out), the OpenCV INTER_NEAREST mapping.
    """
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows][:, cols]


def resize_images(
    media: DataFrame, out_h: int = 16, out_w: int = 16
) -> DataFrame:
    """Decode + nearest-neighbor resize for image blobs via
    mapInPandas: one row per image with the resized pixel array
    (flattened row-major float list) and its shape — the
    fixed-resolution canonicalization a vision-embedding batch
    expects. Non-BMP images flow through the same deterministic-fake
    decode as extract_features, so the Spark-side plumbing (schema,
    batching, partitioning) is real for every format.

    Scale: same shape as extract_features — Arrow batches stream
    through one Python worker per partition, constant memory; the blob
    never leaves the executor."""

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs, ws, pixels = [], [], [], []
            for media_id, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                if b[:2] == b"BM":
                    img = decode_bmp(b).astype(np.float64)
                else:
                    flat = _decode(b, "image")
                    side = max(int(np.sqrt(flat.size)), 1)
                    img = np.resize(flat, (side, side, 1))
                small = resize_nearest(img, out_h, out_w)
                ids.append(media_id)
                hs.append(out_h)
                ws.append(out_w)
                pixels.append([float(x) for x in small.ravel()])
            yield pd.DataFrame(
                {"media_id": ids, "height": hs, "width": ws, "pixels": pixels}
            )

    images = media.where(media["media_type"] == "image")
    return images.mapInPandas(
        per_batch,
        schema="media_id long, height int, width int, pixels array<double>",
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video blobs: one output row per kept
    frame index (the decode of each frame is the same gated stub).

    Expressed as sequence+explode so the expansion happens executor-
    side; the blob column is dropped BEFORE the explode — only frame
    indices and metadata multiply, never the bytes.
    """
    from pyspark.sql import functions as F

    video = media.where(F.col("media_type") == "video")
    idx = F.sequence(
        F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n)
    )
    return video.select(
        "media_id",
        "n_frames",
        F.explode(idx).alias("frame_index"),
    )


# Pickle this module's functions BY VALUE into UDF closures: Spark's
# Python workers otherwise resolve them by module name, which fails
# whenever the package isn't on the worker's import path (e.g. the
# driver imported the repo by file location from another cwd).
import sys as _sys

try:  # pragma: no cover - exercised via worker round-trips in tests
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass
