"""Animated play clips: APNG + GIF89a containers over the distributed
renderer's frames — the engine-side counterpart of the reference's
matplotlib FuncAnimation clips (reference src/visualization/play.py:
330-351, assets/clips/).

Same philosophy as viz/render.py's BMP codec: a real, self-contained,
pure-python + stdlib-zlib implementation of a narrow, deterministic
profile — 8-bit truecolor RGB, filter 0 on every
scanline, full-frame fcTL rectangles, dispose/blend 0 — with
``decode_apng`` the exact inverse of ``encode_apng`` (pixel equality
pinned in tests/test_viz_anim.py). No imaging library involved.

``animate_plays`` assembles one APNG per play DISTRIBUTEDLY: the
rendered BMP frames (viz/render.py::render_play_frames) group by play
and each group zips into one animation blob inside a single
``applyInPandas`` — blobs never leave the executors. A play's clip is
bounded (~70 frames x a fixed-canvas raster), so the group size is a
model constant, never data-sized.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _raw_scanlines(frame: np.ndarray) -> bytes:
    """Filter-0 scanlines: one 0x00 filter byte then the RGB row."""
    h, w, _ = frame.shape
    rows = np.empty((h, 1 + w * 3), dtype=np.uint8)
    rows[:, 0] = 0
    rows[:, 1:] = frame.reshape(h, w * 3)
    return rows.tobytes()


def encode_apng(
    frames: list[np.ndarray], delay_num: int = 1, delay_den: int = 10
) -> bytes:
    """Encode uint8 (h, w, 3) frames as an APNG (default 10 fps — the
    reference's tracking FRAME_RATE, src/core/settings.py:68-70).
    Every frame must share the first frame's shape; the first frame is
    both the PNG default image and animation frame 0, so any PNG
    viewer shows a valid still."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w, c = frames[0].shape
    if c != 3:
        raise ValueError("frames must be (h, w, 3) RGB")
    for f in frames:
        if f.shape != (h, w, 3) or f.dtype != np.uint8:
            raise ValueError("all frames must be uint8 with one shape")
    out = [_PNG_SIG]
    out.append(
        _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    )
    # acTL: frame count + infinite loop
    out.append(_chunk(b"acTL", struct.pack(">II", len(frames), 0)))
    seq = 0

    def fctl(width: int, height: int) -> bytes:
        nonlocal seq
        data = struct.pack(
            ">IIIIIHHBB", seq, width, height, 0, 0, delay_num, delay_den, 0, 0
        )
        seq += 1
        return _chunk(b"fcTL", data)

    out.append(fctl(w, h))
    out.append(_chunk(b"IDAT", zlib.compress(_raw_scanlines(frames[0]), 6)))
    for frame in frames[1:]:
        out.append(fctl(w, h))
        payload = struct.pack(">I", seq) + zlib.compress(
            _raw_scanlines(frame), 6
        )
        seq += 1
        out.append(_chunk(b"fdAT", payload))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def decode_apng(data: bytes) -> tuple[list[np.ndarray], tuple[int, int]]:
    """Exact inverse of :func:`encode_apng` for the profile it emits
    (8-bit RGB, filter 0, full-frame rectangles). Returns the frame
    list and the (delay_num, delay_den) of the first fcTL."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = 0
    delay = (0, 0)
    streams: list[bytes] = []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC in {ctype!r}")
        pos += 12 + length
        if ctype == b"IHDR":
            w, h, depth, ctype_, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype_, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG profile")
        elif ctype == b"fcTL":
            (_, fw, fh, fx, fy, dn, dd, dop, bop) = struct.unpack(
                ">IIIIIHHBB", body
            )
            if (fw, fh, fx, fy, dop, bop) != (w, h, 0, 0, 0, 0):
                raise ValueError("unsupported fcTL rectangle")
            if not streams:
                delay = (dn, dd)
        elif ctype == b"IDAT":
            streams.append(body)
        elif ctype == b"fdAT":
            streams.append(body[4:])
        elif ctype == b"IEND":
            break
    frames: list[np.ndarray] = []
    stride = 1 + w * 3
    for blob in streams:
        raw = zlib.decompress(blob)
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        if (rows[:, 0] != 0).any():
            raise ValueError("unsupported filter byte")
        frames.append(rows[:, 1:].reshape(h, w, 3).copy())
    return frames, delay


ANIM_SCHEMA = T.StructType(
    [
        T.StructField("game_id", T.LongType()),
        T.StructField("play_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("animation", T.BinaryType()),
    ]
)


def animate_plays(
    frames: DataFrame, delay_den: int = 10, container: str = "apng"
) -> DataFrame:
    """One animation clip per play from ``render_play_frames`` output:
    group the BMP frame rows by (game_id, play_id), decode, and zip
    each ordered frame stack into a single animation blob executor-
    side. The shuffle key is the play — the clip (a bounded frame
    count at a fixed canvas size) is the unit of work, so partitions
    stay balanced at any corpus scale. ``container`` picks the format:
    ``"apng"`` (default) or ``"gif"`` (the reference's container;
    requires the renderer's bounded palette — encode_gif raises past
    256 distinct colors rather than quantizing)."""
    from .render import decode_bmp

    if container not in ("apng", "gif"):
        raise ValueError(f"unknown container: {container!r}")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("frame_id")
        imgs = [decode_bmp(bytes(b)) for b in pdf["image"]]
        if container == "gif":
            blob = encode_gif(imgs, delay_cs=max(1, 100 // delay_den))
        else:
            blob = encode_apng(imgs, 1, delay_den)
        h, w, _ = imgs[0].shape
        return pd.DataFrame(
            {
                "game_id": [int(pdf["game_id"].iloc[0])],
                "play_id": [int(pdf["play_id"].iloc[0])],
                "n_frames": [len(imgs)],
                "width": [w],
                "height": [h],
                "media_type": [container],
                "animation": [blob],
            }
        )

    return frames.groupBy("game_id", "play_id").applyInPandas(
        assemble, ANIM_SCHEMA
    )


# ---------------------------------------------------------------------------
# GIF89a: the reference's actual clip container (reference
# src/visualization/play.py:344 writes .gif via matplotlib/Pillow).
# Same narrow-profile philosophy as the APNG pair above: global
# palette only (the renderer draws from a fixed flat palette, so a
# clip has far fewer than 256 distinct colors), full-frame images,
# no transparency, infinite loop; ``decode_gif`` is the exact inverse
# of ``encode_gif`` for that profile. Pure python — the LZW coder is
# the GIF89a variable-width algorithm (width bumps when the newly
# assigned code value reaches 2^width; CLEAR + reset at 4096).


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    emitted = 0  # data codes emitted since the last CLEAR
    for ch in indices:
        wk = w + bytes([ch])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        emitted += 1
        if next_code < 4096:
            table[wk] = next_code
            # encoder bumps when the newly ASSIGNED value needs one
            # more bit — the matching decoder bumps after adding the
            # value one below (it lags one entry behind)
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
            emitted = 0
        w = bytes([ch])
    if w:
        emit(table[w], width)
        emitted += 1
        # End-of-stream width sync: the decoder appends a table entry
        # for every data code after the first since a CLEAR, so after
        # this FINAL code (which the encoder assigns no entry for) the
        # decoder's table reaches next_code and may bump its width —
        # the encoder must bump identically or EOI is written at the
        # old width and read at the new one (desync on byte-aligned
        # streams: "truncated LZW stream").
        if emitted >= 2 and next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    out = bytearray()
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW code")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            # decoder lags the encoder by one entry: bump after adding
            # the value one below the encoder's bump point
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out.append(len(blk))
        out.extend(blk)
    out.append(0)
    return bytes(out)


def encode_gif(frames: list[np.ndarray], delay_cs: int = 10) -> bytes:
    """Encode uint8 (h, w, 3) frames as an infinitely-looping GIF89a
    (delay in centiseconds; 10 = the reference's 10 fps clip rate).
    One GLOBAL palette built from the distinct colors across all
    frames — more than 256 distinct colors raises (the renderer's
    fixed palette profile, deliberately narrow: no quantization ever
    silently alters pixels)."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w, c = frames[0].shape
    if c != 3:
        raise ValueError("frames must be (h, w, 3) RGB")
    for f in frames:
        if f.shape != (h, w, 3) or f.dtype != np.uint8:
            raise ValueError("all frames must be uint8 with one shape")
    stacked = np.concatenate([f.reshape(-1, 3) for f in frames])
    keys = (
        stacked[:, 0].astype(np.uint32) << 16
        | stacked[:, 1].astype(np.uint32) << 8
        | stacked[:, 2].astype(np.uint32)
    )
    palette_keys = np.unique(keys)
    if len(palette_keys) > 256:
        raise ValueError(
            f"{len(palette_keys)} distinct colors exceed the 256-color "
            "GIF palette (this codec never quantizes)"
        )
    gct_bits = max(1, int(len(palette_keys) - 1).bit_length())
    n_slots = 1 << gct_bits
    min_code_size = max(2, gct_bits)
    gct = np.zeros((n_slots, 3), dtype=np.uint8)
    gct[: len(palette_keys), 0] = palette_keys >> 16
    gct[: len(palette_keys), 1] = (palette_keys >> 8) & 0xFF
    gct[: len(palette_keys), 2] = palette_keys & 0xFF
    out = [b"GIF89a"]
    packed = 0x80 | (7 << 4) | (gct_bits - 1)
    out.append(struct.pack("<HHBBB", w, h, packed, 0, 0))
    out.append(gct.tobytes())
    out.append(b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00")
    for f in frames:
        fk = (
            f[:, :, 0].astype(np.uint32) << 16
            | f[:, :, 1].astype(np.uint32) << 8
            | f[:, :, 2].astype(np.uint32)
        )
        idx = np.searchsorted(palette_keys, fk.reshape(-1)).astype(np.uint8)
        out.append(
            b"\x21\xf9\x04\x00"
            + struct.pack("<H", delay_cs)
            + b"\x00\x00"
        )
        out.append(b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0))
        out.append(bytes([min_code_size]))
        out.append(_sub_blocks(_lzw_encode(idx.tobytes(), min_code_size)))
    out.append(b"\x3b")
    return b"".join(out)


def decode_gif(data: bytes) -> tuple[list[np.ndarray], int]:
    """Exact inverse of :func:`encode_gif` for the profile it emits
    (global palette, full-frame images, no transparency, no local
    palettes, no interlace). Returns the RGB frame list and the delay
    (centiseconds) of the first frame."""
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    if not packed & 0x80:
        raise ValueError("unsupported: no global color table")
    n_slots = 2 << (packed & 0x07)
    pos = 13
    gct = np.frombuffer(data[pos : pos + n_slots * 3], dtype=np.uint8)
    gct = gct.reshape(n_slots, 3)
    pos += n_slots * 3
    frames: list[np.ndarray] = []
    delay = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9:
                size = data[pos]
                (delay_here,) = struct.unpack(
                    "<H", data[pos + 2 : pos + 4]
                )
                if not frames:
                    delay = delay_here
                pos += 1 + size
            while data[pos] != 0:  # skip (remaining) sub-blocks
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            fx, fy, fw, fh, ipacked = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10]
            )
            if (fx, fy, fw, fh) != (0, 0, w, h) or ipacked & 0xC0:
                raise ValueError("unsupported image descriptor")
            pos += 10
            min_code_size = data[pos]
            pos += 1
            stream = bytearray()
            while data[pos] != 0:
                n = data[pos]
                stream.extend(data[pos + 1 : pos + 1 + n])
                pos += 1 + n
            pos += 1
            idx = np.frombuffer(
                _lzw_decode(bytes(stream), min_code_size), dtype=np.uint8
            )
            if len(idx) != w * h:
                raise ValueError("frame pixel count mismatch")
            frames.append(gct[idx].reshape(h, w, 3).copy())
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    return frames, delay
