"""Distributed play rendering — the engine-side counterpart of the
reference's matplotlib animation (src/visualization/field.py:33-289,
play.py:20-351).

The reference renders ONE play at a time on the driver: point-lookup,
frame-rebase, np.linspace ball flight, then a matplotlib FuncAnimation
(play.py:37-162, 182-351). Here rendering is a batch operator: one
``applyInPandas`` over (game_id, play_id) groups rasterizes EVERY
play's frames in parallel and emits them as a binary BMP column with
typed metadata (``decode_bmp`` reads a frame back to pixels). No
matplotlib, no driver loop, no collect: a group is one play (bounded:
~22 players x ~100 frames), so per-task memory is constant and the
operator scales with the number of plays, not their total size.

Semantics mirrored from the reference:
- after-throw frame ids rebase past the before-throw max
  (play.py:130-132), computed play-locally inside the group;
- ball position is the passer's track before the throw and a linear
  interpolation from the release point to (ball_land_x, ball_land_y)
  across the after frames (play.py:138-162), drawn with the same
  +0.31 yard x offset (play.py:279);
- the landing spot is marked with a cross (the reference's red "x"
  text marker, play.py:236-245); yard lines every 10 yards, shaded
  endzones, and the line of scrimmage at absolute_yardline_number
  (field.py / play.py:212-227).

Deliberate deviation: the reference colors players by a TEAMS
registry (presentation config keyed by franchise); the engine colors
by player_side — a deterministic palette with no config dependency.
Jersey text (nfl_id % 100, play.py:303 — operator F14) needs a font
rasterizer, so it ships as the ``jersey`` metadata column instead of
drawn glyphs.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Field geometry per reference src/core/settings.py:72-75.
FIELD_LENGTH = 120.0
FIELD_WIDTH = 53.3

# Deterministic RGB palette (side-based; see module docstring).
GRASS = (58, 124, 58)
ENDZONE = (34, 87, 34)
LINE = (255, 255, 255)
OFFENSE = (200, 30, 30)
DEFENSE = (30, 60, 200)
BALL = (139, 69, 19)
LAND_MARK = (255, 0, 0)
SCRIMMAGE = (50, 50, 160)

RENDER_SCHEMA = T.StructType(
    [
        T.StructField("game_id", T.LongType()),
        T.StructField("play_id", T.LongType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("phase", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("image", T.BinaryType()),
        T.StructField("ball_x", T.DoubleType()),
        T.StructField("ball_y", T.DoubleType()),
        T.StructField("n_players", T.IntegerType()),
        T.StructField("jerseys", T.ArrayType(T.LongType())),
    ]
)


def encode_bmp(img: np.ndarray) -> bytes:
    """Pure-numpy encode of an ``(height, width, 3)`` uint8 RGB array
    to an uncompressed bottom-up 24-bpp BMP — the exact inverse of
    ``decode_bmp`` (round-trip pinned by test). Rows are stored
    bottom-up, BGR, padded to 4 bytes."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("expected (h, w, 3) uint8 RGB")
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    pixels = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


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


def _px(v: float, scale: int) -> int:
    return int(round(v * scale))


def _disc(img: np.ndarray, cx: int, cy: int, r: int, rgb) -> None:
    h, w, _ = img.shape
    y0, y1 = max(0, cy - r), min(h, cy + r + 1)
    x0, x1 = max(0, cx - r), min(w, cx + r + 1)
    if y0 >= y1 or x0 >= x1:
        return
    yy, xx = np.ogrid[y0:y1, x0:x1]
    mask = (yy - cy) ** 2 + (xx - cx) ** 2 <= r * r
    img[y0:y1, x0:x1][mask] = rgb


def _cross(img: np.ndarray, cx: int, cy: int, r: int, rgb) -> None:
    h, w, _ = img.shape
    for d in range(-r, r + 1):
        for (y, x) in ((cy + d, cx + d), (cy + d, cx - d)):
            if 0 <= y < h and 0 <= x < w:
                img[y, x] = rgb


def _field_canvas(scale: int, scrimmage_x: float | None) -> np.ndarray:
    """Stylized field raster: grass, shaded endzones, white yard lines
    every 10 yards plus the sidelines, and the line of scrimmage."""
    h, w = _px(FIELD_WIDTH, scale), _px(FIELD_LENGTH, scale)
    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:] = GRASS
    img[:, : _px(10.0, scale)] = ENDZONE
    img[:, _px(110.0, scale):] = ENDZONE
    for yard in range(10, 111, 10):
        x = min(_px(float(yard), scale), w - 1)
        img[:, x] = LINE
    img[0, :] = LINE
    img[h - 1, :] = LINE
    img[:, 0] = LINE
    img[:, w - 1] = LINE
    if scrimmage_x is not None and 0.0 <= scrimmage_x <= FIELD_LENGTH:
        img[:, min(_px(scrimmage_x, scale), w - 1)] = SCRIMMAGE
    return img


def _rasterize_frame(
    img: np.ndarray,
    scale: int,
    players: Iterable[tuple[float, float, str]],
    ball_xy: tuple[float, float] | None,
    land_xy: tuple[float, float] | None,
) -> np.ndarray:
    """One frame: copy the field canvas, mark the landing cross (when
    landing coordinates exist — plays with null ball_land_x/y render
    without it), draw players as side-colored discs and the ball as a
    smaller disc at the reference's +0.31 yard x offset (play.py:279)."""
    h = img.shape[0]
    out = img.copy()
    if land_xy is not None:
        _cross(
            out,
            _px(land_xy[0], scale),
            h - 1 - _px(land_xy[1], scale),
            2 * scale,
            LAND_MARK,
        )
    for x, y, side in players:
        _disc(
            out,
            _px(x, scale),
            h - 1 - _px(y, scale),
            max(1, int(round(0.6 * scale))),
            OFFENSE if side == "Offense" else DEFENSE,
        )
    if ball_xy is not None:
        _disc(
            out,
            _px(ball_xy[0] + 0.31, scale),
            h - 1 - _px(ball_xy[1], scale),
            max(1, int(round(0.4 * scale))),
            BALL,
        )
    return out


def render_play_frames(
    before: DataFrame, after: DataFrame, scale: int = 2
) -> DataFrame:
    """Render every play's frame sequence to BMP blobs, distributed by
    (game_id, play_id). ``before`` is cleaned before-throw tracking
    (carries player_side/player_role, ball_land_x/y and
    absolute_yardline_number per FIXTURES.md §1); ``after`` is
    post-throw tracking whose frame ids restart at 1 and get rebased
    play-locally (reference play.py:130-132). Returns one row per
    (play, frame) with the BMP blob plus the ball position and jersey
    metadata (nfl_id % 100, reference play.py:303).

    Scale: the shuffle key is the play — groups are bounded
    (~22 players x ~100 frames), the raster is ``scale``-quadratic
    but play-count-linear overall, and each binary frame decodes back
    to pixels with ``decode_bmp``. Point lookups (the reference
    CLI's one-play mode) are a filter on the result or on the inputs.
    """
    b = before.select(
        "game_id",
        "play_id",
        F.col("frame_id").cast("long").alias("frame_id"),
        "nfl_id",
        "player_side",
        "player_role",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.col("ball_land_x").cast("double").alias("ball_land_x"),
        F.col("ball_land_y").cast("double").alias("ball_land_y"),
        F.col("absolute_yardline_number").cast("double").alias("scrim_x"),
        F.lit("before").alias("phase"),
    )
    a = after.select(
        "game_id",
        "play_id",
        F.col("frame_id").cast("long").alias("frame_id"),
        "nfl_id",
        F.lit(None).cast("string").alias("player_side"),
        F.lit(None).cast("string").alias("player_role"),
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.lit(None).cast("double").alias("ball_land_x"),
        F.lit(None).cast("double").alias("ball_land_y"),
        F.lit(None).cast("double").alias("scrim_x"),
        F.lit("after").alias("phase"),
    )
    union = b.unionByName(a)

    def render_one(pdf: pd.DataFrame) -> pd.DataFrame:
        game_id = int(pdf["game_id"].iloc[0])
        play_id = int(pdf["play_id"].iloc[0])
        bf = pdf[pdf["phase"] == "before"]
        af = pdf[pdf["phase"] == "after"].copy()
        if bf.empty:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in RENDER_SCHEMA}
            )
        max_before = int(bf["frame_id"].max())
        af["frame_id"] = af["frame_id"] + max_before
        # sides are a before-throw attribute; carry them onto the
        # after rows by player (the reference's cleaned after-frames
        # join back the same way).
        side_by_player = (
            bf.drop_duplicates("nfl_id").set_index("nfl_id")["player_side"]
        )
        af["player_side"] = (
            af["nfl_id"].map(side_by_player).fillna("Defense")
        )
        # Null landing coordinates (advice r10): render without the
        # cross and without the ball-flight linspace instead of
        # int(round(nan)) blowing up the Arrow worker.
        land_raw_x = bf["ball_land_x"].iloc[0]
        land_raw_y = bf["ball_land_y"].iloc[0]
        land_xy: tuple[float, float] | None = None
        if pd.notna(land_raw_x) and pd.notna(land_raw_y):
            land_xy = (float(land_raw_x), float(land_raw_y))
        scrim = bf["scrim_x"].iloc[0]
        canvas = _field_canvas(
            scale, float(scrim) if pd.notna(scrim) else None
        )

        # Ball track: passer positions before the throw, then linspace
        # from the release point to the landing spot (play.py:138-162).
        passer = bf[bf["player_role"] == "Passer"].sort_values("frame_id")
        ball_by_frame: dict[int, tuple[float, float]] = {
            int(r.frame_id): (float(r.x), float(r.y))
            for r in passer.itertuples()
        }
        after_frames = sorted(af["frame_id"].unique())
        if after_frames and not passer.empty and land_xy is not None:
            rx, ry = (
                float(passer["x"].iloc[-1]),
                float(passer["y"].iloc[-1]),
            )
            xs = np.linspace(rx, land_xy[0], len(after_frames))
            ys = np.linspace(ry, land_xy[1], len(after_frames))
            for fid, bx, by in zip(after_frames, xs, ys):
                ball_by_frame[int(fid)] = (float(bx), float(by))

        rows = []
        full = pd.concat([bf, af], ignore_index=True)
        for fid, grp in full.groupby("frame_id", sort=True):
            ball = ball_by_frame.get(int(fid))
            img = _rasterize_frame(
                canvas,
                scale,
                [
                    (float(r.x), float(r.y), str(r.player_side))
                    for r in grp.itertuples()
                ],
                ball,
                land_xy,
            )
            rows.append(
                {
                    "game_id": game_id,
                    "play_id": play_id,
                    "frame_id": int(fid),
                    "phase": str(grp["phase"].iloc[0]),
                    "width": img.shape[1],
                    "height": img.shape[0],
                    "media_type": "bmp",
                    "image": encode_bmp(img),
                    "ball_x": ball[0] if ball else None,
                    "ball_y": ball[1] if ball else None,
                    "n_players": int(len(grp)),
                    "jerseys": sorted(
                        int(n) % 100 for n in grp["nfl_id"]
                    ),
                }
            )
        return pd.DataFrame(rows)

    return union.groupBy("game_id", "play_id").applyInPandas(
        render_one, schema=RENDER_SCHEMA
    )
