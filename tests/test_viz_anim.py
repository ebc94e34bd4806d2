"""APNG animation container (viz/anim.py): byte-level round-trip,
distributed per-play assembly against the renderer's BMP frames, and
the CLI clip flag — the reference's animated-clip surface
(src/visualization/play.py:330-351) without an imaging library."""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pytest

from big_data_bowl_2026_analytics_spark.schemas import (
    TRACKING_AFTER_SCHEMA,
    TRACKING_BEFORE_SCHEMA,
)
from big_data_bowl_2026_analytics_spark.viz import (
    animate_plays,
    decode_apng,
    decode_bmp,
    encode_apng,
    render_play_frames,
)
from fixtures_nfl import make_tracking_after, make_tracking_before


def _rand_frames(n, h, w, seed=7):
    rng = np.random.RandomState(seed)
    return [
        rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        for _ in range(n)
    ]


def test_apng_roundtrip_exact():
    frames = _rand_frames(5, 17, 23)
    blob = encode_apng(frames, delay_num=1, delay_den=10)
    got, delay = decode_apng(blob)
    assert delay == (1, 10)
    assert len(got) == 5
    for a, b in zip(frames, got):
        assert (a == b).all()


def test_apng_single_frame_and_signature():
    frames = _rand_frames(1, 4, 6)
    blob = encode_apng(frames)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    # IHDR is the first chunk and declares 8-bit truecolor
    assert blob[12:16] == b"IHDR"
    w, h = struct.unpack(">II", blob[16:24])
    assert (w, h) == (6, 4)
    got, _ = decode_apng(blob)
    assert len(got) == 1 and (got[0] == frames[0]).all()


def test_apng_chunk_crcs_valid():
    blob = encode_apng(_rand_frames(3, 8, 8))
    pos = 8
    seen = []
    while pos < len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", blob[pos + 8 + length : pos + 12 + length]
        )
        assert crc == (zlib.crc32(ctype + body) & 0xFFFFFFFF)
        seen.append(ctype)
        pos += 12 + length
    assert seen[0] == b"IHDR" and seen[-1] == b"IEND"
    assert seen.count(b"fcTL") == 3  # one per frame
    assert seen.count(b"fdAT") == 2  # frames after the first
    # acTL precedes the first frame control
    assert seen.index(b"acTL") < seen.index(b"fcTL")


def test_apng_rejects_mixed_shapes():
    with pytest.raises(ValueError):
        encode_apng(
            [
                np.zeros((4, 4, 3), dtype=np.uint8),
                np.zeros((5, 4, 3), dtype=np.uint8),
            ]
        )


@pytest.fixture(scope="module")
def rendered_df(spark):
    before = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields)
            for r in make_tracking_before()
        ],
        TRACKING_BEFORE_SCHEMA,
    )
    after = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields)
            for r in make_tracking_after()
        ],
        TRACKING_AFTER_SCHEMA,
    )
    return render_play_frames(before, after, scale=2)


def test_animate_plays_matches_frame_stack(spark, rendered_df):
    """The distributed clip equals the frame-by-frame BMPs: decode
    each play's APNG and compare every pixel against the renderer's
    own frames in frame order."""
    frames = rendered_df.collect()
    clips = {(r.game_id, r.play_id): r for r in animate_plays(rendered_df).collect()}
    by_play: dict[tuple[int, int], list] = {}
    for r in frames:
        by_play.setdefault((r.game_id, r.play_id), []).append(r)
    assert set(clips) == set(by_play)
    for key, rows in by_play.items():
        rows.sort(key=lambda r: r.frame_id)
        clip = clips[key]
        assert clip.media_type == "apng"
        assert clip.n_frames == len(rows)
        got, delay = decode_apng(bytes(clip.animation))
        assert delay == (1, 10)
        for row, img in zip(rows, got):
            want = decode_bmp(bytes(row.image))
            assert want.shape == (clip.height, clip.width, 3)
            assert (img == want).all()


def test_viz_cli_apng_flag(spark, tmp_path):
    from big_data_bowl_2026_analytics_spark.viz.__main__ import main

    before = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields)
            for r in make_tracking_before()
        ],
        TRACKING_BEFORE_SCHEMA,
    )
    after = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields)
            for r in make_tracking_after()
        ],
        TRACKING_AFTER_SCHEMA,
    )
    bdir, adir = str(tmp_path / "b"), str(tmp_path / "a")
    before.write.parquet(bdir)
    after.write.parquet(adir)
    out = str(tmp_path / "play1")
    rc = main(
        [
            "--before", bdir, "--after", adir,
            "--game-id", "1001", "--play-id", "1", "--out", out,
            "--apng",
        ]
    )
    assert rc == 0
    with open(os.path.join(out, "play.apng"), "rb") as fh:
        clip, _ = decode_apng(fh.read())
    assert len(clip) == 8  # play 1 renders 8 frames (5 before + 3 after)
    with open(os.path.join(out, "frame_0001.bmp"), "rb") as fh:
        assert (clip[0] == decode_bmp(fh.read())).all()


# --------------------------------------------------------------- GIF89a


def _rand_palette_frames(n, h, w, n_colors=120, seed=11):
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
    return [pal[rng.randint(0, n_colors, size=(h, w))] for _ in range(n)]


def test_gif_roundtrip_exact():
    from big_data_bowl_2026_analytics_spark.viz import decode_gif, encode_gif

    frames = _rand_palette_frames(5, 17, 23)
    blob = encode_gif(frames, delay_cs=8)
    assert blob[:6] == b"GIF89a" and blob[-1:] == b"\x3b"
    got, delay = decode_gif(blob)
    assert delay == 8 and len(got) == 5
    for a, b in zip(frames, got):
        assert (a == b).all()


def test_gif_minimal_palette_and_single_frame():
    from big_data_bowl_2026_analytics_spark.viz import decode_gif, encode_gif

    f = np.zeros((5, 7, 3), np.uint8)
    f[2, 3] = 255
    got, _ = decode_gif(encode_gif([f]))
    assert len(got) == 1 and (got[0] == f).all()


def test_gif_rejects_true_color():
    from big_data_bowl_2026_analytics_spark.viz import encode_gif

    frames = _rand_frames(2, 24, 24)  # ~all-distinct random colors
    with pytest.raises(ValueError, match="256-color"):
        encode_gif(frames)


def test_gif_lzw_width_bumps_and_reset():
    """Index streams sized to cross every code-width boundary and the
    4096-entry table reset must survive the round-trip bit-exactly."""
    from big_data_bowl_2026_analytics_spark.viz.anim import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = np.random.RandomState(3)
    for n_colors, n in ((4, 9), (7, 300), (64, 5000), (256, 120000)):
        mcs = max(2, int(n_colors - 1).bit_length())
        data = rng.randint(0, n_colors, size=n).astype(np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(data, mcs), mcs) == data
    # pathological runs exercise the KwKwK decoder case
    for n in (1, 2, 3, 4097):
        data = bytes([1]) * n
        assert _lzw_decode(_lzw_encode(data, 2), 2) == data


def test_gif_lzw_short_stream_roundtrip_hypothesis():
    """End-of-stream width sync (r12 ADVICE): the decoder appends a
    table entry for the FINAL data code and may bump its code width
    before reading EOI; the encoder must bump identically. Short
    random streams hit the boundary nondeterministically (4 of the
    first 31 random 1-40 byte streams at min_code_size=2 failed
    before the fix), so sweep them property-style."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data_bowl_2026_analytics_spark.viz.anim import (
        _lzw_decode,
        _lzw_encode,
    )

    # the ADVICE reproducer, pinned exactly
    repro = bytes.fromhex("0302030302000200030201010002")
    assert _lzw_decode(_lzw_encode(repro, 2), 2) == repro

    @settings(max_examples=500, deadline=None)
    @given(
        mcs=st.sampled_from([2, 3, 4, 8]),
        data=st.data(),
    )
    def roundtrip(mcs, data):
        n = data.draw(st.integers(min_value=1, max_value=60))
        s = bytes(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=(1 << mcs) - 1),
                    min_size=n,
                    max_size=n,
                )
            )
        )
        assert _lzw_decode(_lzw_encode(s, mcs), mcs) == s

    roundtrip()


def test_animate_plays_gif_container(spark, rendered_df):
    from big_data_bowl_2026_analytics_spark.viz import decode_gif

    frames = rendered_df.collect()
    clips = {
        (r.game_id, r.play_id): r
        for r in animate_plays(rendered_df, container="gif").collect()
    }
    by_play: dict[tuple[int, int], list] = {}
    for r in frames:
        by_play.setdefault((r.game_id, r.play_id), []).append(r)
    assert set(clips) == set(by_play)
    for key, rows in by_play.items():
        rows.sort(key=lambda r: r.frame_id)
        clip = clips[key]
        assert clip.media_type == "gif"
        got, delay = decode_gif(bytes(clip.animation))
        assert delay == 10  # 100 // delay_den(10)
        assert len(got) == len(rows)
        for row, img in zip(rows, got):
            assert (img == decode_bmp(bytes(row.image))).all()


def test_viz_cli_gif_flag(spark, tmp_path):
    from big_data_bowl_2026_analytics_spark.viz import decode_gif
    from big_data_bowl_2026_analytics_spark.viz.__main__ import main

    before = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields)
            for r in make_tracking_before()
        ],
        TRACKING_BEFORE_SCHEMA,
    )
    after = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields)
            for r in make_tracking_after()
        ],
        TRACKING_AFTER_SCHEMA,
    )
    bdir, adir = str(tmp_path / "b"), str(tmp_path / "a")
    before.write.parquet(bdir)
    after.write.parquet(adir)
    out = str(tmp_path / "play1")
    rc = main(
        [
            "--before", bdir, "--after", adir,
            "--game-id", "1001", "--play-id", "1", "--out", out,
            "--gif",
        ]
    )
    assert rc == 0
    with open(os.path.join(out, "play.gif"), "rb") as fh:
        frames, _ = decode_gif(fh.read())
    assert frames and frames[0].ndim == 3
