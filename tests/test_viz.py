"""Distributed play renderer (viz/render.py): BMP encode/decode
round-trip, frame assembly semantics (rebase, ball flight), and pixel
assertions on the raster — all against the NFL fixtures, no imaging
library involved."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_bowl_2026_analytics_spark.schemas import (
    TRACKING_AFTER_SCHEMA,
    TRACKING_BEFORE_SCHEMA,
)
from big_data_bowl_2026_analytics_spark.viz.render import (
    BALL,
    DEFENSE,
    FIELD_LENGTH,
    FIELD_WIDTH,
    GRASS,
    LAND_MARK,
    LINE,
    OFFENSE,
    decode_bmp,
    encode_bmp,
    render_play_frames,
)
from fixtures_nfl import make_tracking_after, make_tracking_before


def test_encode_bmp_roundtrips_through_decode_bmp():
    """encode_bmp is the exact inverse of decode_bmp,
    including the 4-byte row padding (odd widths) and bottom-up row
    order."""
    rng = np.random.default_rng(7)
    for h, w in [(5, 7), (8, 8), (1, 1), (13, 3)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = encode_bmp(img)
        assert blob[:2] == b"BM"
        back = decode_bmp(blob)
        assert back.shape == (h, w, 3)
        assert np.array_equal(back, img)


def _bmp_bytes(pixels, top_down=False):
    """Hand-rolled uncompressed 24-bpp BMP encoder, independent of
    encode_bmp: pixels is an (H, W, 3) uint8 RGB array; ``top_down``
    writes a negative height and rows in display order."""
    import struct

    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    rows = pixels if top_down else pixels[::-1]
    for row in rows:
        line = bytes(row[:, ::-1].astype("uint8").tobytes())  # RGB -> BGR
        body += line + b"\x00" * (row_bytes - len(line))
    height = -h if top_down else h
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, height, 1, 24, 0, len(body), 0, 0, 0, 0)
    return bytes(header + dib + body)


def test_decode_bmp_real_bytes():
    # 3x2 gradient with asymmetric channels; odd width forces row padding
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3) * 10
    for top_down in (False, True):
        out = decode_bmp(_bmp_bytes(px, top_down=top_down))
        assert out.shape == (2, 3, 3)
        assert np.array_equal(out, px)
    with pytest.raises(ValueError):
        decode_bmp(b"NOTABMP" + b"\x00" * 64)


@pytest.fixture(scope="module")
def rendered(spark):
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
    return render_play_frames(before, after, scale=2).collect()


def test_render_frame_axis_and_phases(rendered):
    """Play 1 has 5 before + 3 after frames: one row per frame on a
    contiguous rebased axis, before/after phases split at the rebase
    point (reference play.py:130-132)."""
    p1 = sorted(
        (r for r in rendered if r.game_id == 1001 and r.play_id == 1),
        key=lambda r: r.frame_id,
    )
    assert [r.frame_id for r in p1] == list(range(1, 9))
    assert [r.phase for r in p1] == ["before"] * 5 + ["after"] * 3
    # play 5 has no after rows: before frames only
    p5 = [r for r in rendered if r.play_id == 5]
    assert len(p5) == 4 and all(r.phase == "before" for r in p5)


def test_render_ball_flight(rendered):
    """Before the throw the ball rides the passer's track; after it,
    the linear interpolation ends exactly at the landing spot
    (play.py:138-162)."""
    p1 = {r.frame_id: r for r in rendered if r.play_id == 1}
    # passer (nfl_id 1) starts at (20.0, 25.0) moving +0.1/frame
    assert p1[1].ball_x == pytest.approx(20.0)
    assert p1[5].ball_x == pytest.approx(20.4)
    # ball lands at (50.0, 20.0) on the last after frame
    assert p1[8].ball_x == pytest.approx(50.0)
    assert p1[8].ball_y == pytest.approx(20.0)


def test_render_pixels(rendered):
    """Pixel-level checks on one decoded frame: canvas dimensions,
    grass background, a yard line, the offense/defense discs at the
    player positions, the ball disc, and the landing cross."""
    p1 = {r.frame_id: r for r in rendered if r.play_id == 1}
    r = p1[1]
    scale = 2
    img = decode_bmp(bytes(r.image))
    assert (r.height, r.width) == img.shape[:2]
    assert img.shape == (
        round(FIELD_WIDTH * scale),
        round(FIELD_LENGTH * scale),
        3,
    )

    def at(x_yd, y_yd):
        return img[
            img.shape[0] - 1 - int(round(y_yd * scale)),
            int(round(x_yd * scale)),
        ]

    assert tuple(at(35.0, 45.0)) == GRASS  # empty grass (between lines)
    assert tuple(at(40.0, 40.0)) == LINE  # 40-yard line
    # frame 1: receiver (Offense) at (45, 20), defender at (47, 21)
    assert tuple(at(45.0, 20.0)) == OFFENSE
    assert tuple(at(47.0, 21.0)) == DEFENSE
    # ball on the passer at (20, 25) with the +0.31 x offset
    assert tuple(at(20.31, 25.0)) == BALL
    # landing cross at (50, 20) — check an off-center diagonal pixel
    # (the center pixel is under the receiver disc in later frames)
    h = img.shape[0]
    cy, cx = h - 1 - int(round(20.0 * scale)), int(round(50.0 * scale))
    assert tuple(img[cy + 3, cx + 3]) == LAND_MARK
    # metadata: 4 players in frame 1, jerseys are nfl_id % 100
    assert r.n_players == 4
    assert list(r.jerseys) == [1, 2, 3, 4]


def test_render_deterministic(spark):
    """Two renders of the same input produce byte-identical blobs."""
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
    one = {
        (r.play_id, r.frame_id): bytes(r.image)
        for r in render_play_frames(before, after, scale=2).collect()
    }
    two = {
        (r.play_id, r.frame_id): bytes(r.image)
        for r in render_play_frames(before, after, scale=2).collect()
    }
    assert one == two


def test_scatter_bins_exact_and_bounded(spark):
    """Pixel binning is exact: hand-computable points land in the
    expected pixels with exact counts; the boundary x==x_max clamps to
    the last pixel; out-of-window rows drop."""
    from big_data_bowl_2026_analytics_spark.viz.scatter import scatter_bins

    rows = [
        (0.0, 0.0),   # px 0, py 0
        (0.0, 0.0),
        (5.0, 5.0),   # px 5, py 5 at unit scale
        (9.999, 9.999),
        (10.0, 10.0),  # boundary -> clamps to (9, 9)
        (-1.0, 5.0),  # out of window
        (11.0, 5.0),  # out of window
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {
        (r.px, r.py): r.n
        for r in scatter_bins(
            df, "x", "y", 0.0, 10.0, 0.0, 10.0, width=10, height=10
        ).collect()
    }
    assert got == {(0, 0): 2, (5, 5): 1, (9, 9): 2}


def test_heatmap_bmp_pixels(spark):
    """The rasterized heatmap puts the densest bin at the dark ramp
    end, singleton bins lighter, background white, py=0 at the bottom
    row — decoded back through decode_bmp."""
    from big_data_bowl_2026_analytics_spark.viz.scatter import (
        BACKGROUND,
        RAMP_HI,
        heatmap_bmp,
        scatter_bins,
    )

    rows = [(1.5, 1.5)] * 50 + [(8.5, 8.5)]
    df = spark.createDataFrame(rows, "x double, y double")
    bins = scatter_bins(
        df, "x", "y", 0.0, 10.0, 0.0, 10.0, width=10, height=10
    ).collect()
    blob = heatmap_bmp(bins, 10, 10, x_axis_px=5, y_axis_px=5)
    img = decode_bmp(blob)
    assert img.shape == (10, 10, 3)
    assert tuple(img[10 - 1 - 1, 1]) == RAMP_HI  # 50-count bin, bottom-up y
    single = tuple(img[10 - 1 - 8, 8])
    assert single != RAMP_HI and single != BACKGROUND
    assert tuple(img[0, 0]) == BACKGROUND
    # axis crosshair at px/py 5 (where no bin overdraws)
    assert tuple(img[10 - 1 - 5, 0]) == (120, 120, 120)


def test_quadrant_counts(spark):
    """Quadrant summary: exact integer counts per (x_side, y_side)."""
    from big_data_bowl_2026_analytics_spark.viz.scatter import (
        quadrant_counts,
    )

    rows = [(1.0, 1.0), (1.0, 9.0), (9.0, 9.0), (9.0, 9.0), (5.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {
        (r.x_side, r.y_side): r.n
        for r in quadrant_counts(df, "x", "y", 5.0, 5.0).collect()
    }
    # (5,5) is >= both splits -> hi/hi
    assert got == {
        ("lo", "lo"): 1,
        ("lo", "hi"): 1,
        ("hi", "hi"): 3,
    }


def test_viz_cli_writes_frames(spark, tmp_path):
    """The CLI renders one play to frame_####.bmp files + a manifest —
    the reference's visualize_play command surface (play.py:353-377)."""
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
        ]
    )
    assert rc == 0
    import os

    names = sorted(os.listdir(out))
    assert "frames.csv" in names
    bmps = [n for n in names if n.endswith(".bmp")]
    assert bmps == [f"frame_{i:04d}.bmp" for i in range(1, 9)]
    with open(os.path.join(out, bmps[0]), "rb") as fh:
        img = decode_bmp(fh.read())
    assert img.shape[2] == 3


def test_scatter_bins_matches_numpy_model(spark):
    """Randomized cross-model check: Spark's floor/clamp pixel binning
    equals an independent numpy binning of the same points — window
    filtering, edge clamping and exact counts, over an awkward
    non-unit window."""
    rng = np.random.default_rng(42)
    xs = rng.uniform(-2.0, 13.0, size=2000)
    ys = rng.uniform(-5.0, 8.0, size=2000)
    x_min, x_max, y_min, y_max = -1.5, 12.25, -4.0, 7.5
    w, h = 37, 23
    from big_data_bowl_2026_analytics_spark.viz.scatter import scatter_bins

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xs, ys)],
        "x double, y double",
    )
    got = {
        (r.px, r.py): r.n
        for r in scatter_bins(
            df, "x", "y", x_min, x_max, y_min, y_max, width=w, height=h
        ).collect()
    }
    keep = (xs >= x_min) & (xs <= x_max) & (ys >= y_min) & (ys <= y_max)
    px = np.minimum(
        w - 1, np.floor((xs[keep] - x_min) / (x_max - x_min) * w)
    ).astype(int)
    py = np.minimum(
        h - 1, np.floor((ys[keep] - y_min) / (y_max - y_min) * h)
    ).astype(int)
    want: dict[tuple[int, int], int] = {}
    for a, b in zip(px, py):
        want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want
    assert sum(got.values()) == int(keep.sum())


def test_render_and_scatter_plan_shapes(spark):
    """Plan contracts for the viz operators: the renderer is ONE
    play-keyed Arrow group op (FlatMapGroupsInPandas over a single
    exchange on game_id/play_id); scatter_bins is a two-phase hash
    aggregation whose window predicate reaches the scan-side filter —
    no window functions, no Python nodes."""
    from big_data_bowl_2026_analytics_spark.plans.explain import (
        physical_plan,
    )
    from big_data_bowl_2026_analytics_spark.viz.render import (
        render_play_frames,
    )
    from big_data_bowl_2026_analytics_spark.viz.scatter import scatter_bins

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
    plan = physical_plan(render_play_frames(before, after))
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(game_id" in plan
    assert plan.count("Exchange (") == 1  # the one play-key shuffle

    from pyspark.sql import functions as F

    from big_data_bowl_2026_analytics_spark.sources.readers import (
        read_table,
    )

    ev = read_table(
        spark, "/root/testdata/sf0.001", "events", ["value", "user_id"]
    )
    pts = ev.select(
        F.col("user_id").cast("double").alias("x"),
        F.col("value").cast("double").alias("y"),
    )
    splan = physical_plan(
        scatter_bins(pts, "x", "y", 0.0, 100.0, 0.0, 100.0)
    )
    # partial + final aggregate = 2 nodes, printed twice (tree+detail)
    assert splan.count("HashAggregate") == 4
    assert "Window" not in splan
    assert "Filter" in splan
    assert "FlatMapGroupsInPandas" not in splan


def test_render_after_only_play_drops_cleanly(spark):
    """A play with after-throw rows but no before-throw rows (nothing
    to rebase against or read ball_land from) yields ZERO frames, not
    a crash — the empty-group Arrow path."""
    before = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields)
            for r in make_tracking_before()
        ],
        TRACKING_BEFORE_SCHEMA,
    ).where("play_id <> 2")
    after = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields)
            for r in make_tracking_after()
        ],
        TRACKING_AFTER_SCHEMA,
    )
    out = render_play_frames(before, after, scale=2).collect()
    assert sorted({r.play_id for r in out}) == [1, 3, 4, 5, 6]


def test_render_null_ball_land_skips_cross_and_flight(spark):
    """A play whose ball_land_x/y are NULL (advice r10) renders every
    frame without the landing cross or the after-throw ball-flight
    linspace instead of int(round(nan)) failing the Arrow stage."""
    import pyspark.sql.functions as F

    before = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields)
            for r in make_tracking_before()
        ],
        TRACKING_BEFORE_SCHEMA,
    ).withColumns(
        {
            "ball_land_x": F.when(
                F.col("play_id") != 2, F.col("ball_land_x")
            ),
            "ball_land_y": F.when(
                F.col("play_id") != 2, F.col("ball_land_y")
            ),
        }
    )
    after = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields)
            for r in make_tracking_after()
        ],
        TRACKING_AFTER_SCHEMA,
    )
    out = render_play_frames(before, after, scale=2).collect()
    p2 = [r for r in out if r.play_id == 2]
    assert p2, "the null-landing play must still render"
    after_p2 = [r for r in p2 if r.phase == "after"]
    assert after_p2 and all(r.ball_x is None for r in after_p2)
    land = np.array(LAND_MARK, dtype=np.uint8)
    for r in p2:
        img = decode_bmp(bytes(r.image))
        assert not (img == land).all(axis=-1).any()
    # other plays keep their cross
    p1 = [r for r in out if r.play_id == 1]
    img1 = decode_bmp(bytes(p1[0].image))
    assert (img1 == land).all(axis=-1).any()
