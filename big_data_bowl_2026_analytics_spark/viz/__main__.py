"""CLI counterpart of the reference's ``visualize_play`` typer command
(src/visualization/play.py:353-377): render one play's frames to BMP
files instead of a matplotlib window/GIF (no imaging stack in scope).

    python -m big_data_bowl_2026_analytics_spark.viz \
        --before /data/tracking_before --after /data/tracking_after \
        --game-id 1001 --play-id 1 --out /tmp/play1 [--scale 2]

Writes ``frame_0001.bmp`` ... in frame order plus a ``frames.csv``
manifest (frame_id, phase, ball_x, ball_y, n_players). With
``--apng`` it also writes an animated ``play.apng`` clip — the
counterpart of the reference's matplotlib animation output
(src/visualization/play.py:330-351). The heavy lifting is the
distributed renderer (render_play_frames); the CLI just filters to
one play first, so the same code path serves both the single-play
lookup and the full-corpus batch render.
"""

from __future__ import annotations

import argparse
import csv
import os


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="big_data_bowl_2026_analytics_spark.viz",
        description="Render one play's tracking frames to BMP files.",
    )
    ap.add_argument("--before", required=True, help="before-throw parquet")
    ap.add_argument("--after", required=True, help="after-throw parquet")
    ap.add_argument("--game-id", type=int, required=True)
    ap.add_argument("--play-id", type=int, required=True)
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--scale", type=int, default=2, help="pixels per yard")
    ap.add_argument(
        "--apng",
        action="store_true",
        help="also write an animated play.apng clip (10 fps)",
    )
    ap.add_argument(
        "--gif",
        action="store_true",
        help="also write an animated play.gif clip (10 fps) — the "
        "reference's clip container (src/visualization/play.py:344)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from ..core import get_spark
    from .render import decode_bmp, render_play_frames

    spark = get_spark("viz-render")
    before = spark.read.parquet(args.before)
    after = spark.read.parquet(args.after)
    pred = (F.col("game_id") == args.game_id) & (
        F.col("play_id") == args.play_id
    )
    frames = render_play_frames(
        before.where(pred), after.where(pred), scale=args.scale
    ).collect()
    if not frames:
        raise SystemExit(
            f"no frames for game_id={args.game_id} play_id={args.play_id}"
        )
    os.makedirs(args.out, exist_ok=True)
    frames.sort(key=lambda r: r.frame_id)
    with open(os.path.join(args.out, "frames.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["frame_id", "phase", "ball_x", "ball_y", "n_players"])
        for r in frames:
            with open(
                os.path.join(args.out, f"frame_{r.frame_id:04d}.bmp"), "wb"
            ) as img:
                img.write(bytes(r.image))
            w.writerow([r.frame_id, r.phase, r.ball_x, r.ball_y, r.n_players])
    if args.apng or args.gif:
        imgs = [decode_bmp(bytes(r.image)) for r in frames]
    if args.apng:
        from .anim import encode_apng

        with open(os.path.join(args.out, "play.apng"), "wb") as fh:
            fh.write(encode_apng(imgs))
        print(f"wrote {len(frames)}-frame clip to {args.out}/play.apng")
    if args.gif:
        from .anim import encode_gif

        with open(os.path.join(args.out, "play.gif"), "wb") as fh:
            fh.write(encode_gif(imgs))
        print(f"wrote {len(frames)}-frame clip to {args.out}/play.gif")
    print(f"wrote {len(frames)} frames to {args.out}")
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
