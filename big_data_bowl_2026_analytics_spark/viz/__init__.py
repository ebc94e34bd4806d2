from .anim import (
    animate_plays,
    decode_apng,
    decode_gif,
    encode_apng,
    encode_gif,
)
from .render import decode_bmp, encode_bmp, render_play_frames
from .scatter import heatmap_bmp, quadrant_counts, scatter_bins

__all__ = [
    "animate_plays",
    "decode_apng",
    "decode_bmp",
    "decode_gif",
    "encode_apng",
    "encode_gif",
    "encode_bmp",
    "heatmap_bmp",
    "quadrant_counts",
    "render_play_frames",
    "scatter_bins",
]
