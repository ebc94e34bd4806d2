"""Final scores stage (reference src/metrics/compute_scores.py:13-50):
one aggregate per play -> the 6-column scores table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import piecewise_recovery_score
from ..metrics.deception import deception_score


def compute_scores(inference_results: DataFrame) -> DataFrame:
    """Scores table from per-frame inference results.

    Input grain: (game_id, play_id, frame_id) with receiver_id,
    defender_id, pass_result, non_completion_probability. Each play's
    rows become one frame-sorted array; Deception runs over its
    probabilities and the ids and Recovery come from its last element
    (reference recovery.py:21-30 and deception.py:120-136 anchor on
    the last frame).
    """
    frames = F.sort_array(
        F.collect_list(
            F.struct(
                "frame_id",
                "non_completion_probability",
                "defender_id",
                "receiver_id",
                "pass_result",
            )
        )
    )
    last = F.element_at("frames", -1)
    return (
        inference_results.groupBy("game_id", "play_id")
        .agg(frames.alias("frames"))
        .select(
            "game_id",
            "play_id",
            last["defender_id"].alias("defender_id"),
            last["receiver_id"].alias("receiver_id"),
            deception_score("frames.non_completion_probability").alias(
                "deception_score"
            ),
            piecewise_recovery_score(
                last["pass_result"], last["non_completion_probability"]
            ).alias("recovery_score"),
        )
    )
