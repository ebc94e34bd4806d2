"""Feature engineering (SURVEY §2.9 U1/U2) — grouped aggregates, no UDF.

The reference iterates plays in Python, picking the QB / targeted
receiver / defender rows and computing 14 geometric features per play
(/root/reference/src/data_processing/training/features.py:63-150).
Here the per-group loop becomes one ``groupBy`` on the play(-frame)
key that picks each role's row as ``min(when(role, struct(nfl_id,
...)))`` (the lowest ``nfl_id`` of the role). A key missing a role gets
a null pick and drops, exactly like the reference's ``except
IndexError: continue``. The feature math is the pure-Column library in
``functions/scalar.py`` — whole-stage codegen, no Python worker.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import (
    angle_diff,
    boundary_distance,
    closing_speed,
    euclidean_distance,
)

PLAY_KEY = ["game_id", "play_id"]

#: Each role's pick: the lowest-``nfl_id`` player whose column == value.
_ROLES = {
    "qb": ("player_role", "Passer"),
    "rec": ("player_role", "Targeted Receiver"),
    "def": ("player_side", "Defense"),
}
_PLAYER = ["nfl_id", "x", "y", "s", "dir", "o"]


def build_features(
    tracking: DataFrame,
    plays: DataFrame,
    per_frame: bool = False,
) -> DataFrame:
    """Engineered feature table: one row per play (training/test) or
    per play-frame (inference, ``per_frame=True``).

    Scale: one shuffle on the play(-frame) key picks all three roles;
    at play grain one more, on the player, first takes each player's
    at-throw snapshot (A7, create_datasets.py:16-25: their last frame,
    by ``max_by`` on frame_id, not file order). All feature math is
    Column arithmetic. Targets: training gets binary is-non-completion
    (F9), inference keeps the raw pass_result (reference
    inference/create_dataset.py:73-103).
    """
    key = [*PLAY_KEY, "frame_id"] if per_frame else PLAY_KEY
    cols = ["player_role", "player_side", *_PLAYER]
    snap = tracking.select(*PLAY_KEY, "frame_id", *cols)
    if not per_frame:
        snap = (
            snap.groupBy(*PLAY_KEY, "nfl_id")
            .agg(F.max_by(F.struct(*cols), "frame_id").alias("last"))
            .select(*PLAY_KEY, "last.*")
        )

    # A key missing a role has a null pick and drops (see module docstring).
    player = F.struct(*_PLAYER)
    picks = snap.groupBy(*key).agg(
        *[F.min(F.when(F.col(c) == v, player)).alias(r) for r, (c, v) in _ROLES.items()]
    )
    wide = (
        picks.where(reduce(and_, [F.col(c).isNotNull() for c in [*key, *_ROLES]]))
        .select(*key, *[F.col(f"{r}.{c}").alias(f"{r}_{c}") for r in _ROLES for c in _PLAYER])
        .join(F.broadcast(plays.select(*PLAY_KEY, "pass_result")), PLAY_KEY, "left")
    )

    air_yards = F.col("rec_x") - F.col("qb_x")
    sep = euclidean_distance(
        F.col("def_x"), F.col("def_y"), F.col("rec_x"), F.col("rec_y")
    )
    qb_rec = euclidean_distance(
        F.col("qb_x"), F.col("qb_y"), F.col("rec_x"), F.col("rec_y")
    )
    def_qb = euclidean_distance(
        F.col("def_x"), F.col("def_y"), F.col("qb_x"), F.col("qb_y")
    )
    closing = closing_speed(
        F.col("def_x"),
        F.col("def_y"),
        F.col("def_s"),
        F.col("def_dir"),
        F.col("rec_x"),
        F.col("rec_y"),
    )
    bearing = F.degrees(
        F.atan2(F.col("rec_y") - F.col("def_y"), F.col("rec_x") - F.col("def_x"))
    )
    orient_error = angle_diff(F.col("def_o"), bearing)
    boundary = boundary_distance(F.col("rec_x"), F.col("rec_y"))

    target = (
        F.col("pass_result").alias("target")
        if per_frame
        else (F.col("pass_result") != "C").cast("int").alias("target")
    )

    out_cols = [
        *key,
        F.col("rec_nfl_id").alias("receiver_id"),
        F.col("def_nfl_id").alias("defender_id"),
        F.round(air_yards, 2).alias("air_yards"),
        F.round(sep, 2).alias("separation"),
        F.round(qb_rec, 2).alias("qb_to_rec_dist"),
        F.round(def_qb, 2).alias("pressure_dist"),
        F.round(F.col("rec_s"), 2).alias("rec_speed"),
        F.round(F.col("def_s"), 2).alias("def_speed"),
        F.round(F.col("qb_s"), 2).alias("qb_speed"),
        F.round(closing, 2).alias("closing_speed"),
        F.round(orient_error, 2).alias("def_orientation_error"),
        (orient_error > 120).cast("int").alias("def_back_to_rec"),
        F.round(boundary, 2).alias("rec_boundary_dist"),
        (F.col("rec_s") > 6).cast("int").alias("rec_running_away"),
        F.round(sep * sep, 2).alias("separation_sq"),
        F.round(sep / F.greatest(air_yards, F.lit(1.0)), 2).alias("sep_per_air_yard"),
        F.round(closing / F.greatest(air_yards, F.lit(1.0)), 2).alias(
            "closing_per_yard"
        ),
        target,
    ]
    return wide.select(*out_cols)


def train_test_split_by_week(
    features: DataFrame, plays: DataFrame, train_weeks: int = 9
) -> tuple[DataFrame, DataFrame]:
    """Partition-range split (reference create_datasets.py:102-103):
    weeks 1..train_weeks train, the rest test — a week predicate that
    prunes partitions on a week-partitioned layout."""
    with_week = features.join(
        F.broadcast(plays.select(*PLAY_KEY, "week")), PLAY_KEY, "left"
    )
    train = with_week.where(F.col("week") <= train_weeks).drop("week")
    test = with_week.where(F.col("week") > train_weeks).drop("week")
    return train, test
