"""Reference-parity cleaning pipeline, Spark-first.

Reproduces the semantics of the reference cleaning stages
(/root/reference/src/data_processing/cleaning/{players,plays,tracking}.py)
as lazy DataFrame transforms:

- the per-week file loop disappears into one partitioned read (week is
  a partition column, pruned by predicates);
- 'filter fact by key set' inner joins become LEFT SEMI joins;
- the row-wise team resolver (tracking.py:124-138 ``df.apply``)
  becomes an F.when expression;
- pandas idxmin/tail(1)/pivot first — all physical-row-order dependent
  — become ordered aggregates with deterministic tie-breaks: ``min``
  of a ``(value, nfl_id, ...)`` struct for idxmin, ``max_by(...,
  frame_id)`` for the last position (``play_picks``);
- everything the reference takes from the pre-throw frames as a
  per-player or per-play fact (bio, direction, side, role, ball
  landing) comes from one per-player summary, ``player_plays``: the
  players dim, the plays' ball columns, the J1 carry and the
  three-roles test read its rows, not the frames.

Everything here is a pure ``DataFrame -> DataFrame`` function, so the
whole DAG stays one lazy plan: Catalyst prunes columns across stage
boundaries the reference materializes as CSV.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import (
    FIELD_LENGTH,
    FIELD_WIDTH,
    euclidean_distance,
    flip_angle,
    flip_coordinate,
)
from ..operators.joins import broadcast_left_join, left_semi_keys
from ..schemas.tracking import DB_POSITIONS, KEPT_ROUTES

PLAY_KEY = ["game_id", "play_id"]
PLAYER_KEY = ["game_id", "play_id", "nfl_id"]

_PLAYER_COLS = [
    "nfl_id",
    "player_name",
    "player_height",
    "player_weight",
    "player_birth_date",
    "player_position",
]

#: Core tracking projection (reference TRACKING_COLS_BEFORE_THROW,
#: tracking.py:14-28): bio columns are dropped here and re-attached
#: from the players dim, so enrichment joins never collide.
_TRACKING_CORE = [
    "game_id",
    "play_id",
    "nfl_id",
    "frame_id",
    "play_direction",
    "player_side",
    "player_role",
    "x",
    "y",
    "s",
    "a",
    "dir",
    "o",
    "week",
]


def _core(df: DataFrame) -> DataFrame:
    return df.select(*[c for c in _TRACKING_CORE if c in df.columns])


def _mirror(col: str, extent: float) -> Column:
    """F1 (tracking.py:168-201): ``col`` on the left-to-right field,
    to 2 decimals."""
    is_left = F.col("play_direction") == "left"
    return F.round(flip_coordinate(F.col(col), extent, is_left), 2)


#: per-player facts of the pre-throw frames, constant per player and
#: play in valid data: ``player_plays`` keeps their ``min``
_PLAYER_FACTS = [
    "play_direction",
    "player_side",
    "player_role",
    "ball_land_x",
    "ball_land_y",
]


def player_plays(raw_before: DataFrame) -> DataFrame:
    """One row per ``(game_id, play_id, nfl_id)`` of the pre-throw
    frames: the ``min`` of the bio struct (flattened back to its
    columns) and of each ``_PLAYER_FACTS`` column. Every later reader
    takes a ``min`` or a constant of these per player or per play, and
    a min of mins is the min, so this summary stands in for the frames
    in ``create_players_dim``, ``clean_plays`` and ``clean_tracking``'s
    carry and three-roles test."""
    bio = F.struct(*[F.col(c) for c in _PLAYER_COLS[1:]])
    return (
        raw_before.groupBy(*PLAYER_KEY)
        .agg(F.min(bio).alias("bio"), *[F.min(c).alias(c) for c in _PLAYER_FACTS])
        .select(*PLAYER_KEY, "bio.*", *_PLAYER_FACTS)
    )


def create_players_dim(before: DataFrame) -> DataFrame:
    """Players dimension from tracking (reference players.py:87-122).

    pandas keeps the first physical row per nfl_id; with no row order
    to lean on, we take the lexicographic min of the bio struct —
    deterministic under any partitioning (bio data is constant per
    player in valid data, so this is a guard, not a choice).
    """
    bio = F.struct(*[F.col(c) for c in _PLAYER_COLS[1:]])
    out = (
        before.select(*_PLAYER_COLS)
        .groupBy("nfl_id")
        .agg(F.min(bio).alias("bio"))
        .select("nfl_id", "bio.*")
    )
    return out


def clean_plays(raw_plays: DataFrame, raw_before: DataFrame) -> DataFrame:
    """Plays cleaning chain (reference plays.py:198-229): project +
    dedup keys -> route filter -> join tracking-derived ball/direction
    columns -> normalize ball coords for left-direction plays."""
    plays = raw_plays.dropDuplicates(PLAY_KEY).where(
        F.col("route_of_targeted_receiver").isin(*KEPT_ROUTES)
    )
    tracking_cols = (
        raw_before.select(
            *PLAY_KEY, "play_direction", "ball_land_x", "ball_land_y"
        )
        .groupBy(*PLAY_KEY)
        .agg(
            F.min("play_direction").alias("play_direction"),
            F.min("ball_land_x").alias("ball_land_x"),
            F.min("ball_land_y").alias("ball_land_y"),
        )
    )
    joined = plays.join(tracking_cols, PLAY_KEY, "inner")
    return joined.withColumn(
        "ball_land_x", _mirror("ball_land_x", FIELD_LENGTH)
    ).withColumn("ball_land_y", _mirror("ball_land_y", FIELD_WIDTH))


def carry_before_cols_to_after(per_player: DataFrame, after: DataFrame) -> DataFrame:
    """J1 (tracking.py:48-90): attach player_side/role/direction from
    the pre-throw stage onto post-throw rows (m:1: ``player_plays``
    has one row per player key)."""
    slice_df = per_player.select(
        *PLAYER_KEY, "player_side", "player_role", "play_direction"
    )
    return after.join(slice_df, PLAYER_KEY, "left")


def add_player_info(df: DataFrame, players: DataFrame) -> DataFrame:
    """J2 (tracking.py:93-121): broadcast the players dim."""
    return broadcast_left_join(
        df, players.select("nfl_id", "player_name", "player_position"), ["nfl_id"]
    )


def add_team_info(df: DataFrame, raw_plays: DataFrame) -> DataFrame:
    """J3 (tracking.py:141-165): team from player side — the
    reference's row-wise ``df.apply`` resolver as one F.when column."""
    teams = raw_plays.select(*PLAY_KEY, "possession_team", "defensive_team")
    joined = broadcast_left_join(df, teams, PLAY_KEY)
    return joined.withColumn(
        "team",
        F.when(F.col("player_side") == "Defense", F.col("defensive_team")).when(
            F.col("player_side") == "Offense", F.col("possession_team")
        ),
    ).drop("possession_team", "defensive_team")


def play_picks(
    after: DataFrame, players: DataFrame, cleaned_plays: DataFrame
) -> DataFrame:
    """J6/J7/J8 (tracking.py:269-453): the ``(game_id, play_id,
    nfl_id)`` of the targeted receiver and the closest defender of
    every play the reference's three filters keep, from one aggregate
    per player and one per play over the post-throw rows.

    - Closest defender (J8): the Defense player, with at least one
      frame shared with a receiver, of lowest mean frame distance to
      it, ties to the lowest ``nfl_id``: ``min`` of a ``(mean, nfl_id,
      ...)`` struct, whose order puts a null mean (no non-null
      distance) first.
    - One receiver, one DB (J6): the lowest receiver id is the highest,
      and the closest defender's position is a DB's.
    - Ball landing (J7): the ball lands within 3 yd of the receiver's or
      the defender's last position, a side counting only when its last
      frame is the play's (the reference's pivot of the play's last
      frame by ``player_side``).
    """
    is_rec = F.col("player_role") == "Targeted Receiver"
    rows = after.where(is_rec | (F.col("player_side") == "Defense"))
    receiver_xy = rows.where(is_rec).select(
        *PLAY_KEY,
        "frame_id",
        F.col("x").alias("x_rec"),
        F.col("y").alias("y_rec"),
        F.lit(True).alias("matched"),
    )
    per_player = (
        rows.join(F.broadcast(receiver_xy), [*PLAY_KEY, "frame_id"], "left")
        .groupBy(*PLAYER_KEY)
        .agg(
            F.min("player_role").alias("role"),
            F.min("player_side").alias("side"),
            F.max("frame_id").alias("last"),
            F.max_by(
                F.struct(
                    _mirror("x", FIELD_LENGTH).alias("x"),
                    _mirror("y", FIELD_WIDTH).alias("y"),
                ),
                "frame_id",
            ).alias("pos"),
            F.count("matched").alias("matched"),
            F.avg(
                euclidean_distance(F.col("x"), F.col("y"), F.col("x_rec"), F.col("y_rec"))
            ).alias("mean"),
        )
    )
    per_player = broadcast_left_join(
        per_player, players.select("nfl_id", "player_position"), ["nfl_id"]
    )
    rec = F.col("role") == "Targeted Receiver"
    defender = (F.col("side") == "Defense") & (F.col("matched") > 0)
    per_play = per_player.groupBy(*PLAY_KEY).agg(
        F.min(F.when(rec, F.struct("nfl_id", "last", "pos"))).alias("rec"),
        F.max(F.when(rec, F.col("nfl_id"))).alias("rec_max"),
        F.min(
            F.when(defender, F.struct("mean", "nfl_id", "last", "pos", "player_position"))
        ).alias("def"),
    )
    ball = cleaned_plays.select(*PLAY_KEY, "ball_land_x", "ball_land_y")
    with_ball = per_play.join(F.broadcast(ball), PLAY_KEY, "inner")
    last = F.greatest("rec.last", "def.last")

    def near(pick: str) -> Column:
        dist = euclidean_distance(
            F.col(f"{pick}.pos.x"),
            F.col(f"{pick}.pos.y"),
            F.col("ball_land_x"),
            F.col("ball_land_y"),
        )
        return (F.col(f"{pick}.last") == last) & (dist < 3)

    kept = with_ball.where(
        (F.col("rec.nfl_id") == F.col("rec_max"))
        & F.col("def.player_position").isin(*DB_POSITIONS)
        & (near("rec") | near("def"))
    )
    return kept.select(
        *PLAY_KEY,
        F.explode(F.array("rec.nfl_id", "def.nfl_id")).alias("nfl_id"),
    )


def normalize_direction(df: DataFrame) -> DataFrame:
    """F1/F2 (tracking.py:168-201): mirror left-direction plays to a
    canonical left-to-right field; drops play_direction."""
    is_left = F.col("play_direction") == "left"
    out = df.withColumn("x", _mirror("x", FIELD_LENGTH)).withColumn(
        "y", _mirror("y", FIELD_WIDTH)
    )
    for ang in ("o", "dir"):
        if ang in df.columns:
            out = out.withColumn(
                ang, F.round(flip_angle(F.col(ang), is_left), 2)
            )
    return out.drop("play_direction")


def exactly_three_roles(per_player: DataFrame, picks: DataFrame) -> DataFrame:
    """A5 (tracking.py:523-528): the player keys of the picked players
    and the passers (``player_plays`` rows) of every play whose keys
    carry exactly three distinct roles (QB + receiver + defender), from
    one aggregate per play."""
    keys = per_player.join(picks, PLAYER_KEY, "left_semi").unionByName(
        per_player.where(F.col("player_role") == "Passer")
    )
    return (
        keys.groupBy(*PLAY_KEY)
        .agg(
            F.collect_list("player_role").alias("roles"),
            F.collect_list("nfl_id").alias("ids"),
        )
        .where(F.size(F.array_distinct("roles")) == 3)
        .select(*PLAY_KEY, F.explode("ids").alias("nfl_id"))
    )


def clean_tracking(
    raw_before: DataFrame,
    raw_after: DataFrame,
    cleaned_plays: DataFrame,
    raw_plays: DataFrame,
    players: DataFrame,
    per_player: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The full tracking cleaning DAG (reference tracking.py:456-549),
    over the partitioned tables instead of a per-week driver loop.
    ``per_player`` is ``player_plays(raw_before)``. Returns
    (before_clean, after_clean).

    ``play_picks`` keys the receiver and closest DB of every kept play.
    The post-throw output semi-joins on it directly; the pre-throw
    output semi-joins on ``exactly_three_roles``' keys (the picks and
    the passers of the plays with three roles), so the pre-throw frames
    are read once, for the output rows. The reference's player syncs
    (J4/J5) change no row here: after rows get a role or side only from
    ``before``, so every picked player has rows on both stages.

    The picks are the one ``localCheckpoint``: both outputs read them,
    and without it each output's plan re-embeds (and each write
    recomputes) the whole picks subtree. At 2 rows per kept play the
    checkpoint is small. A reliable stage for clusters (checkpoint dir
    or parquet) is ROADMAP.md direction 5.
    """
    after = carry_before_cols_to_after(per_player, raw_after)
    picks = F.broadcast(
        play_picks(after, players, cleaned_plays).localCheckpoint(eager=False)
    )

    def enrich(df: DataFrame) -> DataFrame:
        return add_team_info(add_player_info(df, players), raw_plays)

    after = enrich(normalize_direction(after.join(picks, PLAYER_KEY, "left_semi")))
    keys = F.broadcast(exactly_three_roles(per_player, picks))
    before = _core(raw_before).join(keys, PLAYER_KEY, "left_semi")
    return normalize_direction(enrich(before)), after


def filter_plays_with_tracking(
    cleaned_plays: DataFrame, before_clean: DataFrame
) -> DataFrame:
    """J10 (plays.py:232-300): plays ⋉ cleaned-tracking keys. The
    reference overwrites its input file in place; as a lazy plan this
    is just another semi join (write-to-temp-and-swap only matters at
    the sink)."""
    return left_semi_keys(cleaned_plays, before_clean, PLAY_KEY)
