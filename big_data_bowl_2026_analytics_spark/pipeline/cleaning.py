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
  — become explicit window/orderings with deterministic tie-breaks.

Everything here is a pure ``DataFrame -> DataFrame`` function, so the
whole DAG stays one lazy plan: Catalyst prunes columns across stage
boundaries the reference materializes as CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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
    is_left = F.col("play_direction") == "left"
    return joined.withColumn(
        "ball_land_x",
        F.round(flip_coordinate(F.col("ball_land_x"), FIELD_LENGTH, is_left), 2),
    ).withColumn(
        "ball_land_y",
        F.round(flip_coordinate(F.col("ball_land_y"), FIELD_WIDTH, is_left), 2),
    )


def carry_before_cols_to_after(before: DataFrame, after: DataFrame) -> DataFrame:
    """J1 (tracking.py:48-90): attach player_side/role/direction from
    the pre-throw stage onto post-throw rows (m:1, dim side deduped)."""
    slice_df = before.select(
        *PLAYER_KEY, "player_side", "player_role", "play_direction"
    ).dropDuplicates(PLAYER_KEY)
    return after.join(slice_df, PLAYER_KEY, "left")


def add_player_info(df: DataFrame, players: DataFrame) -> DataFrame:
    """J2 (tracking.py:93-121): broadcast the players dim."""
    return broadcast_left_join(
        df, players.select("nfl_id", "player_name", "player_position"), ["nfl_id"]
    )


def add_team_info(df: DataFrame, raw_plays: DataFrame) -> DataFrame:
    """J3 (tracking.py:141-165): team from player side — the
    reference's row-wise ``df.apply`` resolver as one F.when column."""
    teams = raw_plays.select(
        *PLAY_KEY, "possession_team", "defensive_team"
    ).dropDuplicates(PLAY_KEY)
    joined = broadcast_left_join(df, teams, PLAY_KEY, dedup_dim=False)
    return joined.withColumn(
        "team",
        F.when(F.col("player_side") == "Defense", F.col("defensive_team")).when(
            F.col("player_side") == "Offense", F.col("possession_team")
        ),
    ).drop("possession_team", "defensive_team")


def sync_players(before: DataFrame, after: DataFrame) -> DataFrame:
    """J4/J5 (tracking.py:204-266): keep rows whose (game, play, player)
    still exists on the other stage — authored as LEFT SEMI."""
    return left_semi_keys(before, after, PLAYER_KEY)


def closest_defender(df: DataFrame) -> DataFrame:
    """J8/A2/A3 (tracking.py:390-453): per play, keep only the defender
    with the lowest mean frame-distance to the targeted receiver, plus
    the receiver's own rows.

    pandas idxmin keeps the first index on ties; here the row_number
    is ordered by (mean_distance, nfl_id) — explicit and stable.
    """
    receiver = df.where(F.col("player_role") == "Targeted Receiver")
    rec_coords = receiver.select(
        *PLAY_KEY,
        "frame_id",
        F.col("x").alias("x_rec"),
        F.col("y").alias("y_rec"),
    )
    defenders = df.where(F.col("player_side") == "Defense")
    dists = defenders.join(rec_coords, [*PLAY_KEY, "frame_id"], "inner").withColumn(
        "distance",
        euclidean_distance(F.col("x"), F.col("y"), F.col("x_rec"), F.col("y_rec")),
    )
    mean_dist = dists.groupBy(*PLAYER_KEY).agg(
        F.avg("distance").alias("mean_distance")
    )
    w = Window.partitionBy(*PLAY_KEY).orderBy(
        F.asc("mean_distance"), F.asc("nfl_id")
    )
    closest_keys = (
        mean_dist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(*PLAYER_KEY)
    )
    closest_rows = left_semi_keys(defenders, closest_keys, PLAYER_KEY)
    return closest_rows.unionByName(receiver)


def one_receiver_one_db(df: DataFrame) -> DataFrame:
    """J6/A1 (tracking.py:269-315): keep plays with exactly one targeted
    receiver and exactly one defensive back — one pass of conditional
    distinct counts instead of two groupbys + two joins + fillna."""
    counts = df.groupBy(*PLAY_KEY).agg(
        F.countDistinct(
            F.when(F.col("player_role") == "Targeted Receiver", F.col("nfl_id"))
        ).alias("receiver_count"),
        F.countDistinct(
            F.when(
                (F.col("player_side") == "Defense")
                & F.col("player_position").isin(*DB_POSITIONS),
                F.col("nfl_id"),
            )
        ).alias("db_count"),
    )
    keys = counts.where(
        (F.col("receiver_count") == 1) & (F.col("db_count") == 1)
    ).select(*PLAY_KEY)
    return left_semi_keys(df, keys, PLAY_KEY)


def ball_landing_filter(df: DataFrame, cleaned_plays: DataFrame) -> DataFrame:
    """J7/A4/A6 (tracking.py:318-387): keep plays whose ball lands
    within 3 yards of the receiver's or defender's LAST position.

    'Last position' pivoted wide by player_side — the pandas
    aggfunc='first' pivot relies on row order; with one player per
    side post-closest-defender, first == min and is order-free.
    """
    last_frames = df.groupBy(*PLAY_KEY).agg(F.max("frame_id").alias("frame_id"))
    last_pos = df.join(last_frames, [*PLAY_KEY, "frame_id"], "inner")
    pivoted = (
        last_pos.groupBy(*PLAY_KEY)
        .pivot("player_side", ["Offense", "Defense"])
        .agg(F.min("x").alias("x"), F.min("y").alias("y"))
        .withColumnsRenamed(
            {
                "Offense_x": "x_rec_last",
                "Offense_y": "y_rec_last",
                "Defense_x": "x_def_last",
                "Defense_y": "y_def_last",
            }
        )
    )
    with_ball = pivoted.join(
        F.broadcast(
            cleaned_plays.select(*PLAY_KEY, "ball_land_x", "ball_land_y")
        ),
        PLAY_KEY,
        "inner",
    )
    dist_rec = euclidean_distance(
        F.col("x_rec_last"), F.col("y_rec_last"), F.col("ball_land_x"), F.col("ball_land_y")
    )
    dist_def = euclidean_distance(
        F.col("x_def_last"), F.col("y_def_last"), F.col("ball_land_x"), F.col("ball_land_y")
    )
    keys = with_ball.where((dist_rec < 3) | (dist_def < 3)).select(*PLAY_KEY)
    return left_semi_keys(df, keys, PLAY_KEY)


def normalize_direction(df: DataFrame) -> DataFrame:
    """F1/F2 (tracking.py:168-201): mirror left-direction plays to a
    canonical left-to-right field; drops play_direction."""
    is_left = F.col("play_direction") == "left"
    out = (
        df.withColumn(
            "x", F.round(flip_coordinate(F.col("x"), FIELD_LENGTH, is_left), 2)
        )
        .withColumn(
            "y", F.round(flip_coordinate(F.col("y"), FIELD_WIDTH, is_left), 2)
        )
    )
    for ang in ("o", "dir"):
        if ang in df.columns:
            out = out.withColumn(
                ang, F.round(flip_angle(F.col(ang), is_left), 2)
            )
    return out.drop("play_direction")


def exactly_three_roles(df: DataFrame) -> DataFrame:
    """A5 (tracking.py:523-528): keep plays carrying exactly three
    distinct roles (QB + receiver + defender)."""
    keys = (
        df.groupBy(*PLAY_KEY)
        .agg(F.countDistinct("player_role").alias("n_roles"))
        .where(F.col("n_roles") == 3)
        .select(*PLAY_KEY)
    )
    return left_semi_keys(df, keys, PLAY_KEY)


def clean_tracking(
    raw_before: DataFrame,
    raw_after: DataFrame,
    cleaned_plays: DataFrame,
    raw_plays: DataFrame,
    players: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The full tracking cleaning DAG (reference tracking.py:456-549),
    over the partitioned tables instead of a per-week driver loop.
    Returns (before_clean, after_clean).

    Each of the three ``localCheckpoint`` calls truncates lineage at a
    frame later stages reuse (before-enriched, post-closest-defender,
    post-filters). Without it, every reuse re-embeds the upstream
    subtree and the logical plan grows combinatorially — Catalyst
    analysis alone can OOM a default-sized driver. This mirrors the
    reference's CSV materialization between stages; a reliable stage
    for clusters (checkpoint dir or parquet) is ROADMAP.md direction 2.

    The reference's mid-way syncs (J4/J5 after the closest-defender
    pick) change no row, so they are absent: after rows get a role or
    side only from ``before``, and ``closest_defender`` keeps only rows
    with one, so every after key is a before key; the final
    ``sync_players(before, after)`` does the before side's filtering.
    """
    qb = add_team_info(
        add_player_info(
            _core(raw_before.where(F.col("player_role") == "Passer")), players
        ),
        raw_plays,
    )

    before = _core(sync_players(raw_before, raw_after))
    before = add_team_info(add_player_info(before, players), raw_plays)
    before = before.localCheckpoint(eager=False)

    after = carry_before_cols_to_after(before, raw_after)
    after = closest_defender(after).localCheckpoint(eager=False)

    after = normalize_direction(after)
    after = add_team_info(add_player_info(after, players), raw_plays)
    after = one_receiver_one_db(after)
    after = ball_landing_filter(after, cleaned_plays).localCheckpoint(eager=False)

    before = sync_players(before, after)
    before = before.unionByName(qb, allowMissingColumns=True)
    before = exactly_three_roles(before)
    before = normalize_direction(before)
    return before, after


def filter_plays_with_tracking(
    cleaned_plays: DataFrame, before_clean: DataFrame
) -> DataFrame:
    """J10 (plays.py:232-300): plays ⋉ cleaned-tracking keys. The
    reference overwrites its input file in place; as a lazy plan this
    is just another semi join (write-to-temp-and-swap only matters at
    the sink)."""
    return left_semi_keys(cleaned_plays, before_clean, PLAY_KEY)
