"""Seeded generator of a tracking season for the pipeline workload.

Each play has the shape of the medium-tier test season
(``tests/test_medium_pipeline.py::_season``): a passer, a targeted
receiver running at 0.9 yd/frame towards the ball's landing spot and a
covering defender, ``frames`` pre-throw frames per player and four
post-throw frames per non-passer. Every play is a valid 1v1 targeted
pass, so all of them pass the pipeline's ``validate`` contracts and
survive cleaning.

The arrays are built with vectorized numpy and written as parquet
(``tracking_before``, ``tracking_after``, ``plays``), so the pipeline
reads files: a ``createDataFrame(list)`` input would be a Python-RDD
scan that re-enters a Python worker on every evaluation and would time
the generator instead of the program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: (role, side, position, x offset from the receiver, y offset, speed);
#: the passer's position is absolute.
ROSTER = (
    ("Passer", "Offense", "QB", None, None, 1.5),
    ("Targeted Receiver", "Offense", "WR", 0.0, 0.0, 7.5),
    ("Defensive Coverage", "Defense", "CB", 1.5, 1.0, 6.5),
)
AFTER_FRAMES = 4

_BEFORE = [
    ("game_id", pa.int64()), ("play_id", pa.int64()), ("nfl_id", pa.int64()),
    ("frame_id", pa.int32()), ("play_direction", pa.string()),
    ("player_side", pa.string()), ("player_role", pa.string()),
    ("player_name", pa.string()), ("player_height", pa.string()),
    ("player_weight", pa.float64()), ("player_birth_date", pa.string()),
    ("player_position", pa.string()), ("x", pa.float64()), ("y", pa.float64()),
    ("s", pa.float64()), ("a", pa.float64()), ("dir", pa.float64()),
    ("o", pa.float64()), ("absolute_yardline_number", pa.float64()),
    ("ball_land_x", pa.float64()), ("ball_land_y", pa.float64()),
    ("week", pa.int32()),
]
_AFTER = [
    ("game_id", pa.int64()), ("play_id", pa.int64()), ("nfl_id", pa.int64()),
    ("frame_id", pa.int32()), ("x", pa.float64()), ("y", pa.float64()),
    ("s", pa.float64()), ("a", pa.float64()), ("dir", pa.float64()),
    ("o", pa.float64()), ("week", pa.int32()),
]
_PLAYS = [
    ("game_id", pa.int64()), ("play_id", pa.int64()), ("season", pa.int32()),
    ("week", pa.int32()), ("quarter", pa.int32()), ("game_clock", pa.string()),
    ("down", pa.int32()), ("home_team_abbr", pa.string()),
    ("visitor_team_abbr", pa.string()), ("play_description", pa.string()),
    ("yards_to_go", pa.int32()), ("possession_team", pa.string()),
    ("defensive_team", pa.string()), ("yardline_number", pa.int32()),
    ("play_nullified_by_penalty", pa.string()), ("pass_result", pa.string()),
    ("pass_length", pa.float64()), ("offense_formation", pa.string()),
    ("receiver_alignment", pa.string()),
    ("route_of_targeted_receiver", pa.string()), ("play_action", pa.string()),
    ("dropback_type", pa.string()), ("dropback_distance", pa.float64()),
    ("team_coverage_man_zone", pa.string()), ("team_coverage_type", pa.string()),
]


def _table(fields: list[tuple[str, pa.DataType]], cols: dict) -> pa.Table:
    n = len(next(iter(cols.values())))
    arrays = []
    for name, typ in fields:
        v = cols[name]
        if np.ndim(v) == 0:
            v = np.full(n, v)
        arrays.append(pa.array(v, typ))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def generate(seed: int, weeks: int, plays: int, frames: int) -> dict[str, pa.Table]:
    """``tracking_before``, ``tracking_after`` and ``plays`` tables."""
    rng = np.random.default_rng(seed)
    n_play = weeks * plays
    week = np.repeat(np.arange(1, weeks + 1), plays)
    play_id = np.tile(np.arange(1, plays + 1), weeks)
    game_id = 2023_000_00 + week
    direction = np.where((week + play_id - 1) % 2 == 0, "left", "right")
    rec_x0 = rng.uniform(30, 70, n_play)
    rec_y0 = rng.uniform(10, 40, n_play)
    ball_x = np.round(rec_x0 + frames * 0.9 + 0.5, 2)
    ball_y = np.round(rec_y0, 2)
    nfl0 = 1000 + 3 * np.arange(n_play)

    # Pre-throw frames, laid out (play, player, frame).
    n_role = len(ROSTER)
    shape = (n_play, n_role, frames)
    role_i = np.broadcast_to(np.arange(n_role)[None, :, None], shape).ravel()
    play_i = np.broadcast_to(np.arange(n_play)[:, None, None], shape).ravel()
    frame = np.broadcast_to(np.arange(1, frames + 1)[None, None, :], shape).ravel()
    x0 = np.stack(
        [np.full(n_play, 20.0)]
        + [rec_x0 + r[3] for r in ROSTER[1:]], axis=1
    )
    y0 = np.stack(
        [np.full(n_play, 26.6)]
        + [rec_y0 + r[4] for r in ROSTER[1:]], axis=1
    )
    vx = np.where(role_i == 0, 0.0, 0.9)
    nfl_id = nfl0[play_i] + role_i
    n_rows = len(role_i)
    pick = lambda k: np.asarray([r[k] for r in ROSTER])[role_i]  # noqa: E731
    before = _table(_BEFORE, {
        "game_id": game_id[play_i], "play_id": play_id[play_i],
        "nfl_id": nfl_id, "frame_id": frame,
        "play_direction": direction[play_i], "player_side": pick(1),
        "player_role": pick(0), "player_name": np.char.add("P", nfl_id.astype(str)),
        "player_height": "6-1", "player_weight": 200.0,
        "player_birth_date": "1996-03-01", "player_position": pick(2),
        "x": np.round(x0[play_i, role_i] + vx * (frame - 1), 2),
        "y": y0[play_i, role_i], "s": pick(5).astype(float), "a": 0.4,
        "dir": rng.uniform(0, 360, n_rows), "o": rng.uniform(0, 360, n_rows),
        "absolute_yardline_number": 50.0,
        "ball_land_x": ball_x[play_i], "ball_land_y": ball_y[play_i],
        "week": week[play_i],
    })

    # Post-throw frames for the receiver and the defender.
    shape = (n_play, n_role - 1, AFTER_FRAMES)
    role_a = 1 + np.broadcast_to(np.arange(n_role - 1)[None, :, None], shape).ravel()
    play_a = np.broadcast_to(np.arange(n_play)[:, None, None], shape).ravel()
    frame_a = np.broadcast_to(
        np.arange(1, AFTER_FRAMES + 1)[None, None, :], shape
    ).ravel()
    after = _table(_AFTER, {
        "game_id": game_id[play_a], "play_id": play_id[play_a],
        "nfl_id": nfl0[play_a] + role_a, "frame_id": frame_a,
        "x": np.round(x0[play_a, role_a] + frames * 0.9 + 0.2 * frame_a, 2),
        "y": y0[play_a, role_a],
        "s": np.asarray([r[5] for r in ROSTER])[role_a], "a": 0.2,
        "dir": 45.0, "o": 90.0, "week": week[play_a],
    })

    plays_t = _table(_PLAYS, {
        "game_id": game_id, "play_id": play_id, "season": 2023, "week": week,
        "quarter": 2, "game_clock": "08:00", "down": 1,
        "home_team_abbr": "KC", "visitor_team_abbr": "BUF",
        "play_description": "pass", "yards_to_go": 10,
        "possession_team": "KC", "defensive_team": "BUF", "yardline_number": 30,
        "play_nullified_by_penalty": "N",
        "pass_result": np.asarray(["C", "I", "IN"])[rng.integers(0, 3, n_play)],
        "pass_length": 12.0, "offense_formation": "SHOTGUN",
        "receiver_alignment": "2x2",
        "route_of_targeted_receiver": np.asarray(["IN", "OUT", "HITCH"])[
            rng.integers(0, 3, n_play)
        ],
        "play_action": "False", "dropback_type": "TRADITIONAL",
        "dropback_distance": 3.0, "team_coverage_man_zone": "MAN_COVERAGE",
        "team_coverage_type": "COVER_1",
    })
    return {"tracking_before": before, "tracking_after": after, "plays": plays_t}


def write(seed: int, weeks: int, plays: int, frames: int, out_dir: str) -> str:
    """Write the three tables as ``<name>.parquet`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, weeks, plays, frames).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
