"""Reference-parity tests for the NFL cleaning/feature/score pipeline
on the constructed fixtures (each play targets one filter)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_bowl_2026_analytics_spark.metrics.deception import (
    deception_for_series,
    pelt_l2,
)
from big_data_bowl_2026_analytics_spark.pipeline import (
    build_features,
    clean_plays,
    clean_tracking,
    compute_scores,
    create_players_dim,
    filter_plays_with_tracking,
    player_plays,
)
from big_data_bowl_2026_analytics_spark.schemas import (
    INFERENCE_RESULTS_SCHEMA,
    PLAYS_SCHEMA,
    TRACKING_AFTER_SCHEMA,
    TRACKING_BEFORE_SCHEMA,
)
from big_data_bowl_2026_analytics_spark.schemas.tracking import DB_POSITIONS, KEPT_ROUTES

from fixtures_nfl import (
    make_inference_results,
    make_plays,
    make_tracking_after,
    make_tracking_before,
)


@pytest.fixture(scope="module")
def nfl(spark):
    """Raw fixture frames."""
    before_schema = TRACKING_BEFORE_SCHEMA
    before = spark.createDataFrame(
        [tuple(r[f.name] for f in before_schema.fields) for r in make_tracking_before()],
        before_schema,
    )
    after = spark.createDataFrame(
        [
            tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields)
            for r in make_tracking_after()
        ],
        TRACKING_AFTER_SCHEMA,
    )
    raw_plays_schema_cols = [f.name for f in PLAYS_SCHEMA.fields]
    plays = spark.createDataFrame(
        [tuple(p[c] for c in raw_plays_schema_cols) for p in make_plays()],
        PLAYS_SCHEMA,
    )
    return before, after, plays


def test_players_dim(spark, nfl):
    before, _, _ = nfl
    players = create_players_dim(before)
    rows = players.collect()
    assert len(rows) == 15  # one row per distinct nfl_id
    assert all(r["player_weight"] > 0 for r in rows)


def test_clean_plays_route_filter_and_ball_flip(spark, nfl):
    before, _, plays = nfl
    cleaned = clean_plays(plays, before)
    kept = {r["play_id"]: r for r in cleaned.collect()}
    assert 6 not in kept  # SLANT dropped
    assert set(kept) == {1, 2, 3, 4, 5}
    # play 2 is left-direction: ball (60, 30) flips to (120-60, 53.3-30)
    assert kept[2]["ball_land_x"] == 60.0
    assert kept[2]["ball_land_y"] == pytest.approx(23.3)
    # right-direction play unchanged
    assert kept[1]["ball_land_x"] == 50.0


@pytest.fixture(scope="module")
def cleaned(spark, nfl):
    """Cleaned artifacts, computed once and cached for all tests."""
    before, after, plays = nfl
    cleaned_plays = clean_plays(plays, before).cache()
    players = create_players_dim(before).cache()
    before_clean, after_clean = clean_tracking(
        before, after, cleaned_plays, plays, players, player_plays(before)
    )
    before_clean = before_clean.cache()
    after_clean = after_clean.cache()
    before_clean.count(), after_clean.count()
    return cleaned_plays, players, before_clean, after_clean


def test_clean_tracking_filters(spark, cleaned):
    cleaned_plays, players, before_clean, after_clean = cleaned
    surviving_after = {
        r["play_id"] for r in after_clean.select("play_id").distinct().collect()
    }
    # play 3: closest defender is an LB, not a DB (1v1 filter — which
    # runs AFTER the closest-defender pick, so a play with two DBs
    # would survive); play 4: ball 20yd away; play 5: no after data;
    # play 6 has no cleaned-plays row (route) -> ball filter inner
    # join drops it.
    assert surviving_after == {1, 2}

    surviving_before = {
        r["play_id"] for r in before_clean.select("play_id").distinct().collect()
    }
    assert surviving_before == {1, 2}

    # closest defender only: play 1 keeps defender 3 and receiver 2
    p1_ids = {
        r["nfl_id"]
        for r in after_clean.where(F.col("play_id") == 1).select("nfl_id").distinct().collect()
    }
    assert p1_ids == {2, 3}

    # before_clean keeps exactly QB + receiver + closest defender
    p1_before = {
        r["nfl_id"]
        for r in before_clean.where(F.col("play_id") == 1).select("nfl_id").distinct().collect()
    }
    assert p1_before == {1, 2, 3}

    # left-direction play 2 flipped: x' = 120 - x for the receiver's
    # first after frame (x=66 -> 54), angles rotated by 180
    rec2 = (
        after_clean.where((F.col("play_id") == 2) & (F.col("nfl_id") == 5))
        .orderBy("frame_id")
        .collect()
    )
    assert rec2[0]["x"] == pytest.approx(120.0 - 66.0)
    assert rec2[0]["dir"] == pytest.approx((45.0 + 180.0) % 360)


def test_filter_plays_with_tracking(spark, cleaned):
    cleaned_plays, _, before_clean, _ = cleaned
    final_plays = filter_plays_with_tracking(cleaned_plays, before_clean)
    assert {r["play_id"] for r in final_plays.collect()} == {1, 2}


def test_features_values_match_reference_formulas(spark, cleaned):
    """Hand-check the engineered features for play 1 at the at-throw
    snapshot (last before-throw frame, frame 5)."""
    cleaned_plays, _, before_clean, _ = cleaned
    feats = build_features(before_clean, cleaned_plays)
    rows = {r["play_id"]: r for r in feats.collect()}
    assert set(rows) == {1, 2}

    f1 = rows[1]
    # last before frame (5): qb (20.4, 25), rec (49, 20), def (51, 21)
    qb, rec, deff = (20.4, 25.0), (49.0, 20.0), (51.0, 21.0)
    assert f1["receiver_id"] == 2 and f1["defender_id"] == 3
    assert f1["air_yards"] == round(rec[0] - qb[0], 2)
    sep = math.hypot(deff[0] - rec[0], deff[1] - rec[1])
    assert f1["separation"] == round(sep, 2)
    assert f1["qb_to_rec_dist"] == round(math.hypot(rec[0] - qb[0], rec[1] - qb[1]), 2)
    # closing speed: def speed 6, dir 45deg, vec def->rec = (-2, -1)
    vx, vy = math.cos(math.radians(45)), math.sin(math.radians(45))
    expected_closing = -(6.0 * vx * (rec[0] - deff[0]) + 6.0 * vy * (rec[1] - deff[1])) / max(sep, 0.01)
    assert f1["closing_speed"] == round(expected_closing, 2)
    # orientation error: def o=250; bearing to receiver
    bearing = math.degrees(math.atan2(rec[1] - deff[1], rec[0] - deff[0]))
    d = (250.0 - bearing) % 360
    assert f1["def_orientation_error"] == round(min(d, 360 - d), 2)
    assert f1["def_back_to_rec"] == int(min(d, 360 - d) > 120)
    assert f1["rec_boundary_dist"] == round(min(rec[1], 53.3 - rec[1], rec[0], 120 - rec[0]), 2)
    assert f1["rec_running_away"] == 1  # rec speed 7 > 6
    assert f1["target"] == 0  # pass_result C
    # play 2 target: IN -> non-completion
    assert rows[2]["target"] == 1


def test_clean_tracking_keeps_before_and_after_in_sync(spark, nfl):
    """Every non-passer player of before_clean is an after_clean player
    and the reverse, even with an after-only player in the raw input
    (it carries no role or side, so no filter keeps it)."""
    before, after, plays = nfl
    stray = [
        dict(r, nfl_id=99, x=r["x"] + 0.5) for r in make_tracking_after()
        if r["play_id"] == 1 and r["nfl_id"] == 2
    ]
    after = after.unionByName(
        spark.createDataFrame(
            [tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields) for r in stray],
            TRACKING_AFTER_SCHEMA,
        )
    )
    cleaned_plays = clean_plays(plays, before)
    before_clean, after_clean = clean_tracking(
        before,
        after,
        cleaned_plays,
        plays,
        create_players_dim(before),
        player_plays(before),
    )

    def keys(df):
        return {tuple(r) for r in df.select("game_id", "play_id", "nfl_id").collect()}

    after_keys = keys(after_clean)
    assert after_keys == keys(before_clean.where(F.col("player_role") != "Passer"))
    assert after_keys == {(1001, 1, 2), (1001, 1, 3), (1001, 2, 5), (1001, 2, 6)}


def test_build_features_is_grouped_aggregates(spark, nfl):
    """The features stage picks each key's roles in one aggregate: no
    window, one join (the broadcast plays), and one hash shuffle on the
    key, plus one on the player for the play-grain last frame."""
    before, _, plays = nfl
    for per_frame, shuffles in ((False, 2), (True, 1)):
        feats = build_features(before, plays, per_frame=per_frame)
        plan = feats._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert plan.count("Join") == 1, plan
        assert plan.count("Exchange hashpartitioning") == shuffles, plan


def _role_pick_reference(rows, per_frame):
    """Pure-Python role picks: per key the lowest-nfl_id Passer,
    Targeted Receiver and Defense player (at play grain, each
    player's last frame); keys missing a role drop."""
    if per_frame:
        snap = rows
    else:
        last = {}
        for r in rows:
            k = (r["game_id"], r["play_id"], r["nfl_id"])
            if k not in last or r["frame_id"] > last[k]["frame_id"]:
                last[k] = r
        snap = list(last.values())
    groups = {}
    for r in snap:
        k = (r["game_id"], r["play_id"]) + ((r["frame_id"],) if per_frame else ())
        groups.setdefault(k, []).append(r)
    out = {}
    for k, rs in groups.items():
        qb, rec, deff = (
            min((r for r in rs if r[col] == val), key=lambda r: r["nfl_id"], default=None)
            for col, val in (
                ("player_role", "Passer"),
                ("player_role", "Targeted Receiver"),
                ("player_side", "Defense"),
            )
        )
        if qb and rec and deff:
            air = None if None in (rec["x"], qb["x"]) else rec["x"] - qb["x"]
            out[k] = (rec["nfl_id"], deff["nfl_id"], qb["s"], rec["s"], deff["s"], air)
    return out


def test_build_features_role_picks_match_reference(spark):
    """Role picks equal the pure-Python reference on random plays with
    several players per role, staggered last frames, null ``x`` and
    missing roles, at play and at frame grain."""
    rng = np.random.default_rng(11)
    roles = [
        ("Passer", "Offense"),
        ("Targeted Receiver", "Offense"),
        ("Other Route Runner", "Offense"),
        ("Defensive Coverage", "Defense"),
        ("Pass Rusher", "Defense"),
    ]
    rows, plays = [], []
    for play_id in range(1, 121):
        game_id = 3001 + play_id % 4
        plays.append((game_id, play_id, str(rng.choice(["C", "I", "IN"]))))
        n_players = int(rng.integers(1, 9))
        for nfl_id in rng.choice(np.arange(1, 60), size=n_players, replace=False):
            role, side = roles[int(rng.integers(0, len(roles)))]
            first = int(rng.integers(1, 8))
            for frame_id in range(first, first + int(rng.integers(1, 8))):
                rows.append(
                    dict(
                        game_id=game_id,
                        play_id=play_id,
                        nfl_id=int(nfl_id),
                        frame_id=frame_id,
                        player_role=role,
                        player_side=side,
                        x=None if rng.random() < 0.1 else float(rng.integers(0, 120)),
                        y=float(rng.integers(0, 54)),
                        s=int(rng.integers(0, 1000)) / 100,
                        dir=float(rng.integers(0, 360)),
                        o=float(rng.integers(0, 360)),
                    )
                )
    cols = list(rows[0])
    tracking = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        "game_id long, play_id long, nfl_id long, frame_id long, player_role string,"
        " player_side string, x double, y double, s double, dir double, o double",
    )
    plays_df = spark.createDataFrame(plays, "game_id long, play_id long, pass_result string")

    for per_frame in (False, True):
        key = ["game_id", "play_id"] + (["frame_id"] if per_frame else [])
        expected = _role_pick_reference(rows, per_frame)
        got = {
            tuple(r[c] for c in key): (
                r["receiver_id"], r["defender_id"], r["qb_speed"],
                r["rec_speed"], r["def_speed"], r["air_yards"],
            )
            for r in build_features(tracking, plays_df, per_frame=per_frame).collect()
        }
        assert got == expected
        assert 0 < len({k[:2] for k in expected}) < len(plays)  # some plays drop


def test_pelt_matches_bruteforce_optimum():
    """PELT must reach the same optimal cost as exhaustive search over
    the jump-lattice segmentations."""
    rng = np.random.RandomState(3)
    for trial in range(6):
        n = int(rng.randint(8, 26))
        x = rng.rand(n)
        if trial % 2 == 0:  # plant a shift
            x[n // 2 :] += rng.rand() * 2

        def seg_cost(a, b):
            seg = x[a:b]
            return float(np.sum((seg - seg.mean()) ** 2))

        candidates = [k for k in range(0, n, 5) if k >= 2]
        best = None
        for mask in range(2 ** len(candidates)):
            bkps = [c for i, c in enumerate(candidates) if mask >> i & 1] + [n]
            if any(b - a < 2 for a, b in zip([0] + bkps[:-1], bkps)):
                continue
            total = sum(
                seg_cost(a, b) + 0.01 for a, b in zip([0] + bkps[:-1], bkps)
            )
            if best is None or total < best:
                best = total
        got = pelt_l2(x)
        got_total = sum(
            seg_cost(a, b) + 0.01 for a, b in zip([0] + got[:-1], got)
        )
        assert got_total == pytest.approx(best, abs=1e-9), (n, got)


def test_deception_series_semantics():
    # clear shift at 10 -> mean(post) - mean(pre) = 0.6
    sig = np.array([0.2] * 10 + [0.8] * 10)
    assert deception_for_series(sig) == pytest.approx(0.6)
    # flat drift below penalty -> fallback last - first
    flat = np.array([0.5, 0.51, 0.52, 0.53, 0.54, 0.55])
    assert deception_for_series(flat) == pytest.approx(0.05)
    # short series
    assert deception_for_series(np.array([0.3, 0.6, 0.9])) == pytest.approx(0.6)


def _inference_results(spark, rows):
    return spark.createDataFrame(
        [tuple(r[f.name] for f in INFERENCE_RESULTS_SCHEMA.fields) for r in rows],
        INFERENCE_RESULTS_SCHEMA,
    )


def test_compute_scores_end_to_end(spark):
    results = _inference_results(spark, make_inference_results())
    scores = {r["play_id"]: r for r in compute_scores(results).collect()}
    assert set(scores) == {1, 2, 3}
    # play 1: change point at 10 -> deception 0.6; C -> recovery -p_last = -0.8
    assert scores[1]["deception_score"] == pytest.approx(0.6)
    assert scores[1]["recovery_score"] == pytest.approx(-0.8)
    # play 2: flat -> deception last-first = 0.05; IN -> 1.2*(1-0.55)
    assert scores[2]["deception_score"] == pytest.approx(0.05)
    assert scores[2]["recovery_score"] == pytest.approx(1.2 * (1 - 0.55))
    assert scores[2]["defender_id"] == 6 and scores[2]["receiver_id"] == 5
    # play 3: I -> 1 - 0.9
    assert scores[3]["recovery_score"] == pytest.approx(0.1)


def test_compute_scores_is_one_aggregate(spark):
    """The scores stage is one shuffle and one Arrow UDF: no grouped-map
    UDF, no window and no join."""
    results = _inference_results(spark, make_inference_results())
    plan = compute_scores(results)._jdf.queryExecution().executedPlan().toString()
    for node in ("FlatMapGroupsInPandas", "Window", "Join", "CartesianProduct"):
        assert node not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_compute_scores_matches_numpy_reference(spark):
    """Every score row equals, with exact float ``==``, the numpy
    reference: deception_for_series over the frame-sorted series and
    the piecewise score of the last frame. Input rows are shuffled;
    lengths cover 1, 2 and every n % 5 class."""
    rng = np.random.default_rng(7)
    lengths = [1, 2, *range(3, 13), *rng.integers(1, 41, size=200).tolist()]
    rows, expected = [], {}
    for play_id, n in enumerate(lengths, start=1):
        game_id = 2001 + play_id % 3
        frames = rng.choice(np.arange(1, 101), size=n, replace=False)
        step = np.where(np.arange(n) >= rng.integers(0, n + 1), rng.normal(0, 0.3), 0.0)
        probs = np.clip(rng.random() + step + rng.normal(0, 0.05, n), 0.0, 1.0)
        pass_result = str(rng.choice(["C", "I", "IN"]))
        receiver_id, defender_id = (int(v) for v in rng.integers(1, 10_000, size=2))
        for f, prob in zip(frames, probs):
            rows.append(
                dict(
                    game_id=game_id,
                    play_id=play_id,
                    frame_id=int(f),
                    receiver_id=receiver_id,
                    defender_id=defender_id,
                    pass_result=pass_result,
                    non_completion_probability=float(prob),
                )
            )
        series = probs[np.argsort(frames)]
        p = float(series[-1])
        recovery = {"C": -p, "I": 1.0 - p, "IN": 1.2 * (1.0 - p)}[pass_result]
        expected[(game_id, play_id)] = (
            defender_id,
            receiver_id,
            deception_for_series(series),
            recovery,
        )
    assert {n % 5 for n in lengths} == set(range(5))
    order = rng.permutation(len(rows))
    results = _inference_results(spark, [rows[i] for i in order])

    got = {
        (r["game_id"], r["play_id"]): (
            r["defender_id"],
            r["receiver_id"],
            r["deception_score"],
            r["recovery_score"],
        )
        for r in compute_scores(results).collect()
    }
    assert got == expected


def test_play_timeline_rebases_frames(spark, cleaned):
    from big_data_bowl_2026_analytics_spark.pipeline.timeline import (
        ball_flight,
        play_timeline,
    )

    cleaned_plays, _, before_clean, after_clean = cleaned
    tl = play_timeline(before_clean, after_clean, 1001, 1).collect()
    phases = {r["phase"] for r in tl}
    assert phases == {"before", "after"}
    before_max = max(r["frame_id"] for r in tl if r["phase"] == "before")
    after_min = min(r["frame_id"] for r in tl if r["phase"] == "after")
    assert after_min == before_max + 1  # continuous frame axis

    bf = ball_flight(cleaned_plays, before_clean, 1001, 1, n_steps=4).collect()
    assert len(bf) == 5
    # starts at the passer's last position, ends at the landing spot
    assert (bf[0]["ball_x"], bf[0]["ball_y"]) == (20.4, 25.0)
    assert (bf[-1]["ball_x"], bf[-1]["ball_y"]) == (50.0, 20.0)


_DEF_POSITIONS = ("CB", "FS", "SS", "DB", "LB", "DE")
#: Pythagorean offsets (0.25-yd grid): a defender and its mirror image
#: at one of these keep an exactly equal, exactly summable distance.
_TIE_OFFSETS = ((0.75, 1.0), (1.5, 2.0), (1.25, 3.0), (2.25, 3.0))


def _random_season(seed, n_plays):
    """Raw (before, after, plays) rows of a seeded random season that
    exercises every cleaning filter: 0-2 passers, 0-2 targeted
    receivers and 0-4 defenders (DB and LB/DE positions, some pairs
    at exactly tied mean distances), staggered after-frame ranges,
    3% null ``x``, left plays, SLANT plays, plays and players without
    after rows, and after-only players with no before rows. Coordinates
    sit on a 0.25-yd grid, so every rounding step is exact."""
    rng = np.random.default_rng(seed)
    template = make_plays()[0]
    before, after, plays = [], [], []

    def grid(lo, hi):
        return float(rng.integers(int(lo * 4), int(hi * 4) + 1)) / 4

    def maybe_null(v):
        return None if rng.random() < 0.03 else v

    for play_id in range(1, n_plays + 1):
        game_id = 5001 + play_id % 7
        week = 1 + play_id % 4
        direction = "left" if rng.random() < 0.5 else "right"
        n_frames = int(rng.integers(2, 6))
        rec_start = (grid(10, 100), grid(5, 45))
        rec_step = (grid(-1, 1), grid(-1, 1))
        roster = []  # (nfl_id, role, side, position, path, after frames)

        def after_range():
            first = int(rng.integers(1, 3))
            return range(first, first + int(rng.integers(1, 6)))

        ids = iter(rng.permutation(np.arange(10, 60)).tolist())
        for _ in range(int(rng.choice(3, p=[0.1, 0.85, 0.05]))):
            qb_id = int(rng.integers(1, 10))
            if all(p[0] != qb_id for p in roster):
                pos = (grid(20, 40), grid(20, 30))
                roster.append((qb_id, "Passer", "Offense", "QB", lambda f, p=pos: p, after_range()))
        n_rec = int(rng.choice(3, p=[0.08, 0.8, 0.12]))
        for i in range(n_rec):
            if i == 0:
                start, step = rec_start, rec_step
            else:
                start, step = (grid(10, 100), grid(5, 45)), (grid(-1, 1), grid(-1, 1))
            path = lambda f, s=start, d=step: (s[0] + d[0] * f, s[1] + d[1] * f)
            roster.append((next(ids), "Targeted Receiver", "Offense", "WR", path, after_range()))
        if rng.random() < 0.3:
            pos = (grid(10, 100), grid(5, 45))
            roster.append((next(ids), "Other Route Runner", "Offense", "WR", lambda f, p=pos: p, after_range()))
        rec_path = lambda f: (rec_start[0] + rec_step[0] * f, rec_start[1] + rec_step[1] * f)
        def_ids = iter(rng.permutation(np.arange(100, 160)).tolist())
        n_def = int(rng.integers(0, 5))
        while n_def > 0:
            role = "Pass Rusher" if rng.random() < 0.2 else "Defensive Coverage"
            if n_def >= 2 and rng.random() < 0.25:
                ox, oy = _TIE_OFFSETS[int(rng.integers(0, len(_TIE_OFFSETS)))]
                frames = after_range()
                for sign in (1.0, -1.0):
                    nfl_id = next(def_ids)
                    path = lambda f, s=sign, o=(ox, oy): (
                        rec_path(f)[0] + s * o[0], rec_path(f)[1] + s * o[1]
                    )
                    roster.append((nfl_id, role, "Defense", _DEF_POSITIONS[nfl_id % 6], path, frames))
                n_def -= 2
            else:
                nfl_id = next(def_ids)
                off = [(grid(-6, 6), grid(-6, 6)) for _ in range(12)]
                path = lambda f, o=off: (rec_path(f)[0] + o[f][0], rec_path(f)[1] + o[f][1])
                roster.append((nfl_id, role, "Defense", _DEF_POSITIONS[nfl_id % 6], path, after_range()))
                n_def -= 1

        has_after = rng.random() < 0.95
        after_rows = []
        for nfl_id, role, side, position, path, frames in roster:
            if not has_after or rng.random() < 0.08:
                continue
            for f in frames:
                x, y = path(n_frames + f)
                after_rows.append(
                    dict(game_id=game_id, play_id=play_id, nfl_id=nfl_id, frame_id=f,
                         x=maybe_null(x), y=y, s=grid(0, 10), a=grid(0, 3),
                         dir=float(rng.integers(0, 360)), o=float(rng.integers(0, 360)),
                         week=week)
                )
        if has_after and rng.random() < 0.1:  # after-only player: no role or side
            for f in after_range():
                x, y = rec_path(n_frames + f)
                after_rows.append(
                    dict(game_id=game_id, play_id=play_id, nfl_id=200 + play_id % 50,
                         frame_id=f, x=x + 0.25, y=y, s=1.0, a=0.0, dir=0.0, o=0.0,
                         week=week)
                )
        after += after_rows

        # Ball near one player's last after position (so the 3-yd test
        # cuts both ways), or anywhere.
        anchors = [r for r in after_rows if r["x"] is not None and r["nfl_id"] >= 10]
        if anchors and rng.random() < 0.85:
            nfl_id = anchors[int(rng.integers(0, len(anchors)))]["nfl_id"]
            last = max((r for r in anchors if r["nfl_id"] == nfl_id), key=lambda r: r["frame_id"])
            ball = (last["x"] + grid(-2.5, 2.5), last["y"] + grid(-2.5, 2.5))
        else:
            ball = (grid(0, 120), grid(0, 53))
        for nfl_id, role, side, position, path, _ in roster:
            for f in range(1, n_frames + 1):
                x, y = path(f)
                before.append(
                    dict(game_id=game_id, play_id=play_id, nfl_id=nfl_id, frame_id=f,
                         play_direction=direction, player_side=side, player_role=role,
                         player_name=f"Player {nfl_id}", player_height="6-1",
                         player_weight=180.0 + nfl_id, player_birth_date="1996-05-01",
                         player_position=position, x=maybe_null(x), y=y,
                         s=grid(0, 10), a=grid(0, 3), dir=float(rng.integers(0, 360)),
                         o=float(rng.integers(0, 360)), absolute_yardline_number=40.0,
                         ball_land_x=ball[0], ball_land_y=ball[1], week=week)
                )
        route = "SLANT" if rng.random() < 0.1 else str(rng.choice(["IN", "OUT", "HITCH"]))
        plays.append(
            dict(template, game_id=game_id, play_id=play_id, week=week,
                 route_of_targeted_receiver=route,
                 possession_team=f"T{play_id % 5}", defensive_team=f"T{play_id % 5 + 5}",
                 pass_result=str(rng.choice(["C", "I", "IN"])))
        )
    return before, after, plays


def _flip(v, extent, left):
    return None if v is None else round(extent - v if left else v, 2)


def _flip_angle(a, left):
    return None if a is None else round((a + 180.0) % 360.0 if left else a, 2)


def _distance(x1, y1, x2, y2):
    if None in (x1, y1, x2, y2):
        return None
    return math.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


def _clean_tracking_reference(before, after, plays):
    """Pure-Python model of the reference cleaning's four filters
    (tracking.py:269-549), in its order: closest defender (lowest mean
    frame distance to the targeted receiver, ties to the lowest
    ``nfl_id``, a null mean first), exactly one receiver and one DB,
    the 3-yd ball-landing test on each side's position at the play's
    last frame, and exactly three roles on the pre-throw side (with
    every passer row). Returns (before_clean, after_clean) row dicts.

    Assumes ``(game_id, play_id, nfl_id, frame_id)`` is unique, that
    bio, side, role and direction are constant per player, and that a
    passer or targeted receiver is on offense, as in the tracking
    data."""
    play = lambda r: (r["game_id"], r["play_id"])  # noqa: E731
    player = lambda r: (r["game_id"], r["play_id"], r["nfl_id"])  # noqa: E731
    dim = {r["nfl_id"]: (r["player_name"], r["player_position"]) for r in before}
    carried = {
        player(r): (r["player_side"], r["player_role"], r["play_direction"]) for r in before
    }
    teams = {play(p): (p["possession_team"], p["defensive_team"]) for p in plays}
    first_before = {}
    for r in before:
        first_before.setdefault(play(r), r)
    ball = {}
    for p in plays:
        r = first_before.get(play(p))
        if r is not None and p["route_of_targeted_receiver"] in KEPT_ROUTES:
            left = r["play_direction"] == "left"
            ball[play(p)] = (
                _flip(r["ball_land_x"], 120.0, left),
                _flip(r["ball_land_y"], 53.3, left),
            )

    def finish(r):
        """normalize_direction + player and team enrichment."""
        left = r["play_direction"] == "left"
        name, position = dim.get(r["nfl_id"], (None, None))
        offense, defense = teams.get(play(r), (None, None))
        side = r["player_side"]
        out = dict(
            r,
            x=_flip(r["x"], 120.0, left),
            y=_flip(r["y"], 53.3, left),
            dir=_flip_angle(r["dir"], left),
            o=_flip_angle(r["o"], left),
            player_name=name,
            player_position=position,
            team=defense if side == "Defense" else offense if side == "Offense" else None,
        )
        del out["play_direction"]
        return out

    by_play = {}
    for r in after:
        side, role, direction = carried.get(player(r), (None, None, None))
        by_play.setdefault(play(r), []).append(
            dict(r, player_side=side, player_role=role, play_direction=direction)
        )
    after_clean = []
    for key, rows in by_play.items():
        receivers = [r for r in rows if r["player_role"] == "Targeted Receiver"]
        defenders = [r for r in rows if r["player_side"] == "Defense"]
        at_frame = {}
        for r in receivers:
            at_frame.setdefault(r["frame_id"], []).append(r)
        dists = {}
        for d in defenders:
            for r in at_frame.get(d["frame_id"], []):
                dists.setdefault(d["nfl_id"], []).append(
                    _distance(d["x"], d["y"], r["x"], r["y"])
                )
        means = {}
        for nfl_id, ds in dists.items():
            vals = [v for v in ds if v is not None]
            means[nfl_id] = sum(vals) / len(vals) if vals else None
        closest = min(
            means,
            key=lambda i: (0, 0.0, i) if means[i] is None else (1, means[i], i),
            default=None,
        )
        picked = [
            finish(r)
            for r in receivers + [d for d in defenders if d["nfl_id"] == closest]
        ]
        n_receivers = len({r["nfl_id"] for r in picked if r["player_role"] == "Targeted Receiver"})
        n_dbs = len({
            r["nfl_id"] for r in picked
            if r["player_side"] == "Defense" and r["player_position"] in DB_POSITIONS
        })
        if n_receivers != 1 or n_dbs != 1 or key not in ball:
            continue
        last = max(r["frame_id"] for r in picked)
        near = False
        for side in ("Offense", "Defense"):
            at_last = [r for r in picked if r["frame_id"] == last and r["player_side"] == side]
            xs = [r["x"] for r in at_last if r["x"] is not None]
            ys = [r["y"] for r in at_last if r["y"] is not None]
            d = _distance(min(xs, default=None), min(ys, default=None), *ball[key])
            near = near or (d is not None and d < 3)
        if near:
            after_clean += picked

    kept = {player(r) for r in after_clean}
    core = [
        "game_id", "play_id", "nfl_id", "frame_id", "play_direction", "player_side",
        "player_role", "x", "y", "s", "a", "dir", "o", "week",
    ]
    candidates = [
        finish({c: r[c] for c in core}) for r in before
        if player(r) in kept or r["player_role"] == "Passer"
    ]
    roles = {}
    for r in candidates:
        if r["player_role"] is not None:
            roles.setdefault(play(r), set()).add(r["player_role"])
    before_clean = [r for r in candidates if len(roles.get(play(r), ())) == 3]
    return before_clean, after_clean


def _as_counter(rows):
    return Counter(tuple(sorted(r.items())) for r in rows)


def test_clean_tracking_matches_reference(spark):
    """Both cleaned outputs equal, row for row and with exact floats,
    the pure-Python reference of the four cleaning filters on a seeded
    random season that hits every filter both ways. Assumes
    ``(game_id, play_id, nfl_id, frame_id)`` is unique."""
    before, after, plays = _random_season(seed=15, n_plays=400)
    raw_before = spark.createDataFrame(
        [tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields) for r in before],
        TRACKING_BEFORE_SCHEMA,
    )
    raw_after = spark.createDataFrame(
        [tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields) for r in after],
        TRACKING_AFTER_SCHEMA,
    )
    raw_plays = spark.createDataFrame(
        [tuple(p[f.name] for f in PLAYS_SCHEMA.fields) for p in plays], PLAYS_SCHEMA
    )
    before_clean, after_clean = clean_tracking(
        raw_before,
        raw_after,
        clean_plays(raw_plays, raw_before),
        raw_plays,
        create_players_dim(raw_before),
        player_plays(raw_before),
    )
    expected_before, expected_after = _clean_tracking_reference(before, after, plays)

    assert after_clean.columns == [
        "game_id", "play_id", "nfl_id", "frame_id", "x", "y", "s", "a", "dir", "o",
        "week", "player_side", "player_role", "player_name", "player_position", "team",
    ]
    assert before_clean.columns == [
        "game_id", "play_id", "nfl_id", "frame_id", "player_side", "player_role",
        "x", "y", "s", "a", "dir", "o", "week", "player_name", "player_position", "team",
    ]
    assert _as_counter(r.asDict() for r in after_clean.collect()) == _as_counter(expected_after)
    assert _as_counter(r.asDict() for r in before_clean.collect()) == _as_counter(expected_before)
    # Some plays survive, most do not; the after side keeps passer-less plays.
    kept_after = {(r["game_id"], r["play_id"]) for r in expected_after}
    kept_before = {(r["game_id"], r["play_id"]) for r in expected_before}
    assert 40 < len(kept_after) < 200
    assert kept_before < kept_after
    # Stages 1-2 read the per-player summary where they read the frames.
    summary = player_plays(raw_before)
    for from_summary, from_frames in [
        (create_players_dim(summary), create_players_dim(raw_before)),
        (clean_plays(raw_plays, summary), clean_plays(raw_plays, raw_before)),
    ]:
        assert from_summary.columns == from_frames.columns
        assert Counter(map(tuple, from_summary.collect())) == Counter(
            map(tuple, from_frames.collect())
        )


def test_clean_tracking_picks_in_one_pass(spark, nfl, monkeypatch):
    """Cleaning picks each play's receiver and closest DB in one pass:
    building ``clean_tracking``'s plans runs at most 5 Spark jobs (the
    broadcasts under its one ``localCheckpoint``), and no plan it
    builds, a checkpointed frame's included, holds a window. AQE is
    off, as AQE runs each shuffle stage as its own job."""
    before, after, plays = nfl
    checkpointed = []
    frame_type = type(before)
    checkpoint = frame_type.localCheckpoint

    def recording(df, *args, **kwargs):
        checkpointed.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", recording)
    sc = spark.sparkContext
    group = "clean-tracking-construction"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cleaned_plays = clean_plays(plays, before)
        players = create_players_dim(before)
        sc.setJobGroup(group, group)
        try:
            outputs = clean_tracking(
                before, after, cleaned_plays, plays, players, player_plays(before)
            )
        finally:
            sc.setJobGroup(None, None)
        plans = [
            df._jdf.queryExecution().executedPlan().toString()
            for df in [*outputs, *checkpointed]
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
    assert len(checkpointed) == 1
    for plan in plans:
        assert "Window" not in plan, plan


def test_stages_1_to_3_read_the_pre_throw_frames_twice(spark, nfl, tmp_path, monkeypatch):
    """Built as ``run_pipeline`` builds them, from parquet, stages 1-3
    scan the pre-throw table twice: once for the ``player_plays``
    summary and once for the cleaned pre-throw rows. The players dim,
    the cleaned plays, the checkpointed picks and the post-throw output
    read the summary instead. AQE is off, so each plan is final."""
    before, after, plays = nfl

    def path(name):
        return str(tmp_path / name)

    for name, df in [("raw_before", before), ("raw_after", after), ("raw_plays", plays)]:
        df.write.parquet(path(name))
    raw_before, raw_after, raw_plays = (
        spark.read.parquet(path(name)) for name in ("raw_before", "raw_after", "raw_plays")
    )

    def stage(df, name):
        df.write.parquet(path(name))
        return spark.read.parquet(path(name))

    checkpointed = []
    frame_type = type(before)
    checkpoint = frame_type.localCheckpoint

    def recording(df, *args, **kwargs):
        checkpointed.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", recording)
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.maxMetadataStringLength": "10000",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        summary = player_plays(raw_before)
        per_player = stage(summary, "player_plays")
        players = create_players_dim(per_player)
        players_read = stage(players, "players")
        cleaned_plays = clean_plays(raw_plays, per_player)
        cleaned_read = stage(cleaned_plays, "plays_cleaned")
        outputs = clean_tracking(
            raw_before, raw_after, cleaned_read, raw_plays, players_read, per_player
        )
        plans = [
            df._jdf.queryExecution().executedPlan().toString()
            for df in [summary, players, cleaned_plays, *outputs, *checkpointed]
        ]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(checkpointed) == 1
    scans = [
        line
        for plan in plans
        for line in plan.splitlines()
        if "FileScan" in line and path("raw_before") in line
    ]
    assert len(scans) == 2, "\n".join(scans)
