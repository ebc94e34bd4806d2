"""Reference-parity tests for the NFL cleaning/feature/score pipeline
on the constructed fixtures (each play targets one filter)."""

from __future__ import annotations

import math

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
)
from big_data_bowl_2026_analytics_spark.schemas import (
    INFERENCE_RESULTS_SCHEMA,
    PLAYS_SCHEMA,
    TRACKING_AFTER_SCHEMA,
    TRACKING_BEFORE_SCHEMA,
)

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
        before, after, cleaned_plays, plays, players
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
