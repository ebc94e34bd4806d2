"""Tests for the ML stack: deterministic training, distributed pandas
UDF scoring parity with driver-side numpy, and evaluation metrics
against closed-form answers."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_bowl_2026_analytics_spark.ml import (
    LogisticModel,
    binary_metrics,
    calibration_bins,
    score_dataframe,
    train_logistic,
)


def test_train_logistic_deterministic_and_learns():
    rng = np.random.RandomState(0)
    X = rng.randn(500, 3)
    y = (X[:, 0] - 0.5 * X[:, 1] > 0).astype(float)
    m1 = train_logistic(X, y, ("a", "b", "c"))
    m2 = train_logistic(X, y, ("a", "b", "c"))
    assert np.array_equal(m1.weights, m2.weights) and m1.bias == m2.bias
    acc = ((m1.predict_proba(X) > 0.5) == y).mean()
    assert acc > 0.9


def test_udf_scoring_matches_driver_numpy(spark):
    rng = np.random.RandomState(1)
    X = rng.randn(200, 2)
    model = LogisticModel(np.array([0.7, -1.1]), 0.2, ("f1", "f2"))
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in X], "f1 double, f2 double"
    )
    got = np.array(
        [r["probability"] for r in score_dataframe(df, model).collect()]
    )
    want = model.predict_proba(X)
    # row order from collect matches input order on a narrow pipeline,
    # but sort both to be safe
    assert np.allclose(np.sort(got), np.sort(want), atol=1e-12)


def test_binary_metrics_perfect_classifier(spark):
    rows = [(0.9, 1.0)] * 10 + [(0.1, 0.0)] * 10
    df = spark.createDataFrame(rows, "probability double, target double")
    m = binary_metrics(df).collect()[0]
    assert m["auc"] == 1.0
    assert m["n_pos"] == 10 and m["n_neg"] == 10
    assert m["brier"] == pytest.approx(0.01, abs=1e-6)


def test_binary_metrics_random_classifier_auc_half(spark):
    rows = [(0.5, 1.0)] * 7 + [(0.5, 0.0)] * 13
    df = spark.createDataFrame(rows, "probability double, target double")
    m = binary_metrics(df).collect()[0]
    assert m["auc"] == 0.5  # all ties -> fractional rank gives exactly 0.5


def test_calibration_bins(spark):
    rows = [(0.05, 0.0), (0.06, 0.0), (0.95, 1.0), (0.97, 1.0), (1.0, 1.0)]
    df = spark.createDataFrame(rows, "probability double, target double")
    out = {r["bin"]: r for r in calibration_bins(df).collect()}
    assert out[0]["n"] == 2 and out[0]["observed_rate"] == 0.0
    assert out[9]["n"] == 3 and out[9]["observed_rate"] == 1.0  # p=1.0 clamps to bin 9


def test_artifact_tracker_roundtrip(tmp_path):
    """MLflow-shaped local tracker: params/metrics/artifacts/model
    land in the run dir; the model round-trips bit-identically."""
    import json

    import numpy as np

    from big_data_bowl_2026_analytics_spark.ml.artifacts import (
        ModelTracker,
        load_model,
    )
    from big_data_bowl_2026_analytics_spark.ml.model import LogisticModel

    model = LogisticModel(
        weights=np.array([0.5, -1.25]), bias=0.75, feature_cols=("f1", "f2")
    )
    art = tmp_path / "note.txt"
    art.write_text("calibration curve placeholder")

    tracker = ModelTracker(root=tmp_path / "mlruns")
    tracker.set_experiment("non_completion_probability_classifier")
    with tracker.start_run():
        tracker.log_params({"lr": 0.5, "n_iter": 300})
        tracker.log_metrics({"auc": 0.671, "logloss": 0.581, "brier": 0.194})
        tracker.log_artifact(str(art))
        model_path = tracker.log_model(model, name="model")

    run_dir = tmp_path / "mlruns" / "non_completion_probability_classifier" / "run_0001"
    assert json.loads((run_dir / "params.json").read_text()) == {"lr": "0.5", "n_iter": "300"}
    assert json.loads((run_dir / "metrics.json").read_text())["auc"] == 0.671
    assert (run_dir / "artifacts" / "note.txt").read_text() == "calibration curve placeholder"

    loaded = load_model(model_path)
    assert np.array_equal(loaded.weights, model.weights)
    assert loaded.bias == model.bias and loaded.feature_cols == model.feature_cols
    # logging outside a run is an error, not a silent no-op
    with pytest.raises(RuntimeError):
        tracker.log_metrics({"auc": 1.0})


def test_artifact_tracker_sequential_runs(tmp_path):
    from big_data_bowl_2026_analytics_spark.ml.artifacts import ModelTracker

    tracker = ModelTracker(root=tmp_path)
    tracker.set_experiment("e")
    with tracker.start_run():
        tracker.log_params({"a": 1})
    with tracker.start_run():
        tracker.log_params({"a": 2})
    assert (tmp_path / "e" / "run_0001").is_dir()
    assert (tmp_path / "e" / "run_0002").is_dir()
