"""Training orchestration (SURVEY §2.9 U6/U9).

The reference grid-searches 64 XGBoost combos on a 1,941-row training
set (/root/reference/src/training/train.py:125-181) — driver-side by
design: the DATA is small after the pipeline reduces it; it's the
upstream reduction that needs the cluster. Here:

- the feature table is collected once (it is play-grained and tiny
  relative to the tracking data that produced it),
- the hyperparameter grid evaluates in parallel THREADS, each combo a
  deterministic numpy fit — the same shape as distributing combos as
  one Spark task each, without shipping data 64 times,
- model selection is by validation log loss with a deterministic
  tie-break on the combo index (itertools.product order, like the
  reference's first-wins scan).

Permutation importance (U9) mirrors sklearn's algorithm: shuffle one
feature column (seeded), measure the metric drop, repeat.
"""

from __future__ import annotations

import itertools
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame

from .model import LogisticModel, train_logistic

#: Default grid (2^4 = 16 combos; the reference uses a 2^6 XGB grid,
#: src/core/settings.py:110-123 — axes here match a logistic model).
DEFAULT_GRID: dict[str, tuple] = {
    "lr": (0.1, 0.5),
    "n_iter": (150, 300),
    "l2": (0.0, 1e-3),
    "standardize": (False, True),
}

FEATURE_COLS: tuple[str, ...] = (
    "air_yards",
    "separation",
    "qb_to_rec_dist",
    "pressure_dist",
    "rec_speed",
    "def_speed",
    "qb_speed",
    "closing_speed",
    "def_orientation_error",
    "def_back_to_rec",
    "rec_boundary_dist",
    "rec_running_away",
    "separation_sq",
    "sep_per_air_yard",
    "closing_per_yard",
)


@dataclass
class FitResult:
    model: LogisticModel
    params: dict
    val_log_loss: float


def _to_xy(df: DataFrame, feature_cols: tuple[str, ...], label_col: str):
    pdf = df.select(*feature_cols, label_col).toPandas()
    X = pdf[list(feature_cols)].to_numpy(dtype=float)
    y = pdf[label_col].to_numpy(dtype=float)
    return X, y


def _log_loss(y: np.ndarray, p: np.ndarray) -> float:
    p = np.clip(p, 1e-12, 1 - 1e-12)
    return float(-np.mean(y * np.log(p) + (1 - y) * np.log(1 - p)))


def grid_search(
    train_df: DataFrame,
    val_df: DataFrame,
    feature_cols: tuple[str, ...] = FEATURE_COLS,
    label_col: str = "target",
    grid: dict[str, tuple] | None = None,
) -> FitResult:
    """Deterministic grid search: every combo fit on train, scored on
    validation log loss; best combo wins, first-wins on ties."""
    grid = grid or DEFAULT_GRID
    Xtr, ytr = _to_xy(train_df, feature_cols, label_col)
    Xv, yv = _to_xy(val_df, feature_cols, label_col)

    keys = sorted(grid)
    combos = [dict(zip(keys, vals)) for vals in itertools.product(*(grid[k] for k in keys))]

    def fit(combo: dict) -> FitResult:
        Xt, Xval = Xtr, Xv
        if combo.get("standardize"):
            mu, sd = Xtr.mean(axis=0), Xtr.std(axis=0)
            sd = np.where(sd == 0, 1.0, sd)
            Xt, Xval = (Xtr - mu) / sd, (Xv - mu) / sd
        model = train_logistic(
            Xt,
            ytr,
            feature_cols,
            lr=combo["lr"],
            n_iter=combo["n_iter"],
            l2=combo["l2"],
        )
        loss = _log_loss(yv, model.predict_proba(Xval))
        if combo.get("standardize"):
            # Fold standardization into the weights so scoring stays a
            # single linear pass (no separate scaler artifact).
            w = model.weights / sd
            b = model.bias - float(np.sum(model.weights * mu / sd))
            model = LogisticModel(weights=w, bias=b, feature_cols=feature_cols)
        return FitResult(model=model, params=combo, val_log_loss=loss)

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(fit, combos))
    best_idx = int(np.argmin([r.val_log_loss for r in results]))
    return results[best_idx]


def permutation_importance(
    model: LogisticModel,
    df: DataFrame,
    feature_cols: tuple[str, ...] | None = None,
    label_col: str = "target",
    n_repeats: int = 10,
    seed: int = 42,
) -> dict[str, float]:
    """Mean log-loss increase when each feature is shuffled
    (reference src/training/train.py:61-97, n_repeats=10, fixed seed)."""
    feature_cols = feature_cols or model.feature_cols
    X, y = _to_xy(df, tuple(feature_cols), label_col)
    base = _log_loss(y, model.predict_proba(X))
    rng = np.random.RandomState(seed)
    importances: dict[str, float] = {}
    for j, col in enumerate(feature_cols):
        deltas = []
        for _ in range(n_repeats):
            Xp = X.copy()
            rng.shuffle(Xp[:, j])
            deltas.append(_log_loss(y, model.predict_proba(Xp)) - base)
        importances[col] = float(np.mean(deltas))
    return importances
