"""Classifier for the non-completion-probability task.

The reference trains an XGBoost classifier with a 64-combo grid search
(reference src/training/train.py:125-181). The engine ships a
deterministic numpy logistic regression with the same role in the
pipeline: small training set collected to the driver (the reference's
train set is 1,941 rows), distributed scoring executor-side (see
``inference.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class LogisticModel:
    """Fixed-weight logistic model: p = sigmoid(X @ weights + bias)."""

    weights: np.ndarray
    bias: float
    feature_cols: tuple[str, ...]

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        # Clip the logit so a diverged grid-search combo saturates to
        # 0/1 instead of overflowing exp (deterministic either way).
        z = np.clip(X @ self.weights + self.bias, -500.0, 500.0)
        return 1.0 / (1.0 + np.exp(-z))


def train_logistic(
    X: np.ndarray,
    y: np.ndarray,
    feature_cols: tuple[str, ...],
    lr: float = 0.5,
    n_iter: int = 300,
    l2: float = 1e-3,
) -> LogisticModel:
    """Deterministic full-batch gradient descent from zero init.

    No randomness anywhere -> identical model on every run (the
    reference pins seed 42 for the same reason,
    /root/reference/src/core/settings.py:110-123).
    """
    n, d = X.shape
    w = np.zeros(d)
    b = 0.0
    for _ in range(n_iter):
        z = np.clip(X @ w + b, -500.0, 500.0)
        p = 1.0 / (1.0 + np.exp(-z))
        grad_w = X.T @ (p - y) / n + l2 * w
        grad_b = float(np.mean(p - y))
        w -= lr * grad_w
        b -= lr * grad_b
    return LogisticModel(weights=w, bias=b, feature_cols=feature_cols)


# Pickle this module's functions BY VALUE into UDF closures: Spark's
# Python workers otherwise resolve them by module name, which fails
# whenever the package isn't on the worker's import path (e.g. the
# driver imported the repo by file location from another cwd).
import sys as _sys

try:  # pragma: no cover - exercised via worker round-trips in tests
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass
