"""MLflow-shaped experiment/artifact I/O (SURVEY §2 S6).

The reference logs runs through MLflow (set_experiment / start_run /
log_params / log_metrics / log_artifact / sklearn.log_model,
/root/reference/src/training/train.py:131-176) and loads models back
with ``mlflow.sklearn.load_model`` (src/inference.py:47).
:class:`ModelTracker` keeps that call shape and writes the same
logical content to a plain local directory tree:

    <root>/<experiment>/run_<NNNN>/
        params.json  metrics.json  artifacts/<files>  model/model.pkl

Run ids are sequential (deterministic); model serialization is
pickle (the engine's models are pure-numpy dataclasses).
"""

from __future__ import annotations

import json
import pickle
import shutil
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Iterator


class ModelTracker:
    """MLflow-call-shaped tracker over a local directory tree."""

    def __init__(self, root: str | Path = "mlruns-local"):
        self.root = Path(root)
        self._experiment = "default"
        self._run_dir: Path | None = None

    def set_experiment(self, name: str) -> None:
        self._experiment = name

    @contextmanager
    def start_run(self) -> Iterator["ModelTracker"]:
        exp_dir = self.root / self._experiment
        exp_dir.mkdir(parents=True, exist_ok=True)
        n = sum(1 for p in exp_dir.iterdir() if p.name.startswith("run_"))
        self._run_dir = exp_dir / f"run_{n + 1:04d}"
        self._run_dir.mkdir()
        try:
            yield self
        finally:
            self._run_dir = None

    def log_params(self, params: dict[str, Any]) -> None:
        self._merge_json("params.json", {k: str(v) for k, v in params.items()})

    def log_metrics(self, metrics: dict[str, float]) -> None:
        self._merge_json("metrics.json", {k: float(v) for k, v in metrics.items()})

    def log_artifact(self, local_path: str) -> None:
        dst = self._require_run() / "artifacts"
        dst.mkdir(exist_ok=True)
        shutil.copy2(local_path, dst / Path(local_path).name)

    def log_model(self, model: Any, name: str = "model") -> str:
        """Persist the model under the active run; returns its path
        (mlflow.sklearn.log_model analogue)."""
        return save_model(model, self._require_run() / name)

    def _require_run(self) -> Path:
        if self._run_dir is None:
            raise RuntimeError("no active run: use 'with tracker.start_run():'")
        return self._run_dir

    def _merge_json(self, fname: str, update: dict) -> None:
        path = self._require_run() / fname
        data = json.loads(path.read_text()) if path.exists() else {}
        data.update(update)
        path.write_text(json.dumps(data, indent=1, sort_keys=True))


def save_model(model: Any, path: str | Path) -> str:
    """Serialize a model directory (``<path>/model.pkl``); returns the
    directory path. Mirrors the artifact layout load_model expects."""
    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    with open(p / "model.pkl", "wb") as f:
        pickle.dump(model, f)
    return str(p)


def load_model(path: str | Path) -> Any:
    """Load a model saved by :func:`save_model` /
    :meth:`ModelTracker.log_model` (mlflow.sklearn.load_model
    analogue)."""
    with open(Path(path) / "model.pkl", "rb") as f:
        return pickle.load(f)
