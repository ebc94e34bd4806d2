"""The ``pipeline`` workload: ``run_pipeline(validate=True)`` over a
generated season read from parquet, writing its nine parquet stages
under a fresh directory per run.

Each stage is timed around its call in ``pipeline.run``'s namespace: a
stage starts when its function is called and ends when the next stage's
function is called (or the run returns), so the stage times partition
the run and include the stage's writes, rereads and checks. The names
are patched for the duration of the workload and restored afterwards;
the package is not modified.

In a traced run, the Spark jobs a stage function runs eagerly (a
``toPandas`` or ``count`` inside it) are moved out of its span into an
``exec`` child, so ``plans`` keeps only plan construction and other
driver-side Python. ``grid_search`` fits its model on the driver; its
span is layer ``ml.fit``, not ``plans``.

Set-up (timed as ``setup_s``) is the session start only. There is no
warm-up: a batch pipeline is one ``spark-submit``, so each real run pays
its JVM and codegen compilation, and the first measured run is cold.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager

import box
import season
import stats
from spans import Probe, Tracer

WEEKS, PLAYS, FRAMES = 18, 200, 20
TRAIN_WEEKS = 9
#: the layers whose calls are the workload's operations
OP_LAYERS = ("plans", "ml.fit", "exec", "operators.quality")

#: function called by ``run_pipeline`` -> the stage it starts
STAGE_OF = {
    "create_players_dim": "pipeline.players",
    "clean_plays": "pipeline.plays_clean",
    "clean_tracking": "pipeline.tracking_clean",
    "filter_plays_with_tracking": "pipeline.sync",
    "build_features": "pipeline.features",
    "train_test_split_by_week": "pipeline.features",
    "grid_search": "ml.train",
    "score_dataframe": "ml.inference",
    "compute_scores": "pipeline.scores",
}
#: stage functions whose span is not a ``plans`` span
LAYER_OF = {"grid_search": "ml.fit"}
QUALITY = ("assert_unique_key", "assert_no_nulls", "assert_values_in")


def prepare(seed: int) -> str:
    return box.cached(
        f"season-{WEEKS}x{PLAYS}x{FRAMES}-seed{seed}",
        lambda out: season.write(seed, WEEKS, PLAYS, FRAMES, out),
    )


class _Clock:
    """Stage spans for one ``run_pipeline`` call. With a probe, each
    stage-function call, write and check runs in its own job group and
    carries that group's counters and Catalyst time; the stage's own
    group collects the rest (rereads, schema reads). Outside ``exec`` and
    the checks, the wall time of a span's jobs becomes an ``exec``
    child."""

    def __init__(self, tr: Tracer, probe: Probe | None) -> None:
        self.tr, self.probe = tr, probe
        self.run = None
        self.stage = None
        self.stage_gids: list[str] = []

    def _collect(self, span: dict, gids: list[str]) -> None:
        probe = self.probe
        probe.drain()
        self.tr.child(span, "catalyst", span["name"], probe.catalyst_s())
        jobs: dict[str, float] = {}
        for gid in gids:
            for k, v in probe.jobs(gid).items():
                jobs[k] = jobs.get(k, 0.0) + v
        span["attrs"]["jobs"] = jobs
        span["attrs"]["sql"] = probe.sql()
        if jobs.get("wall_s") and span["layer"] not in ("exec", "operators.quality"):
            self.tr.child(span, "exec", span["name"], jobs["wall_s"])

    def _stage_group(self) -> None:
        if self.probe is not None and self.stage is not None:
            self.stage_gids.append(self.probe.group(self.stage["name"]))

    def enter(self, stage: str) -> None:
        if self.stage is not None and self.stage["name"] == stage:
            return
        self.leave()
        self.stage = self.tr.open(stage, stage, parent=self.run)
        self._stage_group()

    def leave(self) -> None:
        if self.stage is None:
            return
        if self.probe is not None:
            self._collect(self.stage, self.stage_gids)
            self.stage["attrs"]["storage"] = self.probe.storage()
        self.tr.close(self.stage)
        self.stage, self.stage_gids = None, []

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        span = self.tr.open(layer, name, parent=self.stage)
        gid = self.probe.group(name) if self.probe is not None else None
        try:
            return fn(*args, **kwargs)
        finally:
            self.tr.close(span)
            if gid is not None:
                self._collect(span, [gid])
            self._stage_group()


@contextmanager
def instrumented(clock: _Clock):
    """Patch the stage functions, ``write_parquet`` and the checks."""
    from big_data_bowl_2026_analytics_spark.operators import quality
    from big_data_bowl_2026_analytics_spark.pipeline import run as prun

    saved = []

    def patch(mod, name, wrapper):
        saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, wrapper)

    def stage_fn(name, fn):
        def wrapper(*args, **kwargs):
            stage = STAGE_OF[name]
            if name == "build_features" and kwargs.get("per_frame"):
                stage = "ml.inference"
            clock.enter(stage)
            return clock.call(LAYER_OF.get(name, "plans"), name, fn, *args, **kwargs)
        return wrapper

    def layer_fn(layer, name, fn):
        def wrapper(*args, **kwargs):
            return clock.call(layer, name, fn, *args, **kwargs)
        return wrapper

    for name in STAGE_OF:
        patch(prun, name, stage_fn(name, getattr(prun, name)))
    patch(prun, "write_parquet", layer_fn("exec", "write_parquet", prun.write_parquet))
    for name in QUALITY:
        patch(quality, name, layer_fn("operators.quality", name, getattr(quality, name)))
    try:
        yield
    finally:
        for mod, name, fn in reversed(saved):
            setattr(mod, name, fn)


def scores_hash(rows: list[tuple]) -> str:
    """Order-independent hash of the scores rows (floats to 10
    significant digits, so a last-ulp summation-order wobble between
    runs is not read as a different answer)."""
    def fmt(v):
        return f"{v:.10g}" if isinstance(v, float) else repr(v)

    lines = sorted("|".join(fmt(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Pipeline:
    @staticmethod
    def prepare(seed: int) -> None:
        prepare(seed)

    def __init__(self, seed: int) -> None:
        self.clients = 1
        self.data = prepare(seed)
        self.spark = None
        self.tally = stats.Tally()
        self.setup: dict[str, float] = {}
        self.detail: dict = {}
        self.hash: str | None = None
        self._n = 0

    def set_up(self) -> None:
        t0 = time.perf_counter()
        self.spark = box.start_session()
        session = time.perf_counter() - t0
        self.setup = {
            "session_s": session,
            "index_build_s": 0.0,
            "warmup_s": 0.0,
            "setup_s": session,
        }

    def _inputs(self):
        from big_data_bowl_2026_analytics_spark.schemas import (
            PLAYS_SCHEMA,
            TRACKING_AFTER_SCHEMA,
            TRACKING_BEFORE_SCHEMA,
        )

        read = self.spark.read
        return (
            read.schema(TRACKING_BEFORE_SCHEMA).parquet(f"{self.data}/tracking_before.parquet"),
            read.schema(TRACKING_AFTER_SCHEMA).parquet(f"{self.data}/tracking_after.parquet"),
            read.schema(PLAYS_SCHEMA).parquet(f"{self.data}/plays.parquet"),
        )

    def run_once(self, tr: Tracer, probe: Probe | None = None) -> dict | None:
        """One ``run_pipeline`` call; returns its pass span, or None if
        it failed or its scores are wrong."""
        from big_data_bowl_2026_analytics_spark.pipeline.run import run_pipeline

        self._n += 1
        self.tally.attempt()
        workdir = box.WORK / "pipeline-out" / f"run{self._n % 2}"
        shutil.rmtree(workdir, ignore_errors=True)
        clock = _Clock(tr, probe)
        try:
            with instrumented(clock):
                clock.run = tr.open("pass", "pipeline")
                try:
                    res = run_pipeline(
                        self.spark, *self._inputs(), str(workdir),
                        train_weeks=TRAIN_WEEKS, validate=True,
                    )
                finally:
                    clock.leave()
                    tr.close(clock.run)
            problem = self.check(res.scores)
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            problem = f"{type(exc).__name__}: {exc}"
        if problem:
            self.tally.fail(f"run{self._n}", problem)
            return None
        return clock.run

    def check(self, scores) -> str | None:
        """One score row per test-week play, no null scores, recovery in
        [-1, 1.2], and the same scores on every run of this seed."""
        cols = ["game_id", "play_id", "defender_id", "receiver_id",
                "deception_score", "recovery_score"]
        rows = [tuple(r) for r in scores.select(*cols).collect()]
        expect = (WEEKS - TRAIN_WEEKS) * PLAYS
        if len(rows) != expect or len({r[:2] for r in rows}) != expect:
            return f"{len(rows)} score rows, expected one per test play ({expect})"
        if any(r[4] is None or r[5] is None for r in rows):
            return "null score"
        if any(not -1.0 <= r[5] <= 1.2 for r in rows):
            return "recovery score outside [-1, 1.2]"
        digest = scores_hash(rows)
        pinned = os.path.join(self.data, "scores.sha256")
        if self.hash is None:
            if os.path.exists(pinned):
                with open(pinned) as f:
                    self.hash = f.read().strip()
            else:
                with open(pinned, "w") as f:
                    f.write(digest)
                self.hash = digest
        if digest != self.hash:
            return "scores differ from an earlier run of the same seed"
        return None

    def measure(self, seconds: float) -> dict[str, float] | None:
        """Closed loop of runs, at least one. The operations are the
        run's 23 calls into the program (stage functions,
        ``write_parquet``, checks), the k-th call of every run being one
        operation; one run is enough for their median."""
        walls: list[float] = []
        ops: dict[int, list[float]] = {}
        end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < end:
            tr = Tracer()
            run = self.run_once(tr)
            if run is None:
                if not walls:
                    return None
                continue
            walls.append(run["dur"])
            calls = [s["dur"] for s in tr.spans if s["layer"] in OP_LAYERS]
            for k, dt in enumerate(calls):
                ops.setdefault(k, []).append(dt)
        flat = [dt for xs in ops.values() for dt in xs]
        self.detail = {
            "runs_s": walls,
            "op_samples": len(flat),
            "op_p50_ms": 1e3 * stats.percentile(flat, 0.5),
        }
        return {
            "pass_s": stats.median(walls),
            "op_mean_ms": 1e3 * sum(map(stats.median, ops.values())) / len(ops),
        }

    def measure_traced(self, seconds: float, tr: Tracer) -> dict:
        """One cold traced run gives the layer numbers, as ``measure``'s
        run is cold. A cold run happens once per process, so there is no
        untraced run to compare it with: the overhead is its wall time
        against that time less the probe's own calls."""
        probe = Probe(self.spark)
        with probe.active():
            busy = probe.busy_s
            run = self.run_once(tr, probe)
            busy = probe.busy_s - busy
        overhead = run["dur"] / (run["dur"] - busy) if run else 0.0
        return {"passes": 1, "overhead": overhead, "probe_s": busy}
