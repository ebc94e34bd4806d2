"""Repository benchmark: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 20 --trace 0

Workloads (see ``BENCHMARK.json`` and ``perfbench/README.md``):

- ``suite``: the 22 ``bench.HEADLINE`` queries over tables generated from
  the seed, a serial phase and a batched phase (``suite.py``);
- ``pipeline``: ``run_pipeline`` over a season generated from the seed
  (``pipe.py``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run alternates untraced and traced passes and
carries the per-layer metrics and the tracing overhead. Either way the
line is ``{"correct", "attempted", "failed", "metrics"}``. The box state,
the failures and (traced) the spans go to ``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

WORKLOADS = ("suite", "pipeline")

E2E_UNITS = {
    "pass_s": "s",
    "op_mean_ms": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def _units() -> dict[str, str]:
    """Per-layer metric units, from ``BENCHMARK.json`` when present."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _program_present() -> bool:
    try:
        import big_data_bowl_2026_analytics_spark  # noqa: F401
        import bench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return False
    return True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - t_start

    if not _program_present():
        return 2

    import box
    from spans import Tracer, layer_metrics

    box.WORK.mkdir(exist_ok=True)
    if args.workload == "suite":
        from suite import Suite as Workload
    else:
        from pipe import Pipeline as Workload
    if args.prepare_only:
        Workload.prepare(args.seed)
        return 0
    # Inputs and oracle answers are made in a child process, so their
    # memory is not part of this process's peak.
    subprocess.run(
        [sys.executable, __file__, "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", "0", "--prepare-only"],
        check=True,
    )
    mark("inputs")
    load_start = os.getloadavg()
    work = Workload(args.seed)
    mark("load")
    metrics: dict[str, float] = {}
    tr = Tracer()
    try:
        work.set_up()
        mark("set_up")
        if args.trace:
            traced = work.measure_traced(args.seconds, tr)
            metrics = layer_metrics(tr.spans)
            metrics.update({f"setup.{k}": v for k, v in work.setup.items() if k != "setup_s"})
            metrics["trace.overhead_ratio"] = traced["overhead"]
            work.detail["traced"] = traced
        else:
            metrics = dict(work.measure(args.seconds) or {})
            metrics["setup_s"] = work.setup["setup_s"]
            rss = box.peak_rss_mb(work.spark)
            work.detail["peak_rss_mb"] = rss
            metrics["peak_rss_mb"] = sum(rss.values())
        mark("measure")
        state = box.state(work.spark, work.clients)
    finally:
        if work.spark is not None:
            box.shutdown(work.spark)
    mark("shutdown")
    state["phases_s"] = phases
    state["loadavg"] = {"start": list(load_start), "end": list(os.getloadavg())}

    units = _units() if args.trace else E2E_UNITS
    missing = sorted(set(units) - set(metrics))
    failed = work.tally.failed + len(missing)
    result = {
        "correct": failed == 0,
        "attempted": max(work.tally.attempted, 1),
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in units.items()
            if name in metrics
        },
    }
    out_dir = box.WORK / "results"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    detail = {"args": vars(args), "box": state, "failures": work.tally.messages,
              "missing_metrics": missing, "setup": work.setup, "passes": work.detail,
              "result": result}
    (out_dir / f"{stem}.json").write_text(json.dumps(detail, indent=1))
    if args.trace:
        tr.dump(str(out_dir / f"{stem}.spans.json"))
    print(json.dumps({"box": state, "failures": work.tally.messages, "passes": work.detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
