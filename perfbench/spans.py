"""In-memory spans and the Spark status probe behind the traced run.

A span is one call into a layer: ``{id, parent, layer, name, start,
dur, attrs}``. The tracer keeps every span in a list and writes them out
as JSON at the end of the run; :func:`self_times` folds them into each
layer's self time (its duration minus its children's).

:class:`Probe` reads what Spark already records, from outside the
program: job, stage and task counts and task metrics from the app status
store (one job group per traced operation), Catalyst phase times from
``QueryExecution.tracker()`` through a ``QueryExecutionListener``, the
Python-worker SQL metrics, and the resident RDD blocks.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def open(self, layer: str, name: str, parent: dict | None = None) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        span = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "dur": None,
            "attrs": {},
        }
        self.spans.append(span)
        return span

    def close(self, span: dict) -> None:
        span["dur"] = time.perf_counter() - span["start"]

    @contextmanager
    def span(self, layer: str, name: str):
        s = self.open(layer, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            self.close(s)

    def child(self, parent: dict, layer: str, name: str, dur: float) -> None:
        """Record a span measured elsewhere (e.g. a Catalyst phase total)."""
        s = self.open(layer, name, parent=parent)
        s["start"] = parent["start"]
        s["dur"] = dur

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: the summed duration of its spans minus their children's."""
    child_sum: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["dur"] is not None:
            child_sum[s["parent"]] += s["dur"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["dur"] is not None:
            out[s["layer"]] += max(s["dur"] - child_sum[s["id"]], 0.0)
    return dict(out)


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of ``[start, end]`` intervals."""
    total, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(text: str) -> str:
    """The total from a SQL metric string, which is either a bare value
    or ``total (min, med, max ...)\\n<total> (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    return text.split(" (", 1)[0].strip()


def parse_seconds(text: str) -> float:
    value, unit = _metric_total(text).split()
    return float(value.replace(",", "")) * _UNIT_S[unit]


def parse_count(text: str) -> int:
    return int(_metric_total(text).replace(",", ""))


#: plan nodes that carry Python-worker or file-commit metrics
_METERED = re.compile(r"Python|Pandas|Arrow|Insert|Write")


class _QueryListener:
    """py4j implementation of ``QueryExecutionListener``; keeps the
    analysis + optimization + planning milliseconds of each action."""

    def __init__(self) -> None:
        self.catalyst_ms: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        self.catalyst_ms.append(
            sum(
                phases.apply(p).durationMs()
                for p in ("analysis", "optimization", "planning")
                if phases.contains(p)
            )
        )

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _busy(method):
    """Add the method's wall time to the probe's ``busy_s``."""
    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return method(self, *args, **kwargs)
        finally:
            self.busy_s += time.perf_counter() - t0
    return wrapper


class Probe:
    """Layer counters for the operations run under :meth:`group`.
    ``busy_s`` is the time spent in the probe's own calls."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QueryListener()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._store = self.sc._jsc.sc().statusStore()
        self._sql_seen = -1
        self._catalyst_seen = 0
        self._n = 0
        self.busy_s = 0.0

    @contextmanager
    def active(self):
        """Listen to the actions run inside the block only, so untraced
        passes pay nothing for the probe."""
        manager = self.spark._jsparkSession.listenerManager()
        self.drain()
        self._sql_seen = self._last_execution_id()
        self._catalyst_seen = len(self.listener.catalyst_ms)
        manager.register(self.listener)
        try:
            yield self
        finally:
            self.drain()
            manager.unregister(self.listener)
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    @_busy
    def group(self, label: str) -> str:
        """Start a job group for the calling thread; returns its id."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    @_busy
    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @_busy
    def jobs(self, gid: str) -> dict[str, float]:
        """Job/stage/task counts, task metrics and the jobs' wall time
        (``wall_s``, the union of their submission-to-completion
        intervals) of one job group."""
        out = defaultdict(float)
        tracker = self.sc.statusTracker()
        intervals = []
        for job_id in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            try:
                job = self._store.job(job_id)
                start, end = job.submissionTime(), job.completionTime()
                if start.isDefined() and end.isDefined():
                    intervals.append((start.get().getTime(), end.get().getTime()))
            except Exception:  # noqa: BLE001 - job no longer retained
                pass
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage no longer retained
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["read_mb"] += st.inputBytes() / MB
                out["output_mb"] += st.outputBytes() / MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        if intervals:
            out["wall_s"] = union_ms(intervals) / 1e3
        return dict(out)

    @_busy
    def catalyst_s(self) -> float:
        """Catalyst seconds of the actions finished since the last call."""
        new = self.listener.catalyst_ms[self._catalyst_seen:]
        self._catalyst_seen += len(new)
        return sum(new) / 1e3

    @_busy
    def sql(self) -> dict[str, float]:
        """Python-worker rows/time and file-commit time of the SQL
        executions started since the last call."""
        out = defaultdict(float)
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._sql_seen:
                break
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _METERED.search(node.name()):
                    continue
                metrics = node.metrics()
                named = {}
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        named[m.name()] = v.get()
                if "time to run Python workers" in named:
                    out["python_s"] += parse_seconds(named["time to run Python workers"])
                    out["python_rows"] += parse_count(named.get("number of output rows", "0"))
                for key in ("task commit time", "job commit time"):
                    if key in named:
                        out["write_s"] += parse_seconds(named[key])
        self._sql_seen = max(self._sql_seen, self._last_execution_id())
        return dict(out)

    @_busy
    def storage(self) -> tuple[int, float]:
        """Resident RDDs and their memory + disk megabytes."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        rdds = [i for i in infos if i.numCachedPartitions() > 0]
        return len(rdds), sum(i.memSize() + i.diskSize() for i in rdds) / MB


#: stage spans reported by their inclusive duration
STAGE_METRICS = (
    "pipeline.players", "pipeline.plays_clean", "pipeline.tracking_clean",
    "pipeline.sync", "pipeline.features", "ml.train", "ml.inference",
    "pipeline.scores",
)

#: per-layer metric -> job counter, summed over every span
_JOB_METRICS = {
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.task_cpu_s": "task_cpu_s", "exec.gc_s": "gc_s",
    "shuffle.read_mb": "shuffle_read_mb", "shuffle.write_mb": "shuffle_write_mb",
    "spill.mb": "spill_mb", "sources.read_mb": "read_mb",
    "sources.write_mb": "output_mb",
}
_SQL_METRICS = {"python.rows": "python_rows", "python.s": "python_s",
                "sources.write_s": "write_s"}


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-pass means of every layer counter over the traced passes."""
    passes = max(sum(1 for s in spans if s["layer"] == "pass"), 1)
    selfs = self_times(spans)
    out = {
        "plans.build_s": selfs.get("plans", 0.0),
        "plans.eager_jobs": sum(
            s["attrs"].get("jobs", {}).get("jobs", 0.0)
            for s in spans if s["layer"] == "plans"
        ),
        "catalyst.s": selfs.get("catalyst", 0.0),
        "exec.s": selfs.get("exec", 0.0),
        "operators.quality_s": selfs.get("operators.quality", 0.0),
    }
    for metric, key in _JOB_METRICS.items():
        out[metric] = sum(s["attrs"].get("jobs", {}).get(key, 0.0) for s in spans)
    for metric, key in _SQL_METRICS.items():
        out[metric] = sum(s["attrs"].get("sql", {}).get(key, 0.0) for s in spans)
    for stage in STAGE_METRICS:
        out[f"{stage}_s"] = sum(s["dur"] for s in spans if s["layer"] == stage)
    out = {k: v / passes for k, v in out.items()}
    storage = [s["attrs"]["storage"] for s in spans if "storage" in s["attrs"]]
    out["storage.resident_rdds"] = float(max((n for n, _ in storage), default=0))
    out["storage.resident_mb"] = max((mb for _, mb in storage), default=0.0)
    return out
