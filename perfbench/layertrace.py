"""Tracing for the benchmark's traced runs.

Two sources, both read from the benchmark's own files:

* **Spans** around the calls into each layer's public functions. The
  functions are wrapped by replacing the module attribute, so calls the
  program makes between its own modules are caught too. Spans are kept
  in memory (name, start, end, parent) and written out when the run ends.
* **Spark's status stores**, which every session keeps even with the UI
  off: per-operator SQL metrics (Python worker start/init/run time,
  bytes to and from Python, rows) from the SQL store, and per-stage task
  metrics (run time, GC, shuffle bytes, spill) from the core store.
  A SQL execution is attributed to a layer by the span that was open
  when it was submitted.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import time
from contextlib import contextmanager

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the store formats it → seconds, MB or a count.
    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value after the newline."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """In-memory span recorder; a disabled tracer wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.captured: dict[str, list] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str, capture: bool = False,
             before=None) -> None:
        """Replace ``module.attr`` by a version that records a span named
        ``name``; ``capture`` keeps each result for a later probe and
        ``before(args, kwargs)`` may adjust the call's arguments."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before is not None:
                args, kwargs = before(args, kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if capture:
                self.captured.setdefault(name, []).append(out)
            return out

        self._restore.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._restore):
            setattr(module, attr, fn)
        self._restore.clear()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def window(self, name: str) -> tuple[float, float] | None:
        hits = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        if not hits:
            return None
        return min(s["start"] for s in hits), max(s["end"] for s in hits)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def sql_executions(spark) -> list[dict]:
    """Every SQL execution with its operators' metrics parsed:
    ``{"id", "submitted" (epoch s), "nodes": [(name, {metric: value})]}``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(store.executionsList()):
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        nodes = []
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append((node.name(), metrics))
        out.append({"id": eid, "submitted": ex.submissionTime() / 1000.0, "nodes": nodes})
    return out


def _scopes(cluster) -> set[str]:
    names = {cluster.name()}
    for child in _seq(cluster.childClusters()):
        names |= _scopes(child)
    return names


def stages(spark) -> list[dict]:
    """Completed stages with task metrics, operator scopes and the run
    times of their tasks."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = []
    for st in _seq(store.stageList(empty, False, False, quantiles, empty)):
        if st.status().toString() != "COMPLETE":
            continue
        sid, att = st.stageId(), st.attemptId()
        tasks = []
        for t in _seq(store.taskList(sid, att, st.numTasks())):
            m = t.taskMetrics()
            if m.isDefined():
                tasks.append(m.get().executorRunTime() / 1000.0)
        out.append({
            "id": sid,
            "run_s": st.executorRunTime() / 1000.0,
            "gc_s": st.jvmGcTime() / 1000.0,
            "shuffle_mb": st.shuffleWriteBytes() / 1e6,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
            "scopes": _scopes(store.operationGraphForStage(sid).rootCluster()),
            "tasks": tasks,
        })
    return out


def jobs_between(spark, start: float, end: float) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    n = 0
    for job in _seq(store.jobsList(None)):
        sub = job.submissionTime()
        if sub.isDefined() and start <= sub.get().getTime() / 1000.0 <= end:
            n += 1
    return n


def node_sum(execs: list[dict], node: str, metric: str, keep=lambda ex: True) -> float:
    """Sum of ``metric`` over operators whose name starts with ``node``."""
    return sum(m.get(metric, 0.0) for ex in execs if keep(ex)
               for name, m in ex["nodes"] if name.startswith(node))


def metric_sum(execs: list[dict], metric: str) -> float:
    return sum(m.get(metric, 0.0) for ex in execs for _, m in ex["nodes"])


def task_skew(stage_list: list[dict], scope: str) -> float:
    """Median over the stages that run operator ``scope`` of the max task
    run time over the median one."""
    skews = []
    for st in stage_list:
        if scope in st["scopes"] and st["tasks"]:
            med = statistics.median(st["tasks"])
            if med > 0:
                skews.append(max(st["tasks"]) / med)
    return statistics.median(skews) if skews else 0.0
