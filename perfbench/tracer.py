"""Outside-in tracing for the traced benchmark run.

Everything here observes ``htg_spark`` from the caller's side:

- ``Tracer.span(name)`` records one span per call into a layer (name,
  start, end, parent) in memory; ``dump`` writes them when the run ends.
- ``Tracer.jobs(group)`` tags the Spark jobs a block launches with a job
  group and counts them, their stages and their tasks through the
  ``statusTracker``.
- ``plan_metrics(df)`` walks the executed plan of a DataFrame that has been
  collected, through ``AdaptiveSparkPlanExec.finalPhysicalPlan()`` and
  each query stage's ``plan()``, and sums the SQL metrics of the nodes the
  benchmark reports.

A disabled tracer records nothing and sets no job group, so untraced runs
pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spark = None  # set once the session exists; needed by jobs()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._n_groups = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def jobs(self, label: str):
        """Count the Spark jobs launched inside the block; yields a dict that
        holds ``jobs``, ``stages`` and ``tasks`` once the block exits."""
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        if not self.enabled:
            yield counts
            return
        sc = self.spark.sparkContext
        self._n_groups += 1
        group = f"perfbench-{self._n_groups}-{label}"
        self._groups.append(group)
        sc.setJobGroup(group, label)
        try:
            yield counts
        finally:
            self._groups.pop()
            # jobs after an inner block belong to the enclosing block again
            outer = self._groups[-1] if self._groups else "perfbench-idle"
            sc.setJobGroup(outer, outer)
            tracker = sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                counts["jobs"] += 1
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numTasks:
                        counts["stages"] += 1
                        counts["tasks"] += st.numTasks

    def _inside(self, span: dict, ancestor: int) -> bool:
        while span["parent"] is not None:
            if span["parent"] == ancestor:
                return True
            span = self.spans[span["parent"]]
        return False

    def self_times(self, name: str, within: int | None = None) -> list[float]:
        """Self time of each span called ``name`` (only those under span
        ``within``, if given): its duration minus the part of it its child
        spans cover."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if within is not None and not self._inside(s, within):
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"] and c["end"] is not None)
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str, **extra) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [dict(s, start=s["start"] - t0, end=(s["end"] or t0) - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


# SQL metrics summed per reported layer: (node-name prefix, metric name) ->
# benchmark key. Sizes are bytes, "timing" metrics milliseconds and
# "nsTiming" metrics nanoseconds; all are converted to MB and seconds.
_PLAN_KEYS = {
    ("MapInArrow", "pythonDataSent"): "arrow.sent_mb",
    ("MapInArrow", "pythonDataReceived"): "arrow.recv_mb",
    ("MapInArrow", "pythonTotalTime"): "arrow.py_total_s",
    ("MapInArrow", "pythonBootTime"): "arrow.py_boot_s",
    ("MapInArrow", "pythonInitTime"): "arrow.py_init_s",
    ("FlatMapCoGroupsInArrow", "pythonDataSent"): "arrow.sent_mb",
    ("FlatMapCoGroupsInArrow", "pythonDataReceived"): "arrow.recv_mb",
    ("FlatMapCoGroupsInArrow", "pythonTotalTime"): "arrow.py_total_s",
    ("FlatMapCoGroupsInArrow", "pythonBootTime"): "arrow.py_boot_s",
    ("FlatMapCoGroupsInArrow", "pythonInitTime"): "arrow.py_init_s",
    ("Exchange", "shuffleBytesWritten"): "shuffle.write_mb",
    ("Exchange", "shuffleWriteTime"): "shuffle.write_s",
    ("Exchange", "shuffleRecordsWritten"): "shuffle.records",
    ("Exchange", "numPartitions"): "shuffle.partitions",
    ("Sort", "peakMemory"): "sort.peak_mb",
    ("WholeStageCodegen", "pipelineTime"): "codegen.pipeline_s",
    ("Scan parquet", "scanTime"): "scan.time_s",
    ("Scan parquet", "filesSize"): "scan.mb",
}
PLAN_METRICS = sorted(set(_PLAN_KEYS.values()))


def _scale(metric_type: str, value: int) -> float:
    if metric_type == "size":
        return value / 2**20
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return float(value)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _walk(node, seen: set):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk(node.finalPhysicalPlan(), seen)
        return
    if name.endswith("QueryStageExec"):
        yield from _walk(node.plan(), seen)
        return
    ident = node.hashCode(), node.id()
    if ident in seen:
        return
    seen.add(ident)
    yield node
    for child in _seq(node.children()):
        yield from _walk(child, seen)


def plan_metrics(df) -> dict[str, float]:
    """Sum the reported SQL metrics over the executed plan of ``df``; call
    it after ``df`` has been collected."""
    out = {k: 0.0 for k in PLAN_METRICS}
    for node in _walk(df._jdf.queryExecution().executedPlan(), set()):
        node_name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            for (prefix, metric), key in _PLAN_KEYS.items():
                if metric == kv._1() and node_name.startswith(prefix):
                    m = kv._2()
                    out[key] += _scale(m.metricType(), m.value())
    return out
