"""Spans and per-layer metrics for the traced run.

Three sources, all read from outside the engine:

- wall-clock spans around the public calls the benchmark makes (and around
  `IngestJob.apply_batch` / `LakehouseTable.merge`, wrapped per instance);
- per-operator metrics of every finished SQL execution, read from Spark's
  SQL status store (works with the UI off) plus per-stage task time from
  the app status store;
- `LakehouseTable.history()` commit timestamps, which split the commit and
  the auto-compaction out of a merge.

Spans live in memory and are written to one JSON file when the run ends.
A tracer that is not enabled records nothing and wraps nothing.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_NUM = re.compile(r"(\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")
_STAGE_HINT = re.compile(r"\(stage [^)]*\)")


def parse_metric(text: str) -> tuple[float, float, float]:
    """A formatted SQL metric -> (total, median task, max task) in s, bytes or count.

    Handles both forms Spark prints: a bare value ("977 ms", "7,521") and the
    per-task breakdown "total (min, med, max ...)\\n<total> (<min>, <med>, <max> (stage ..))".
    """
    body = _STAGE_HINT.sub("", text.split("\n")[-1])
    vals = [float(n.replace(",", "")) * _UNITS.get(u, 1.0) for n, u in _NUM.findall(body)]
    if not vals:
        return 0.0, 0.0, 0.0
    if len(vals) >= 4:
        return vals[0], vals[2], vals[3]
    return vals[0], vals[0], vals[0]


class Tracer:
    """In-memory spans. Spans opened on a thread with no open span of its own
    (the streaming query's foreachBatch thread) take the open operation span
    as their parent, so every span of one operation shares its id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False  # toggled per operation by the workload
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._op_span: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            self._ids += 1
            sid = self._ids
        s = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else sid),
            "start": time.time(), "end": None, **attrs,
        }
        if not stack and op is not None:
            self._op_span = s
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            if self._op_span is s:
                self._op_span = None
            with self._lock:
                self.spans.append(s)

    def wrap(self, obj, method: str, name: str, after=None, **attrs) -> None:
        """Shadow `obj.method` with a version that opens a span per call;
        `after(span)` runs once the span has closed."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name, **attrs) as s:
                out = inner(*a, **kw)
                if s is not None and isinstance(out, dict):
                    s["result"] = {k: v for k, v in out.items() if isinstance(v, (int, float, bool, str))}
            if s is not None and after is not None:
                after(s)
            return out

        setattr(obj, method, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


class SqlStatus:
    """Reads finished SQL executions (plan-node metrics, jobs, stage task time)."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark.sparkContext._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.next_id = 0
        self.executions: list[dict] = []

    def drain(self) -> None:
        """Collect every execution finished since the last call."""
        while True:
            opt = self.sql.execution(self.next_id)
            if not opt.isDefined():
                # an id that never reached the store: skip it if later ones exist
                if any(self.sql.execution(self.next_id + k).isDefined() for k in range(1, 8)):
                    self.next_id += 1
                    continue
                return
            e = opt.get()
            if not e.completionTime().isDefined():
                return
            self.executions.append(self._read(self.next_id, e))
            self.next_id += 1

    def _read(self, eid: int, e) -> dict:
        values = self.sql.executionMetrics(eid)
        nodes = []
        all_nodes = self.sql.planGraph(eid).allNodes()
        for k in range(all_nodes.size()):
            node = all_nodes.apply(k)
            ms = node.metrics()
            metrics = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            nodes.append((node.name().strip(), metrics))
        stage_ids = e.stages().toSeq()
        stages = []
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            attempts = self.app.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            for a in range(attempts.size()):
                d = attempts.apply(a)
                stages.append({
                    "id": sid, "status": d.status().toString(), "tasks": d.numTasks(),
                    "run_s": d.executorRunTime() / 1000.0,
                })
        return {
            "id": eid,
            "submitted": e.submissionTime() / 1000.0,
            "completed": e.completionTime().get().getTime() / 1000.0,
            "jobs": e.jobs().size(),
            "nodes": nodes,
            "stages": sorted(stages, key=lambda s: s["id"]),
        }

    def within(self, start: float, end: float) -> list[dict]:
        return [x for x in self.executions if start <= x["submitted"] <= end]


def node_total(execution: dict, node: str, metric: str) -> float:
    return sum(
        parse_metric(m[metric])[0]
        for name, m in execution["nodes"]
        if name.startswith(node) and metric in m
    )
