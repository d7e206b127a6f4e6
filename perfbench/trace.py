"""In-memory span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: each layer's
public functions are wrapped at run time, no engine file changes.

- A span has a name, start, end, parent span and operation id. Self
  time is its duration minus the time its child spans cover.
- ``ClientServerConnection.send_command`` is wrapped to count py4j
  round-trips against the innermost open span.
- Each operation runs under its own Spark job group; jobs come from the
  status tracker, and task, shuffle, input and GC counters from diffs of
  the status store's executor summaries.

Operation records (one JSON object per traced operation) are written
out when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

from perfbench.common import PACKAGE

#: Executor-summary counters diffed around each traced operation.
_EXEC_FIELDS = {
    "tasks": "totalTasks",
    "task_time_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.records: list[dict] = []
        self.counters: dict[str, float] = {}
        self.op_uid: str | None = None
        self._n = 0
        self._undo: list = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        """Record a span while an operation is traced; a no-op otherwise.
        ``job_group`` runs the span's Spark jobs under ``<op>/<group>``."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "op": self.op_uid,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.perf_counter(), "end": None, "py4j": 0,
        })
        self.stack.append(idx)
        if job_group:
            self._set_group(f"{self.op_uid}/{job_group}")
        try:
            yield
        finally:
            if job_group:
                self._set_group(self.op_uid)
            self.spans[idx]["end"] = time.perf_counter()
            self.stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value

    def wrap(self, fn, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(tracer, out)
            return out

        return traced

    def patch_function(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` everywhere the engine bound it by name
        (``from ... import attr`` copies the reference into each module)."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapped)
                    self._undo.append((mod, key, orig))

    def patch_method(self, cls, attr: str, name: str, on_result=None) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(orig, name, on_result))
        self._undo.append((cls, attr, orig))

    def count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.__dict__["send_command"]

            def send_command(conn, command, *args, _orig=orig, **kwargs):
                if tracer.enabled and tracer.stack:
                    tracer.spans[tracer.stack[-1]]["py4j"] += 1
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = send_command
            self._undo.append((cls, "send_command", orig))

    def unpatch(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    # -- operations ---------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        was, self.enabled = self.enabled, False  # not an engine round-trip
        try:
            self.sc.setJobGroup(group, group or "")
        finally:
            self.enabled = was

    def _executor_totals(self) -> dict[str, int]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        summaries = jsc.statusStore().executorList(False)
        out = dict.fromkeys(_EXEC_FIELDS, 0)
        for i in range(summaries.size()):
            e = summaries.apply(i)
            for key, getter in _EXEC_FIELDS.items():
                out[key] += int(getattr(e, getter)())
        return out

    def _jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def operation(self, kind: str):
        """Trace one operation under a root span ``op``: its spans, py4j
        calls, jobs and executor counters. The root span's self time is
        the operation's time no named layer claims; the bookkeeping here
        stays outside it."""
        self._n += 1
        self.op_uid = f"{kind}#{self._n}"
        self._set_group(self.op_uid)
        before = self._executor_totals()
        first_span = len(self.spans)
        self.counters = {}
        self.enabled = True
        try:
            with self.span("op"):
                yield
        finally:
            self.enabled = False
            after = self._executor_totals()
            spark = {k: after[k] - before[k] for k in _EXEC_FIELDS}
            spark["jobs_build"] = self._jobs(f"{self.op_uid}/build")
            spark["jobs"] = spark["jobs_build"] + self._jobs(self.op_uid)
            self._set_group(None)
            self.records.append(self._record(kind, first_span, spark))

    def _record(self, kind: str, first: int, spark: dict) -> dict:
        spans = self.spans[first:]
        child_time = [0.0] * len(spans)
        for s in spans:
            if s["parent"] is not None and s["parent"] >= first:
                child_time[s["parent"] - first] += s["end"] - s["start"]
        layers: dict[str, dict] = {}
        inclusive_py4j = [s["py4j"] for s in spans]
        for i in range(len(spans) - 1, -1, -1):  # children follow parents
            p = spans[i]["parent"]
            if p is not None and p >= first:
                inclusive_py4j[p - first] += inclusive_py4j[i]
        for i, s in enumerate(spans):
            agg = layers.setdefault(s["name"], {"self_s": 0.0, "total_s": 0.0, "calls": 0, "py4j": 0, "py4j_incl": 0})
            agg["self_s"] += (s["end"] - s["start"]) - child_time[i]
            agg["total_s"] += s["end"] - s["start"]
            agg["calls"] += 1
            agg["py4j"] += s["py4j"]
            agg["py4j_incl"] += inclusive_py4j[i]
        root = spans[0]
        return {
            "workload": self.workload, "op": kind, "uid": self.op_uid,
            "wall_s": root["end"] - root["start"],
            "layers": layers, "spark": spark, "counters": dict(self.counters),
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r, sort_keys=True) + "\n")


def attributed_share(records: list[dict]) -> float:
    """Share of the traced operations' wall time that named layers'
    spans account for: their self times summed, over the root spans'
    durations (the root's own self time is what nothing claims)."""
    wall = sum(r["wall_s"] for r in records)
    named = sum(v["self_s"] for r in records for k, v in r["layers"].items() if k != "op")
    return named / wall if wall else 0.0
