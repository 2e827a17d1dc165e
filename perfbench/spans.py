"""Spans around the benchmark's calls into the program, plus the Spark
status-store counts of the SQL executions each span started.

Spans are recorded only from the benchmark's own files. Each span has a
name (``<layer>.<call>``), start, end, parent and the operation id it
shares with the other spans of its request. Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

#: counts summed over the jobs a span started (see SparkStatus.jobs)
JOB_COUNTS = ("tasks", "sched_delay_ms", "scan_rows", "scan_bytes", "shuffle_bytes",
              "spill_bytes")
#: counts summed over the SQL executions a span started
EXECUTION_COUNTS = ("executions", "exec_ms")


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch per
    call, so untraced operations run the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: seconds spent in span bookkeeping, per operation id
        self.cost: dict[str | None, float] = {}

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, on: bool = True):
        """A span under the innermost open span of this thread. ``op`` names
        a new operation (a root span); ``on=False`` skips recording."""
        if not (self.enabled and on):
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
        }
        stack.append(s)
        spent = time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)
                self.cost[s["op"]] = self.cost.get(s["op"], 0.0) + spent + time.perf_counter() - t1


class SparkStatus:
    """Reads Spark's SQL and application status stores (populated with the
    UI off) through the py4j bridge, once the listener bus has drained."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def executions(self) -> list[dict]:
        """Every SQL execution: job description (the operation id) and
        time window in seconds since the epoch."""
        self._bus.waitUntilEmpty()
        out = []
        for ui in self._list(self._sql.executionsList()):
            start = ui.submissionTime()
            done = ui.completionTime()
            end = done.get().getTime() if done.isDefined() else start
            out.append({"kind": "execution", "desc": ui.description(), "start": start / 1000.0,
                        "end": end / 1000.0, "executions": 1, "exec_ms": float(end - start)})
        return out

    def jobs(self) -> list[dict]:
        """Every job (SQL or not, e.g. parallel file listing), with its
        stages' task, I/O, shuffle and spill counts and scheduler delay
        (first task launch minus stage submission)."""
        self._bus.waitUntilEmpty()
        app = self._app
        out = []
        for jd in self._list(app.jobsList(None)):
            desc, sub = jd.description(), jd.submissionTime()
            job = {"kind": "job", "desc": desc.get() if desc.isDefined() else None,
                   "start": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0}
            for k in JOB_COUNTS:
                job[k] = 0
            for sid in self._list(jd.stageIds()):
                attempts = app.stageData(sid, False, getattr(app, "stageData$default$3")(), False,
                                         getattr(app, "stageData$default$5")())
                for sd in self._list(attempts):
                    job["tasks"] += sd.numCompleteTasks()
                    job["scan_rows"] += sd.inputRecords()
                    job["scan_bytes"] += sd.inputBytes()
                    job["shuffle_bytes"] += sd.shuffleWriteBytes()
                    job["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    s, f = sd.submissionTime(), sd.firstTaskLaunchedTime()
                    if s.isDefined() and f.isDefined():
                        job["sched_delay_ms"] += max(0, f.get().getTime() - s.get().getTime())
            out.append(job)
        return out


def attach_counts(spans: list[dict], executions: list[dict], jobs: list[dict]) -> None:
    """Give each span the summed counts of the SQL executions and jobs its
    operation started inside its time window (both carry the operation id
    as their job description)."""
    by_op: dict[str, list[dict]] = {}
    for ev in executions + jobs:
        by_op.setdefault(ev["desc"], []).append(ev)
    for s in spans:
        # store times are whole milliseconds
        mine = [e for e in by_op.get(s["op"], ()) if s["start"] - 0.001 <= e["start"] <= s["end"]]
        for k in EXECUTION_COUNTS + JOB_COUNTS:
            s[k] = sum(e.get(k, 0) for e in mine)
        s["jobs"] = sum(e["kind"] == "job" for e in mine)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer (the span name up to its first dot) not covered by
    the span's children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out
