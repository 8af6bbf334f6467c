"""Tracing for the traced run (``--trace 1``) only.

- :class:`Tracer` keeps spans (id, name, start, end, parent) in memory and
  writes them out once, at the end of the run. It can wrap a public method
  or function in a span; wrappers are removed again by :meth:`unwrap_all`.
- :class:`JobCounter` tags the Spark jobs of one operation with a job group
  and reads job, stage and task counts back from ``statusTracker()``.
- :class:`PlanListener` is a ``QueryExecutionListener`` implemented over
  py4j. For the action it was armed for, it records the Catalyst phase
  times of the executed ``QueryExecution`` and the executed-plan SQL metrics
  (``plans.metrics.executed_summary``): the noop writer's own
  ``QueryExecution`` is not reachable from the DataFrame.

Nothing here is imported or installed by an untraced run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import types
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class method or module function) by a
        wrapper that runs it inside a span called ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._wrapped.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._wrapped:
            owner, attr, original = self._wrapped.pop()
            setattr(owner, attr, original)

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict, name: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["parent"] == rec["id"] and (name is None or s["name"] == name)
        ]

    def descendants(self, rec: dict, name: str) -> list[dict]:
        out, frontier = [], [rec["id"]]
        while frontier:
            pid = frontier.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    frontier.append(s["id"])
                    if s["name"] == name:
                        out.append(s)
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover."""
        return self.duration(rec) - sum(self.duration(c) for c in self.children(rec))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class JobCounter:
    """Job/stage/task counts of the Spark jobs run inside :meth:`group`."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store (and any query-execution listener) is up to date."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{self._n}-{label}"
        self._n += 1
        self.sc.setJobGroup(gid, label)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.drain()
        out.update(self.counts(gid))

    def counts(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(gid)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is None:
                continue
            if info.numCompletedTasks + info.numFailedTasks > 0:
                stages += 1  # skipped (reused) stages run no task
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "tasks_failed": failed}


def _phases_ms(qe) -> dict[str, int]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out


def analysis_ms(df) -> int:
    """The DataFrame's own analysis phase (it runs when the frame is built)."""
    return _phases_ms(df._jdf.queryExecution()).get("analysis", 0)


class PlanListener:
    """QueryExecutionListener over py4j. Between :meth:`arm` and :meth:`take`
    it records, for every successful action, its Catalyst phases and its
    executed-plan metrics. Registered from construction until :meth:`close`,
    so untraced passes send it no callbacks."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._lock = threading.Lock()
        self._events: list[dict] = []
        self._armed = False
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def close(self) -> None:
        self._manager.unregister(self)

    def arm(self) -> None:
        with self._lock:
            self._events = []
            self._armed = True

    def take(self) -> list[dict]:
        with self._lock:
            events, self._events, self._armed = self._events, [], False
        return events

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        from datalakejson_spark.plans.metrics import executed_summary

        with self._lock:
            if not self._armed:
                return
        # executed_summary reads ``df._jdf.queryExecution()``; hand it this one
        shim = types.SimpleNamespace(_jdf=types.SimpleNamespace(queryExecution=lambda: qe))
        ev = {
            "func": func_name,
            "phases": _phases_ms(qe),
            "duration_s": duration_ns / 1e9,
            "summary": executed_summary(shim),
        }
        with self._lock:
            self._events.append(ev)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java API
        with self._lock:
            if self._armed:
                self._events.append({"func": func_name, "failed": str(exception)})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
