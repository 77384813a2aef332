"""Spans around the benchmark's calls into each engine layer, and the
Spark event-log counters attributed to them.

Spans are recorded only from the benchmark's side: it wraps the public
functions and the bound methods of the objects it built, so the engine
runs unmodified. One process-wide stack gives each span its parent,
including spans opened on the streaming callback thread while the main
thread waits in ``awaitTermination``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    wraps nothing, so untraced runs time the bare calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.batch: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "batch": self.batch,
                "start": time.time(),
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(rec["id"])

    def wrap(self, name: str, fn):
        """``fn`` inside a span; a dict result is kept on the span."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, dict):
                    rec["result"] = {k: v for k, v in out.items() if isinstance(v, int)}
                return out

        return traced

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part its child spans cover."""
    out = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= duration(s)
    return out


def innermost(spans: list[dict], t: float) -> dict | None:
    """The deepest span open at wall-clock time ``t`` (seconds)."""
    best = None
    for s in spans:
        # Spark stamps events in whole milliseconds, rounded down
        if s["start"] - 0.001 <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


# -- Spark event logs ----------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


def _plan_metric_ids(info: dict, name: str, out: set[int]) -> None:
    for m in info.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, name, out)


def read_event_log(directory: str) -> tuple[list[dict], list[dict]]:
    """Parse the finished event log(s) under ``directory`` into jobs
    ``{start, counters}`` and SQL executions ``{start, files_read}``."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    file_ids: dict[int, set[int]] = {}
    accums: dict[int, dict[int, int]] = {}
    paths = glob.glob(os.path.join(directory, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"] / 1000, **dict.fromkeys(_COUNTERS, 0)}
                    jobs[jid]["jobs"] = 1
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is not None and "Submission Time" in info:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["executor_run_s"] += m["Executor Run Time"] / 1000
                    j["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    j["gc_s"] += m["JVM GC Time"] / 1000
                    j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    r = m["Shuffle Read Metrics"]
                    j["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
                    j["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = ev["executionId"]
                    if "time" in ev:
                        execs[eid] = {"start": ev["time"] / 1000}
                    _plan_metric_ids(ev["sparkPlanInfo"], "number of files read", file_ids.setdefault(eid, set()))
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    acc = accums.setdefault(ev["executionId"], {})
                    for aid, value in ev["accumUpdates"]:
                        acc[aid] = value
    for eid, e in execs.items():
        acc = accums.get(eid, {})
        e["files_read"] = sum(acc.get(a, 0) for a in file_ids.get(eid, ()))
    return list(jobs.values()), list(execs.values())


def attribute(spans: list[dict], jobs: list[dict], execs: list[dict]) -> None:
    """Add each job's counters to the innermost span open when it was
    submitted (``spark_self``), and each SQL execution's files read
    (``files_read``)."""
    for s in spans:
        s["spark_self"] = dict.fromkeys(_COUNTERS, 0)
        s["files_read"] = 0
    for j in jobs:
        s = innermost(spans, j["start"])
        if s is not None:
            for k in _COUNTERS:
                s["spark_self"][k] += j[k]
    for e in execs:
        s = innermost(spans, e["start"])
        if s is not None:
            s["files_read"] += e["files_read"]


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s["id"], []))
    return out


def spark_total(spans: list[dict]) -> dict[str, float]:
    """Summed Spark counters of ``spans``."""
    return {k: sum(s["spark_self"][k] for s in spans) for k in _COUNTERS}
