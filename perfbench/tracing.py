"""Tracing for the traced benchmark run: spans around calls into the
program's layers, and Spark's own counters rolled up per span.

Spans are recorded from the benchmark's process only. ``Tracer.wrap``
replaces a public function with a timing wrapper in its defining module
and in every loaded package module that imported it by name, so calls the
program makes internally (``run_daily`` → ``run_sql_etl`` →
``truncate_and_load``) are spanned too. Each span sets the Spark job
description and a ``perfbench.span`` local property; the event log (plain
JSON, one file) then ties every job, stage and task to the span that ran
it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
PACKAGE = "data_engineering_spark"


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a bare context
    manager and nothing is wrapped, so the untraced run executes the same
    calls with no recording."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, set once the session exists
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[tuple[int, str, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _label(self, sid: int | None, name: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setJobDescription(name)
        self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        req = request if request is not None else (parent[2] if parent else None)
        stack.append((sid, name, req))
        self._label(sid, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self._label(*(parent[:2] if parent else (None, None)))
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                                   "parent": parent[0] if parent else None, "request": req})

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Time every call of ``owner.attr`` (a module function or a class
        method) as span ``name``. ``after(start, result, *args, **kwargs)``
        runs once the span has closed, to take counts."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            start = time.time()
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(start, out, *args, **kwargs)
            return out

        setattr(owner, attr, timed)
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, attr, None) is fn:
                setattr(mod, attr, timed)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    # ---------------------------------------------------------- span rollup

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"]) - _covered(kids.get(s["id"], []))
                for s in self.spans}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def mean_self_s(self, name: str) -> float:
        st = self.self_times()
        vals = [st[s["id"]] for s in self.by_name(name)]
        return statistics.fmean(vals) if vals else 0.0

    def descendants(self, root_ids: set[int]) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(root_ids), list(root_ids)
        while todo:
            for k in kids.get(todo.pop(), []):
                if k not in out:
                    out.add(k)
                    todo.append(k)
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------- event log


def event_log_confs(log_dir: str) -> list[str]:
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir={log_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from the (stopped) app's event log."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs, stages, tasks = [], {}, {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                span = (e.get("Properties") or {}).get(SPAN_PROP)
                jobs.append({"span": int(span) if span else None, "stages": e["Stage IDs"]})
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages[info["Stage ID"]] = (info.get("Submission Time", 0) / 1e3,
                                            info.get("Completion Time", 0) / 1e3)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                py_ms = sum(int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                            if a.get("Name") == "time to run Python workers")
                rd = m.get("Shuffle Read Metrics", {})
                tasks.setdefault(e["Stage ID"], []).append({
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "run": m.get("Executor Run Time", 0) / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1e3,
                    "py": py_ms / 1e3,
                    "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "sr": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_rollup(tracer: Tracer, log: dict, root_ids: set[int], n_ops: int) -> dict[str, float]:
    """Spark counters of every job run under the spans ``root_ids`` (and
    their descendants), per timed op. ``driver_s`` is the roots' wall time
    minus the time some stage of theirs was running; ``task_skew`` is the
    median over stages of max/median task time."""
    ids = tracer.descendants(root_ids)
    stage_ids = sorted({sid for j in log["jobs"] if j["span"] in ids for sid in j["stages"]
                        if sid in log["stages"]})
    n_jobs = sum(1 for j in log["jobs"] if j["span"] in ids)
    tasks = [t for sid in stage_ids for t in log["tasks"].get(sid, [])]
    wall = sum(s["end"] - s["start"] for s in tracer.spans if s["id"] in root_ids)
    busy = _covered([log["stages"][s] for s in stage_ids])
    skews = []
    for sid in stage_ids:
        durs = [t["dur"] for t in log["tasks"].get(sid, [])]
        med = statistics.median(durs) if durs else 0
        if len(durs) > 1 and med > 0:
            skews.append(max(durs) / med)
    mb = 1 / (1 << 20)
    n = max(n_ops, 1)
    tot = lambda k: sum(t[k] for t in tasks)  # noqa: E731
    return {
        "jobs": n_jobs / n,
        "stages": len(stage_ids) / n,
        "tasks": len(tasks) / n,
        "driver_s": max(wall - busy, 0.0) / n,
        "executor_run_s": tot("run") / n,
        "executor_cpu_s": tot("cpu") / n,
        "python_eval_s": tot("py") / n,
        "jvm_gc_s": tot("gc") / n,
        "shuffle_write_mb": tot("sw") * mb / n,
        "shuffle_read_mb": tot("sr") * mb / n,
        "spill_mb": tot("spill") * mb / n,
        "task_skew": statistics.median(skews) if skews else 1.0,
    }


def per_span_rollup(tracer: Tracer, log: dict) -> list[dict]:
    """One row per span with the Spark counters of the jobs it ran itself
    (not its children's), written next to the span dump."""
    own: dict[int, list[dict]] = {}
    for j in log["jobs"]:
        own.setdefault(j["span"], []).append(j)
    leaf = Tracer(enabled=True)
    rows = []
    for s in tracer.spans:
        if s["id"] in own:
            leaf.spans = [s]
            r = spark_rollup(leaf, {**log, "jobs": own[s["id"]]}, {s["id"]}, 1)
            rows.append({"id": s["id"], "name": s["name"], **r})
    return rows
