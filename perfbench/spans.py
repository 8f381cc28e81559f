"""In-memory spans, a py4j call counter and Spark event-log summaries.

The benchmark opens a span around each call it makes into an engine layer
(workload -> pass/phase -> query/micro-batch -> construct/plan/exec/sink).
Spans record wall times, a parent id and free-form counts; `self_times`
subtracts the children's time from each span. With tracing off, `span`
returns a shared no-op context, so untraced runs pay one function call.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans nest per thread; a span opened on another thread (a
    `foreachBatch` callback) hangs under the innermost span open on the
    thread that created the tracer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[int] = []
        self._local.stack = self._main

    @contextmanager
    def _span(self, name: str, attrs: dict):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            top = stack or self._main
            span = {"id": sid, "parent": top[-1] if top else None, "name": name,
                    "t0": time.time(), "t1": None, "counts": dict(attrs)}
            self.spans.append(span)
        stack.append(sid)
        try:
            yield span
        finally:
            span["t1"] = time.time()
            stack.pop()

    def span(self, name: str, /, **attrs):
        return self._span(name, attrs) if self.enabled else _NOOP

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t1"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self_times(self.spans), f, indent=1)


class _Noop:
    def __enter__(self):
        return {"counts": {}}

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


def self_times(spans: list[dict]) -> list[dict]:
    """Copy of `spans` with `dur_s` and `self_s` (duration minus the
    durations of direct children) on each closed span."""
    out = [dict(s, dur_s=(s["t1"] - s["t0"]) if s["t1"] else 0.0)
           for s in spans]
    child = {s["id"]: 0.0 for s in out}
    for s in out:
        if s["parent"] is not None:
            child[s["parent"]] += s["dur_s"]
    for s in out:
        s["self_s"] = s["dur_s"] - child[s["id"]]
    return out


class Py4jCounter:
    """Counts commands sent over the py4j gateway by wrapping the
    client's `send_command`; every Java call from Python is one command."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command


# ---------------------------------------------------------------- event log

_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def _py_row_metric_ids(plan: dict, acc: set) -> None:
    if _PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                acc.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _py_row_metric_ids(c, acc)


def read_event_log(log_dir: str) -> dict:
    """Summarize the Spark event log under `log_dir`: jobs (submit time,
    stages), per-stage task records, and the accumulator ids of Python
    nodes' output-row metrics."""
    jobs, tasks, py_ids = [], [], set()
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append({"job": e["Job ID"], "t": e["Submission Time"] / 1e3,
                                 "stages": e["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    accs = {a["Name"]: a for a in info.get("Accumulables", [])}

                    def acc(name):
                        a = accs.get(name)
                        return float(a["Update"]) if a else 0.0

                    py_rows = sum(float(a["Update"]) for a in info.get("Accumulables", [])
                                  if a.get("ID") in py_ids)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "launch": info["Launch Time"] / 1e3,
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "run": m.get("Executor Run Time", 0) / 1e3,
                        "gc": m.get("JVM GC Time", 0) / 1e3,
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "py_sent": acc("data sent to Python workers"),
                        "py_recv": acc("data returned from Python workers"),
                        "py_run": acc("time to run Python workers") / 1e3,
                        "py_rows": py_rows,
                    })
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _py_row_metric_ids(e.get("sparkPlanInfo") or {}, py_ids)
    return {"jobs": jobs, "tasks": tasks}


def spark_totals(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Totals over the jobs submitted inside any of `windows` (wall-clock
    intervals) and all their tasks."""
    def inside(t):
        return any(a <= t <= b for a, b in windows)

    jobs = [j for j in log["jobs"] if inside(j["t"])]
    stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["dur"])
    skew_max = sum(max(d) for d in by_stage.values())
    skew_med = sum(sorted(d)[len(d) // 2] for d in by_stage.values())
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_run_s": sum(t["run"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_read_mb": sum(t["sr"] for t in tasks) / mb,
        "shuffle_write_mb": sum(t["sw"] for t in tasks) / mb,
        "spill_mb": sum(t["spill"] for t in tasks) / mb,
        "task_skew": skew_max / skew_med if skew_med > 0 else 1.0,
        "py_rows": sum(t["py_rows"] for t in tasks),
        "py_sent_mb": sum(t["py_sent"] for t in tasks) / mb,
        "py_recv_mb": sum(t["py_recv"] for t in tasks) / mb,
        "py_run_s": sum(t["py_run"] for t in tasks),
    }


class ProgressLog:
    """StreamingQueryListener keeping every progress report as a dict
    (`recentProgress` keeps only the last 100)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[dict] = []
        self.listener = _Listener()
