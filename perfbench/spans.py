"""Tracing for the ``--trace 1`` run, from outside the package.

Spans are kept in memory (name, layer, start, end, parent span, tag)
and are opened around the package's public functions at each layer
boundary: either at the benchmark's own call site, or by replacing the
function at the name its caller resolves (``Tracer.wrap``). Every span
marks the Spark jobs it launches with the thread-local property
``perfbench.span``; streaming jobs carry Spark's own
``sql.streaming.queryId`` / ``streaming.sql.batchId`` properties. Spark
counters come from the event log (uncompressed, non-rolling), parsed
with ``json``; streaming phases from a ``StreamingQueryListener``.

None of this runs, and no package attribute is replaced, in an
untraced run.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self.progress: list[dict] = []
        self._listener = None

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, tag=None):
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "tag": tag, "start": time.time(), "end": None}
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        orig = getattr(module, attr)
        label = name or attr
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(label, layer):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- streaming progress -------------------------------------------------
    def listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.unwrap_all()
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:
                pass
            self._listener = None

    # -- span arithmetic -----------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_ms(self, spans: list[dict]) -> float:
        """Total self time: each span minus the union of its children."""
        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        total = 0.0
        for s in spans:
            dur = s["end"] - s["start"]
            covered = union_len(children.get(s["id"], []), s["start"], s["end"])
            total += dur - covered
        return total * 1000.0

    def descendants(self, ids) -> set:
        ids = set(ids)
        grew = True
        while grew:
            grew = False
            for s in self.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    grew = True
        return ids


def union_len(intervals, lo: float, hi: float) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
class EventLog:
    """Jobs, stages and tasks of one application's event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        files = sorted(glob.glob(os.path.join(log_dir, "*")))
        for path in files:
            if os.path.isdir(path):
                continue
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue  # a line cut by a still-running writer
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        self.jobs[jid] = {
                            "span": props.get(SPAN_PROP),
                            "query": props.get("sql.streaming.queryId"),
                            "batch": props.get("streaming.sql.batchId"),
                            "start": ev.get("Submission Time", 0) / 1000.0,
                            "end": None,
                            "stages": list(ev.get("Stage IDs", [])),
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        j = self.jobs.get(ev["Job ID"])
                        if j is not None:
                            j["end"] = ev.get("Completion Time", 0) / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        self.stages[info["Stage ID"]] = {
                            "tasks": info.get("Number of Tasks", 0),
                            "job": stage_job.get(info["Stage ID"]),
                        }
                    elif kind == "SparkListenerTaskEnd":
                        ti = ev.get("Task Info", {})
                        tm = ev.get("Task Metrics") or {}
                        sr = tm.get("Shuffle Read Metrics", {})
                        sw = tm.get("Shuffle Write Metrics", {})
                        self.tasks.append({
                            "stage": ev.get("Stage ID"),
                            "job": stage_job.get(ev.get("Stage ID")),
                            "launch": ti.get("Launch Time", 0) / 1000.0,
                            "finish": ti.get("Finish Time", 0) / 1000.0,
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                            "result_bytes": tm.get("Result Size", 0),
                        })

    def jobs_where(self, pred) -> set:
        return {jid for jid, j in self.jobs.items() if pred(j)}

    def totals(self, job_ids: set) -> dict:
        stages = [s for s in self.stages.values() if s["job"] in job_ids]
        tasks = [t for t in self.tasks if t["job"] in job_ids]
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
            "tasks": len(tasks),
            "task_ms": sum(t["run_ms"] for t in tasks),
            "cpu_ms": sum(t["cpu_ms"] for t in tasks),
            "gc_ms": sum(t["gc_ms"] for t in tasks),
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "result_bytes": sum(t["result_bytes"] for t in tasks),
        }

    def driver_only_ms(self, spans: list[dict]) -> float:
        """Span time during which no task of the application ran."""
        intervals = [(t["launch"], t["finish"]) for t in self.tasks]
        total = 0.0
        for s in spans:
            total += (s["end"] - s["start"]) - union_len(intervals, s["start"], s["end"])
        return total * 1000.0


def span_jobs(log: EventLog, tracer: Tracer, spans: list[dict]) -> set:
    """Jobs launched under the given spans or any of their children."""
    ids = {str(i) for i in tracer.descendants(s["id"] for s in spans)}
    return log.jobs_where(lambda j: j["span"] in ids)


def wait_for_log(log_dir: str, timeout: float = 10.0) -> None:
    """Wait until the finished application's log has been renamed from
    its in-progress name (written on SparkContext.stop)."""
    end = time.time() + timeout
    while time.time() < end:
        if not glob.glob(os.path.join(log_dir, "*.inprogress")):
            return
        time.sleep(0.1)
