"""Spans recorded from the benchmark's own files, and Spark counters read
from the event log of the traced process.

A span is (id, name, parent, run id, start, end).  Spans are kept in memory
and written as JSON lines when the benchmark ends.  Every Spark action the
benchmark starts inside a span runs under the job description
``fiabench:<span id>``, so jobs, stages and tasks in the event log can be
attributed to the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

DESC_PREFIX = "fiabench:"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"{DESC_PREFIX}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{DESC_PREFIX}{self._stack[-1]}" if self._stack else None
            )

    def duration(self, name: str) -> float:
        """Summed duration of the closed spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Counters:
    """Task-level totals for one set of jobs."""

    FIELDS = (
        "jobs", "stages", "tasks", "task_failures", "run_s", "gc_s",
        "spill_bytes", "shuffle_write_bytes", "input_bytes",
        "scheduler_wait_s", "python_rows", "python_bytes",
    )

    def __init__(self):
        for f in self.FIELDS:
            setattr(self, f, 0)

    def per(self, n: int) -> "Counters":
        """These totals divided by ``n`` (per run)."""
        out = Counters()
        for f in self.FIELDS:
            setattr(out, f, getattr(self, f) / max(1, n))
        return out

    def minus(self, other: "Counters") -> "Counters":
        out = Counters()
        for f in self.FIELDS:
            setattr(out, f, getattr(self, f) - getattr(other, f))
        return out


#: SQL metric names of the Python-UDF exec nodes (ArrowEvalPython & co.)
_PY_ROWS = "number of output rows"
_PY_BYTES = "data sent to Python workers"


def _plan_python_metrics(info: dict, rows: set, sent: set) -> None:
    if any(k in info.get("nodeName", "") for k in ("Python", "Pandas", "Arrow")):
        for m in info.get("metrics", []):
            if m.get("name") == _PY_ROWS:
                rows.add(m["accumulatorId"])
            elif m.get("name") == _PY_BYTES:
                sent.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_python_metrics(child, rows, sent)


class EventLog:
    """Parsed Spark event log: per-span counters (by job description)."""

    def __init__(self, paths: list[str]):
        self.job_span: dict[int, int] = {}
        self.job_submit: dict[int, float] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_submit: dict[int, float] = {}
        self.py_rows: set[int] = set()
        self.py_sent: set[int] = set()
        self.by_span: dict[int, Counters] = defaultdict(Counters)
        self._stages_seen: set[tuple[int, int]] = set()
        self._tasks: list[tuple[int, int, dict]] = []
        tasks = []
        for line in _lines(paths):
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                self.job_submit[ev["Job ID"]] = ev.get("Submission Time", 0) / 1000.0
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if desc.startswith(DESC_PREFIX):
                    sid = int(desc[len(DESC_PREFIX):])
                    self.job_span[ev["Job ID"]] = sid
                    self.by_span[sid].jobs += 1
                for st in ev.get("Stage IDs", []):
                    self.stage_job[st] = ev["Job ID"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                self.stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_python_metrics(ev.get("sparkPlanInfo", {}), self.py_rows, self.py_sent)
        for ev in tasks:
            self._add_task(ev)

    def _add_task(self, ev: dict) -> None:
        stage = ev["Stage ID"]
        job = self.stage_job.get(stage, -1)
        sid = self.job_span.get(job)
        if sid is not None:
            self._count(self.by_span[sid], (sid, stage), ev)
        self._tasks.append((job, stage, ev))

    def window(self, start: float, end: float) -> Counters:
        """Totals over the jobs submitted between ``start`` and ``end``
        (epoch seconds), whatever span they ran under."""
        c, seen = Counters(), set()
        jobs = {j for j, t in self.job_submit.items() if start <= t <= end}
        c.jobs = len(jobs)
        for job, stage, ev in self._tasks:
            if job in jobs:
                self._count(c, ("w", stage), ev, seen)
        return c

    def _count(self, c: Counters, stage_key, ev: dict, seen: set | None = None) -> None:
        seen = self._stages_seen if seen is None else seen
        if stage_key not in seen:
            seen.add(stage_key)
            c.stages += 1
        info = ev.get("Task Info", {})
        c.tasks += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            c.task_failures += 1
        m = ev.get("Task Metrics") or {}
        c.run_s += m.get("Executor Run Time", 0) / 1000.0
        c.gc_s += m.get("JVM GC Time", 0) / 1000.0
        c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        submit = self.stage_submit.get(ev["Stage ID"]) or info.get("Launch Time", 0)
        c.scheduler_wait_s += max(0, info.get("Launch Time", 0) - submit) / 1000.0
        for acc in info.get("Accumulables", []):
            aid = acc.get("ID")
            if aid in self.py_rows:
                c.python_rows += int(acc.get("Update", 0) or 0)
            elif aid in self.py_sent:
                c.python_bytes += int(acc.get("Update", 0) or 0)

    def total(self, span_ids) -> Counters:
        out = Counters()
        for sid in span_ids:
            c = self.by_span.get(sid)
            if c is None:
                continue
            for f in Counters.FIELDS:
                setattr(out, f, getattr(out, f) + getattr(c, f))
        return out


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def find_event_log(log_dir: str) -> list[str]:
    """The event log files of the one application logged under ``log_dir``,
    in order (a single file, or the ``events_<n>_*`` parts of a rolling
    log directory)."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]
