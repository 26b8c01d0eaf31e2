"""Stdlib-only reader for Spark's JSON event log, with span attribution.

Reads the rolling log (``spark.eventLog.rolling.enabled=true``): a
directory ``eventlog_v2_<app-id>`` holding ``events_<n>_<app-id>`` parts
plus an ``appstatus_*`` marker, read after the application has stopped.
Compressed logs are refused because the ``zstandard`` module is not a
dependency (run Spark with ``spark.eventLog.compress=false``).

Jobs, stages and SQL executions are attributed to spans by time: each
event goes to the innermost span whose interval contains its submission
time. Job groups would be more precise, but threads a call starts (such as
``GridSearch``'s ``n_jobs`` pool) do not inherit the caller's job group.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional, Sequence

_COMPRESSED = (".zstd", ".lz4", ".snappy", ".lzf", ".zst")
_PART = re.compile(r"^events_(\d+)_")
# Physical-plan nodes that run Python workers (pandas/Arrow UDFs).
_PYTHON_NODES = re.compile(
    r"InPandas|EvalPython|InArrow|PythonUDTF"
)
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def log_files(path: str) -> List[str]:
    """The ``events_<n>_*`` parts of the rolling log directory ``path``,
    in write order."""
    parts = []
    for name in os.listdir(path):
        m = _PART.match(name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    if not parts:
        raise ValueError(f"{path}: no events_<n>_* parts")
    files = [p for _, p in sorted(parts)]
    for f in files:
        if f.endswith(_COMPRESSED):
            raise ValueError(
                f"{f}: compressed event log; run Spark with "
                "spark.eventLog.compress=false"
            )
    return files


def read_events(path: str) -> Iterator[dict]:
    """Every event in the rolling log at ``path`` as a dict."""
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Task:
    stage: int
    attempt: int
    launch_ms: int
    failed: bool
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    python_bytes: int


@dataclass
class Stage:
    stage: int
    attempt: int
    submit_ms: int
    end_ms: int
    tasks: List[Task] = field(default_factory=list)


@dataclass
class Log:
    job_submits: List[int]
    stages: List[Stage]
    # (start time, plan runs Python workers) per SQL execution
    sql_starts: List[tuple]


def _acc(info: dict, name: str) -> int:
    for a in info.get("Accumulables", ()):
        if a.get("Name") == name:
            return int(a.get("Update") or 0)
    return 0


def parse(events: Iterator[dict]) -> Log:
    """Reduce raw events to the jobs, stages, tasks and SQL executions
    the per-span metrics need."""
    job_submits: List[int] = []
    stages: Dict[tuple, Stage] = {}
    tasks: List[Task] = []
    sql_starts: List[tuple] = []
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            job_submits.append(int(e["Submission Time"]))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" not in si:
                continue  # skipped stage: never ran
            key = (si["Stage ID"], si["Stage Attempt ID"])
            stages[key] = Stage(
                si["Stage ID"], si["Stage Attempt ID"],
                int(si["Submission Time"]),
                int(si.get("Completion Time", si["Submission Time"])),
            )
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            tm = e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            reason = (e.get("Task End Reason") or {}).get("Reason")
            tasks.append(Task(
                stage=e["Stage ID"],
                attempt=e["Stage Attempt ID"],
                launch_ms=int(info["Launch Time"]),
                failed=bool(info.get("Failed")) or reason != "Success",
                cpu_ns=int(tm.get("Executor CPU Time", 0)),
                gc_ms=int(tm.get("JVM GC Time", 0)),
                shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                spill_bytes=int(tm.get("Disk Bytes Spilled", 0)),
                python_bytes=_acc(info, _PY_SENT) + _acc(info, _PY_RETURNED),
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            sql_starts.append(
                (int(e["time"]), bool(_PYTHON_NODES.search(plan)))
            )
    for t in tasks:
        st = stages.get((t.stage, t.attempt))
        if st is not None:
            st.tasks.append(t)
    return Log(job_submits, sorted(stages.values(), key=lambda s: s.submit_ms),
               sql_starts)


@dataclass
class Span:
    """One timed call. Times are epoch milliseconds, as in the log."""

    name: str
    start_ms: float
    end_ms: float
    parent: Optional[int] = None  # index of the enclosing span


def _covered(intervals: Sequence[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _owner(spans: Sequence[Span], t: float) -> Optional[int]:
    """Index of the innermost span containing time ``t``: nested spans
    start later than their parents, so the latest start wins."""
    best = None
    for i, s in enumerate(spans):
        if s.start_ms <= t <= s.end_ms and (
            best is None or s.start_ms >= spans[best].start_ms
        ):
            best = i
    return best


METRICS = (
    "self_ms", "driver_ms", "jobs", "tasks", "task_wait_ms", "exec_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)


def span_metrics(spans: Sequence[Span], log: Log) -> List[dict]:
    """Per-span-instance layer metrics, in the order of ``spans``.

    Each dict holds the ``METRICS`` plus ``python_bytes`` and
    ``runs_python`` (any SQL execution started in the span plans a
    Python-worker node).
    """
    out = [
        dict.fromkeys(METRICS, 0) | {"python_bytes": 0, "runs_python": False}
        for _ in spans
    ]
    stage_iv: List[List[tuple]] = [[] for _ in spans]
    for t in log.job_submits:
        i = _owner(spans, t)
        if i is not None:
            out[i]["jobs"] += 1
    for st in log.stages:
        i = _owner(spans, st.submit_ms)
        if i is None:
            continue
        m = out[i]
        stage_iv[i].append((st.submit_ms, st.end_ms))
        for t in st.tasks:
            m["tasks"] += 1
            m["task_wait_ms"] += max(0, t.launch_ms - st.submit_ms)
            m["exec_cpu_ms"] += t.cpu_ns / 1e6
            m["gc_ms"] += t.gc_ms
            m["shuffle_write_bytes"] += t.shuffle_write_bytes
            m["spill_bytes"] += t.spill_bytes
            m["failed_tasks"] += int(t.failed)
            m["python_bytes"] += t.python_bytes
    for t, runs_python in log.sql_starts:
        i = _owner(spans, t)
        if i is not None and runs_python:
            out[i]["runs_python"] = True
    children: List[List[tuple]] = [[] for _ in spans]
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start_ms, s.end_ms))
    for i, s in enumerate(spans):
        dur = s.end_ms - s.start_ms
        out[i]["self_ms"] = dur - _covered(children[i], s.start_ms, s.end_ms)
        out[i]["driver_ms"] = dur - _covered(
            stage_iv[i], s.start_ms, s.end_ms
        )
    return out
