"""Spans recorded around the engine's public calls, and Spark's event log.

Spans are kept in memory by a :class:`Tracer` and written out at the
end of a run.  A span's self time is its duration minus the part of
its interval that its child spans cover.

The event log is Spark's own per-task record.  The benchmark tags every
job with a ``spark.jobGroup.id`` of the form ``<pass>|<op>|<phase>``,
so :func:`parse_event_log` can total the task metrics per group.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if not op and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def to_json(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
            }
            for i, s in enumerate(self.spans)
        ]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans), strict=True):
        totals[s.name] += t
    return dict(totals)


# ---------------------------------------------------------------------------
# Spark event log

#: SQL metrics Spark 4 attaches to ArrowEvalPython / MapInPandas nodes
PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _new_group() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0,
        "executor_cpu_ns": 0,
        "gc_ms": 0,
        "input_rows": 0,
        "input_bytes": 0,
        "scan_tasks": 0,
        "scan_tasks_nonempty": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_fetch_wait_ms": 0,
        "spill_bytes": 0,
        "python_bytes": 0,
        "python_tasks": 0,
        "python_tasks_nonempty": 0,
    }


#: plan nodes that run a Python worker per task (each task of such a
#: stage is one worker; for the COPY sink, one COPY stream)
PYTHON_NODES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF", "WindowPython")


def _stage_kind(stage_info: dict) -> tuple[bool, bool]:
    """Whether a stage scans parquet, and whether it runs Python workers."""
    scan = python = False
    for rdd in stage_info.get("RDD Info", []):
        try:
            scope = json.loads(rdd.get("Scope") or "{}")
        except ValueError:
            continue
        name = str(scope.get("name", ""))
        scan = scan or name.startswith("Scan parquet")
        python = python or any(n in name for n in PYTHON_NODES)
    return scan, python


def parse_event_log(lines) -> dict[str, dict]:
    """Task metrics totalled per ``spark.jobGroup.id``.

    ``lines`` is an iterable of the log's JSON lines.  Jobs without a
    group are totalled under ``""``.  A task counts in the group of the
    first job that listed its stage.
    """
    stage_group: dict[int, str] = {}
    stage_kind: dict[int, tuple[bool, bool]] = {}
    groups: dict[str, dict] = defaultdict(_new_group)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            groups[gid]["jobs"] += 1
            for info in ev.get("Stage Infos", []):
                sid = info["Stage ID"]
                stage_group.setdefault(sid, gid)
                stage_kind[sid] = _stage_kind(info)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = groups[stage_group.get(sid, "")]
            _add_task(g, ev, *stage_kind.get(sid, (False, False)))
    return dict(groups)


def _add_task(g: dict, ev: dict, in_scan_stage: bool, in_python_stage: bool) -> None:
    m = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    g["executor_run_ms"] += m.get("Executor Run Time", 0)
    g["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
    g["gc_ms"] += m.get("JVM GC Time", 0)
    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    rows = inp.get("Records Read", 0)
    g["input_rows"] += rows
    g["input_bytes"] += inp.get("Bytes Read", 0)
    if in_scan_stage:
        g["scan_tasks"] += 1
        g["scan_tasks_nonempty"] += rows > 0
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["shuffle_fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sent = 0
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") in PYTHON_BYTE_METRICS:
            n = int(acc.get("Update", 0))
            g["python_bytes"] += n
            if acc["Name"] == PYTHON_BYTE_METRICS[0]:
                sent += n
    # Spark starts no worker for an empty partition, so such a task
    # reports no Python metrics; it still counts as scheduled
    if in_python_stage:
        g["python_tasks"] += 1
        g["python_tasks_nonempty"] += sent > 0


def total(groups: dict[str, dict], keep) -> dict:
    """Sum of the groups whose id satisfies ``keep``."""
    out = _new_group()
    for gid, g in groups.items():
        if keep(gid):
            for k, v in g.items():
                out[k] += v
    return out
