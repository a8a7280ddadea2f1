"""Benchmark-side spans and the Spark event-log reader.

Spans are recorded only in the traced run, in memory, around the public
calls the benchmark makes into each layer.  Jobs launched on the client
thread carry the span's id as their Spark job group; jobs launched from
threads that do not inherit the group (``build_index``'s write pool) are
attributed to the innermost span whose wall interval contains their
submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[int] = None) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.time() * 1000.0,
                  parent=parent.sid if parent else None,
                  op=op if op is not None else (parent.op if parent else None))
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def record(self, name: str, start_ms: float, end_ms: float) -> None:
        """Add a finished top-level span that launched no jobs."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start_ms, end_ms))

    def records(self) -> List[dict]:
        return [{"id": sp.sid, "name": sp.name, "start_ms": sp.start_ms, "end_ms": sp.end_ms,
                 "parent": sp.parent, "op": sp.op} for sp in self.spans]


@dataclass
class Job:
    jid: int
    submit_ms: float
    stages: List[int]
    group: Optional[str]
    sql_id: Optional[int]
    end_ms: float = 0.0
    span: Optional[int] = None


@dataclass
class Task:
    stage: int
    launch_ms: float
    finish_ms: float
    run_ms: float
    shuffle_write: int
    spill: int
    input_bytes: int
    output_bytes: int


_WRITE_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput:[^\n]*\nArguments: (?:file:)?([^,\s]+)")


class EventLog:
    """The parts of one uncompressed, non-rolling Spark event log the
    benchmark reads: jobs, tasks, SQL executions' write targets and the
    operator scopes of each stage."""

    def __init__(self, path: str):
        self.jobs: Dict[int, Job] = {}
        self.tasks: List[Task] = []
        self.sql_write_path: Dict[int, str] = {}
        self.stage_scopes: Dict[int, set] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))
        self.stage_job: Dict[int, int] = {}
        for jid in sorted(self.jobs):
            for st in self.jobs[jid].stages:
                self.stage_job.setdefault(st, jid)

    @classmethod
    def from_dir(cls, directory: str) -> "EventLog":
        files = [f for f in glob.glob(os.path.join(directory, "*"))
                 if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {files}")
        return cls(files[0])

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], float(e["Submission Time"]), list(e["Stage IDs"]),
                props.get("spark.jobGroup.id"),
                int(sql) if sql not in (None, "") else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = float(e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(Task(
                e["Stage ID"], float(info["Launch Time"]), float(info["Finish Time"]),
                float(m.get("Executor Run Time", 0)),
                int(sw.get("Shuffle Bytes Written", 0)),
                int(m.get("Disk Bytes Spilled", 0)) + int(m.get("Memory Bytes Spilled", 0)),
                int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                int((m.get("Output Metrics") or {}).get("Bytes Written", 0)),
            ))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            names = set()
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    try:
                        names.add(json.loads(scope).get("name", ""))
                    except ValueError:
                        pass
                names.add(rdd.get("Name", ""))
            self.stage_scopes.setdefault(info["Stage ID"], set()).update(names)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            m = _WRITE_PATH.search(e.get("physicalPlanDescription", ""))
            if m:
                self.sql_write_path[e["executionId"]] = m.group(1)

    def attribute(self, spans: List[Span]) -> int:
        """Assign each job to a span; returns the count left unattributed."""
        by_id = {sp.sid: sp for sp in spans}
        unattributed = 0
        for job in self.jobs.values():
            sid = None
            if job.group and job.group.startswith(GROUP_PREFIX):
                sid = int(job.group[len(GROUP_PREFIX):])
            else:
                inside = [sp for sp in spans
                          if sp.start_ms <= job.submit_ms <= sp.end_ms]
                if inside:
                    sid = max(inside, key=lambda sp: sp.start_ms).sid
            if sid is None or sid not in by_id:
                unattributed += 1
            job.span = sid
        return unattributed

    def tasks_of(self, job_ids) -> List[Task]:
        wanted = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t.stage) in wanted]

    def layout_of(self, job: Job) -> Optional[str]:
        path = self.sql_write_path.get(job.sql_id) if job.sql_id is not None else None
        return os.path.basename(path.rstrip("/")) if path else None


def union_ms(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span: Span, spans: List[Span]) -> float:
    """Span duration minus the part of it covered by its child spans."""
    kids = [(c.start_ms, c.end_ms) for c in spans if c.parent == span.sid]
    return span.dur_ms - union_ms(kids)
