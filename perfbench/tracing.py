"""Spans and Spark counters for the traced run.

Spans are kept in memory (name, start, end, parent, op id, attributes)
and written as JSON when the run ends. Spark counters are read from the
public status APIs around each op, which runs under its own job group:

- job and stage ids: ``statusTracker().getJobIdsForGroup`` / ``getJobInfo``;
- per-stage times, task counts, shuffle and spill bytes:
  ``statusStore().stageData`` (works with ``spark.ui.enabled=false``);
- Catalyst phase times: ``queryExecution().tracker().phases()``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# physical operators that hand rows to a Python worker
PYTHON_EVAL_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowAggregatePython",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
)
_PYTHON_EVAL_RE = re.compile(r"\b(?:" + "|".join(PYTHON_EVAL_NODES) + r")\b")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    attrs: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out.append((s.end - s.start) - union_length(kids))
    return out


class Tracer:
    """Collects spans in memory. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sp = Span(name, time.perf_counter(), parent=parent, op_id=op_id, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=st) for s, st in zip(self.spans, selfs)]
        with open(path, "w") as fh:
            json.dump(rows, fh)


class SparkCounters:
    """Reads per-job-group counters from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str, wall_start: float, wall_end: float) -> dict:
        """Counters for every job of ``group``. ``wall_*`` are the epoch
        seconds bracketing the action, for the driver-gap computation."""
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0)
        jobs = self.group_jobs(group)
        out["jobs"] = len(jobs)
        intervals = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                for sd in self._stage_data(sid):
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1000.0
                    out["gc_s"] += sd.jvmGcTime() / 1000.0
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        clipped = [(max(a, wall_start), min(b, wall_end)) for a, b in intervals]
        busy = union_length([(a, b) for a, b in clipped if b > a])
        out["stage_busy_s"] = busy
        out["driver_gap_s"] = max(0.0, (wall_end - wall_start) - busy)
        return out

    def _stage_data(self, sid: int) -> list:
        arr = self.jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        try:
            seq = self.store.stageData(sid, False, arr, False, quantiles)
        except Exception:  # stage skipped or already trimmed from the store
            return []
        return [seq.apply(i) for i in range(seq.size())]


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning ms of ``df``'s own plan (forces
    its physical plan) and the count of Python-eval operators in it."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        ps = phases.get(phase)  # a scala Option
        out[f"{phase}_ms"] = float(ps.get().durationMs()) if ps.isDefined() else 0.0
    out["python_eval_nodes"] = len(_PYTHON_EVAL_RE.findall(plan))
    return out
