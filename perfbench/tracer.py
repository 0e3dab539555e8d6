"""Layer spans recorded from outside the library.

The benchmark wraps every call into a layer's public function in
:meth:`Tracer.call`, which gives each phase of the call its own Spark job
group:

- ``construct``: the public function returning its DataFrame (for an
  eager function such as a writer, the whole call);
- ``plan``: forcing ``queryExecution().executedPlan()``;
- ``execute``: the collect or noop write.

Job counts come from ``statusTracker`` per job group, read right after
each phase once the listener bus has drained. Jobs the library submits
from its own worker threads carry no job group; the phase that was
running when they appeared claims them. Bytes, rows, files and
Python-boundary volumes come from the Spark event log, which is enabled
only in traced runs and parsed once, after the session stops. Spans stay
in memory until the run ends.

With ``enabled=False`` the tracer only times the phases: no job groups,
no status queries, no event log.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PHASES = ("construct", "plan", "execute")

# per-phase volume counters read from the event log
VOLUMES = (
    "task_s",
    "input_task_s",  # task time of tasks that read input files (the scan stages)
    "shuffle_bytes",
    "python_bytes",
    "files_read",
    "rows_read",
    "files_written",
    "bytes_written",
    "failed_tasks",
)


@dataclass
class Span:
    layer: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span
    phases: dict[str, float] = field(default_factory=dict)  # phase -> seconds
    groups: dict[str, str] = field(default_factory=dict)  # phase -> job group
    jobs: dict[str, int] = field(default_factory=dict)  # phase -> job count
    ungrouped: dict[str, list[int]] = field(default_factory=dict)  # phase -> job ids
    cpu: float = 0.0  # CPU seconds the call used (see ``workloads.Ctx.cpu``)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, layer: str, op: str = ""):
        """A span with no Spark phases of its own (a request, a batch)."""
        idx = self._open(layer, op)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)

    @contextmanager
    def call(self, layer: str, op: str = ""):
        """A call into one layer; yields a ``phase(name)`` context factory."""
        idx = self._open(layer, op)
        s = self.spans[idx]

        @contextmanager
        def phase(name: str):
            assert name in PHASES, name
            group = None
            sc = self.spark.sparkContext
            if self.enabled:
                self._seq += 1
                group = f"pb{self._seq}:{layer}:{name}"
                before = self._ungrouped_jobs()
                sc.setJobGroup(group, f"{layer} {op} {name}".strip())
            t0 = time.perf_counter()
            try:
                yield
            finally:
                s.phases[name] = s.phases.get(name, 0.0) + time.perf_counter() - t0
                if group is not None:
                    new = sorted(self._ungrouped_jobs() - before)
                    s.groups[name] = group
                    s.ungrouped[name] = new
                    s.jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group)) + len(new)
                    sc.setJobGroup("pb:untraced", "benchmark")

        try:
            yield phase
        finally:
            self._close(idx)

    def _ungrouped_jobs(self) -> set[int]:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def job_claims(self) -> dict[int, str]:
        """Ungrouped job id -> the job group of the phase that claimed it."""
        return {j: s.groups[ph] for s in self.spans for ph, ids in s.ungrouped.items() for j in ids}

    def _open(self, layer: str, op: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, op, time.perf_counter(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def mark(self) -> int:
        """Position to slice the spans recorded after this point."""
        return len(self.spans)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.dur
    return {i: s.dur - child_time[i] for i, s in enumerate(spans)}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _plan_accums(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _plan_accums(c, out)


def group_volumes(log_dir: str, claims: dict[int, str]) -> dict[str, dict[str, float]]:
    """Job group -> volume counters, from every event log in ``log_dir``;
    ``claims`` assigns ungrouped jobs to a group."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                events.extend(json.loads(line) for line in f if line.strip())

    accum: dict[int, tuple[str, str]] = {}
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_accums(e["sparkPlanInfo"], accum)
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or claims.get(e["Job ID"])
            if g:
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                if props.get("spark.sql.execution.id") is not None:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), g)

    vol: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(VOLUMES, 0))

    def is_scan(acc_id) -> bool:
        return accum.get(acc_id, ("", ""))[0].startswith("Scan")

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            v = vol[g]
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                v["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            v["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            if (m.get("Input Metrics") or {}).get("Bytes Read", 0) > 0:
                v["input_task_s"] += m.get("Executor Run Time", 0) / 1000.0
            v["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            v["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name = a.get("Name") or ""
                upd = a.get("Update")
                if upd is None:
                    continue
                if name in ("data sent to Python workers", "data returned from Python workers"):
                    v["python_bytes"] += int(upd)
                elif name == "number of output rows" and is_scan(a.get("ID")):
                    v["rows_read"] += int(upd)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            g = exec_group.get(e["executionId"])
            if g is None:
                continue
            for acc_id, upd in e["accumUpdates"]:
                node, name = accum.get(acc_id, ("", ""))
                if name == "number of files read" and node.startswith("Scan"):
                    vol[g]["files_read"] += upd
                elif name == "number of written files":
                    vol[g]["files_written"] += upd
    return dict(vol)
