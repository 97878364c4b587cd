"""Measurement from outside the engine: spans, Spark job attribution,
event-log totals, process CPU and peak RSS from ``/proc`` and log-line
counts.

Spans are recorded by the benchmark around its calls into each layer's
public functions (never inside the engine). Every span that may start
Spark jobs gets its own job group, so the event log attributes each job
to exactly one span: a query's build, plan and exec jobs are counted
apart, and a table load's schema-inference jobs land on its
``catalog.load_table`` span rather than on the query that called it.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Span kinds a Spark job can be charged to, innermost first.
JOB_KINDS = ("catalog", "build", "plan", "exec")


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Inactive tracers record nothing and set
    no job groups, so the untraced passes of a traced run pay only a
    flag check."""

    def __init__(self, sc, run: str):
        self.sc = sc
        self.run = run
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str = "span", **attrs):
        if not self.active:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, kind, time.perf_counter(), 0.0, parent, self.run, attrs)
        self.spans.append(span)
        self._stack.append(idx)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{self.run}:{idx}")
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            outer = f"{self.run}:{self._stack[-1]}" if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def wrap(self, fn, name: str, kind: str):
        """``fn`` with a span around every call."""

        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def span_of_group(self, group: str | None) -> int | None:
        if not group or not group.startswith(self.run + ":"):
            return None
        return int(group.rsplit(":", 1)[1])

    def charged_kind(self, idx: int) -> tuple[int, str] | None:
        """The innermost enclosing span of a job-chargeable kind."""
        while idx is not None:
            if self.spans[idx].kind in JOB_KINDS:
                return idx, self.spans[idx].kind
            idx = self.spans[idx].parent
        return None

    def root_of(self, idx: int) -> int:
        while self.spans[idx].parent is not None:
            idx = self.spans[idx].parent
        return idx

    def self_time(self, idx: int, child_kinds: tuple[str, ...] | None = None) -> float:
        """Duration minus the time covered by child spans (only children
        of ``child_kinds``, when given). Children of one parent never
        overlap: the benchmark is single-threaded."""
        span = self.spans[idx]
        covered = sum(
            c.end - c.start
            for c in self.spans
            if c.parent == idx and (child_kinds is None or c.kind in child_kinds)
        )
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


# ---------------------------------------------------------------- event log

_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}
_ARROW_METRICS = {
    "data sent to Python workers": ("to_python_mb", 1e-6),
    "data returned from Python workers": ("from_python_mb", 1e-6),
    "number of output rows": ("rows_from_python", 1.0),
}
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _is_python_node(node_name: str) -> bool:
    return "Python" in node_name or "Pandas" in node_name or "Arrow" in node_name


def _python_metric_ids(plan: dict, out: dict[int, str]) -> None:
    if _is_python_node(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") in _ARROW_METRICS:
                out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    stages: list[int]


def read_event_log(log_dir: str, app_id: str):
    """(jobs, stage_info, python_metric_ids) from the app's event log."""
    jobs: list[JobRecord] = []
    stages: dict[int, dict] = {}
    py_ids: dict[int, str] = {}
    for name in sorted(os.listdir(log_dir)):
        if app_id not in name:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        JobRecord(ev["Job ID"], props.get("spark.jobGroup.id"), list(ev.get("Stage IDs", [])))
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = info
                elif kind in _SQL_PLAN_EVENTS:
                    _python_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
    return jobs, stages, py_ids


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def stage_totals(info: dict, py_ids: dict[int, str]) -> tuple[dict[str, float], dict[str, float]]:
    """(exec task metrics, arrow metrics) summed over one completed stage."""
    task: dict[str, float] = {}
    arrow: dict[str, float] = {}
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name in _TASK_METRICS:
            key, scale = _TASK_METRICS[name]
            task[key] = task.get(key, 0.0) + _num(acc.get("Value")) * scale
        elif acc.get("ID") in py_ids:
            key, scale = _ARROW_METRICS[py_ids[acc["ID"]]]
            arrow[key] = arrow.get(key, 0.0) + _num(acc.get("Value")) * scale
    return task, arrow


# ------------------------------------------------------------------ /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _CLK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = st[0]
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds of this Python process plus the JVM at ``root`` and
    all its live descendants (Python workers). A worker that exited was
    reaped by its parent in the tree, whose c-times then hold it."""
    own = os.times()
    total = own.user + own.system
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this host's
    CPUs wanted to run (the ``steal`` column of ``/proc/stat``, summed
    over CPUs): run-to-run drift of the time metrics follows it."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# -------------------------------------------------------------------- logs

_LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ")


def count_log_levels(path: str) -> dict[str, int]:
    """ERROR and WARN lines in a log4j console log (Spark's default
    ``yy/MM/dd HH:mm:ss LEVEL`` layout); progress-bar carriage returns
    are split so no line hides behind one."""
    counts = {"ERROR": 0, "WARN": 0}
    with open(path, errors="replace") as f:
        for raw in f:
            for line in raw.split("\r"):
                m = _LOG_LINE.match(line)
                if m:
                    counts[m.group(1)] += 1
    return counts
