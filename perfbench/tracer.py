"""Spans around calls into the engine's layers, with Spark job-group stats.

The tracer patches public functions from outside the package (the modules
keep working unchanged when it is off). Each span runs its calls under its
own ``sc.setJobGroup`` id, so every Spark job belongs to exactly one span:
the innermost one open when the job was submitted. After an iteration the
stats for each span's jobs are read from the status store per stage.

Spark is lazy: upstream execution lands in the span of the action that
triggers it (a sink write, a noop save), not in the span that built the
plan.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # stage getter -> (metric name, scale to the reported unit)
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "outputRecords": ("output_records", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}
_DURATION = re.compile(r"([\d.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
#: the directories a file scan reads, as a physical plan prints them
_LOCATION = re.compile(r"Location: \w+(?: \(\d+ paths\))?\s*\[([^\]]*)\]")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    #: filled by collect(): job ids, job intervals, per-stage sums
    jobs: list[int] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "iteration": self.iteration, "start": self.start, "end": self.end,
            "attrs": self.attrs, "jobs": self.jobs, "stats": self.stats,
        }


class Tracer:
    """Records spans; when ``enabled`` is False ``span`` only yields."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.iteration = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0
        #: seconds spent in span bookkeeping inside timed calls
        self.bookkeeping_s = 0.0

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.iteration, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t0

    # -- patching -------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str, within: str | None = None,
             attrs=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        (only below an open span named ``within``, if given). ``attrs``
        maps the call's arguments to the span's attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if within is not None and all(s.name != within for s in tracer._stack):
                return orig(*args, **kwargs)
            with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- stats ----------------------------------------------------------
    def collect(self, spans: list[Span]) -> None:
        """Fill job ids, job intervals and stage sums for ``spans``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen_stages: set[int] = set()
        for s in spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            stats = {v[0]: 0.0 for v in STAGE_FIELDS.values()}
            stats.update(jobs=len(s.jobs), stages=0)
            for jid in s.jobs:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.job_intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                info = tracker.getJobInfo(jid)
                for sid in list(info.stageIds) if info else []:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a stage that never ran has no attempt
                        continue
                    if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    for getter, (key, scale) in STAGE_FIELDS.items():
                        stats[key] += getattr(st, getter)() * scale
            s.stats = stats

    def executions(self) -> list:
        """The SQL executions (status-store UI data) since the last call."""
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        return [execs.apply(i) for i in range(execs.size())]

    def python_worker_s(self, execs: list, owned: set[int]) -> float:
        """'time to run Python workers' summed over the SQL executions
        among ``execs`` that ran a job in ``owned`` (Arrow UDF / cogroup
        operators)."""
        total = 0.0
        for e in execs:
            metrics = e.metrics().mkString("|")
            if "time to run Python workers" not in metrics or not execution_jobs(e) & owned:
                continue
            ids = re.findall(r"SQLPlanMetric\(time to run Python workers,(\d+),", metrics)
            values = self._sql.executionMetrics(e.executionId())
            for acc in ids:
                v = values.get(int(acc))
                if v.isDefined():
                    total += parse_duration_s(v.get())
        return total


def execution_jobs(e) -> set[int]:
    """Job ids of a SQL execution."""
    return {int(j) for j in e.jobs().keySet().mkString(",").split(",") if j}


def scan_intervals(execs: list, owned: set[int], paths: set[str]) -> list[tuple[float, float]]:
    """(start, end) of the SQL executions among ``execs`` that ran a job in
    ``owned`` and whose plan scans one of the directories ``paths``."""
    out = []
    for e in execs:
        if not execution_jobs(e) & owned:
            continue
        locations = _LOCATION.findall(e.physicalPlanDescription())
        scanned = {p.strip().removeprefix("file:") for loc in locations for p in loc.split(",")}
        done = e.completionTime()
        if scanned & paths and done.isDefined():
            out.append((e.submissionTime() / 1e3, done.get().getTime() / 1e3))
    return out


def parse_duration_s(text: str) -> float:
    """The total of a formatted SQL timing metric ('1.5 s', or
    'total (min, med, max ...)\\n1.5 s (...)')."""
    tail = text.split("\n", 1)[-1]
    m = _DURATION.search(tail)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.id, []))
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the time its child spans cover
    (children of one span run one after another on one thread)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time.get(s.id, 0.0)
    return out
