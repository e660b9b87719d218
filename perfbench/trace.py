"""Spans around calls into the program, and the Spark work behind them.

A span is opened by benchmark code around a call into a public
function, or by a wrapper that this module puts on a module attribute
from outside (nothing in the program changes). Each span tags the jobs
it starts with its own Spark job group, so after the run the status
tracker and the UI's REST endpoints give, per span: jobs, stages,
tasks, executor time, shuffle, spill, and the Python-worker metrics of
the SQL plans the jobs ran. Spans stay in memory until the run ends.

With tracing off, ``span`` is a no-op and no wrapper is installed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "scheduler_delay_s", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)
# the per-span figures that must add up to the run's totals
RECONCILED = ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        s = Span(len(self.spans), name, self.current.id if self.current else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.current is not None:
                sc.setJobGroup(self.current.group, self.current.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, when=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until
        :meth:`unwrap_all`. ``when(tracer)`` may veto the span per call."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if when is not None and not when(self):
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        new = type(orig)(wrapper) if isinstance(orig, (staticmethod, classmethod)) else wrapper
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_time(self, s: Span) -> float:
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, edge = 0.0, s.start
        for a, b in kids:
            a, b = max(a, edge), min(b, s.end)
            if b > a:
                covered += b - a
                edge = b
        return s.duration - covered

    def descendants(self, s: Span) -> list[Span]:
        out, frontier = [], {s.id}
        for c in self.spans[s.id + 1:]:
            if c.parent in frontier:
                out.append(c)
                frontier.add(c.id)
        return out

    def dump(self, path: str, spark_by_span: dict) -> None:
        with open(path, "w") as f:
            json.dump([
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": self.self_time(s),
                 "attrs": s.attrs, "spark": spark_by_span.get(s.id, {})}
                for s in self.spans
            ], f, indent=1)


# -- Spark status / REST ------------------------------------------------------


class SparkStatus:
    """Reads the application's status store through the UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def max_job_id(self) -> int:
        ids = [j["jobId"] for j in self.get("/jobs")]
        return max(ids) if ids else -1

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the listener has recorded every submitted job."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            jobs = self.get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) and not self.sc.statusTracker().getActiveJobsIds():
                return
            time.sleep(0.1)

    def snapshot(self, first_job: int, last_job: int) -> dict:
        """Per-job Spark figures for jobs ``first_job..last_job``; each
        stage counts once, for the first job that lists it."""
        jobs = sorted(
            (j for j in self.get("/jobs") if first_job <= j["jobId"] <= last_job),
            key=lambda j: j["jobId"],
        )
        stages = {}
        for st in self.get("/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        claimed: set[int] = set()
        per_job = {}
        for j in jobs:
            acc = dict.fromkeys(SPARK_KEYS, 0.0)
            acc["jobs"] = 1
            for sid in j["stageIds"]:
                if sid in claimed or sid not in stages:
                    continue
                claimed.add(sid)
                for st in stages[sid]:
                    acc["stages"] += 1
                    acc["tasks"] += st["numTasks"]
                    acc["executor_run_s"] += st["executorRunTime"] / 1e3
                    acc["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    acc["gc_s"] += st["jvmGcTime"] / 1e3
                    acc["input_bytes"] += st["inputBytes"]
                    acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    acc["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    acc["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    tasks = self.get(
                        f"/stages/{sid}/{st['attemptId']}/taskList?length={st['numTasks'] + 10}"
                    )
                    acc["scheduler_delay_s"] += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
            acc.update(dict.fromkeys(PYTHON_METRICS.values(), 0.0))
            per_job[j["jobId"]] = acc
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            ids = ex["successJobIds"] + ex["failedJobIds"] + ex["runningJobIds"]
            owner = min((i for i in ids if i in per_job), default=None)
            if owner is None:
                continue
            for node in ex["nodes"]:
                for m in node["metrics"]:
                    key = PYTHON_METRICS.get(m["name"])
                    if key:
                        per_job[owner][key] += parse_metric(m["value"])
        return per_job

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))


def parse_metric(text: str) -> float:
    """'total (min, med, max ...)\\n8.1 s (2.0 s, ...)' or '0 ms' -> base
    units (seconds / bytes)."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def attribute(tracer: Tracer, status: SparkStatus, first_job: int) -> tuple[dict, dict]:
    """({span id: own Spark figures}, reconciliation) for jobs from
    ``first_job`` on. Jobs are found per span through the status
    tracker's job groups; the REST job list gives the run totals they
    must add up to."""
    status.settle()
    last_job = status.max_job_id()
    per_job = status.snapshot(first_job, last_job)
    by_span: dict[int, dict] = {}
    seen: set[int] = set()
    for s in tracer.spans:
        acc = dict.fromkeys(list(SPARK_KEYS) + list(PYTHON_METRICS.values()), 0.0)
        for jid in status.group_jobs(s.group):
            if jid in per_job and jid not in seen:
                seen.add(jid)
                for k, v in per_job[jid].items():
                    acc[k] += v
        by_span[s.id] = acc
    run = {k: sum(j[k] for j in per_job.values()) for k in RECONCILED}
    spans_sum = {k: sum(a[k] for a in by_span.values()) for k in RECONCILED}
    recon = {f"unattributed_{k}": run[k] - spans_sum[k] for k in RECONCILED}
    recon["run_jobs"] = run["jobs"]
    return by_span, recon


def traced(spark, status: SparkStatus, wrap, body) -> tuple[Tracer, dict, dict]:
    """Run ``body(tracer)`` with spans on and ``wrap(tracer)``'s wrappers
    installed; returns (tracer, {span id: own Spark figures},
    reconciliation). ``body`` raising leaves the wrappers removed."""
    tr = Tracer(spark, enabled=True)
    wrap(tr)
    status.settle()
    first_job = status.max_job_id() + 1
    try:
        body(tr)
    finally:
        tr.unwrap_all()
    by_span, recon = attribute(tr, status, first_job)
    return tr, by_span, recon


def totals(by_span: dict) -> dict:
    """Spark and Python-worker figures summed over every span."""
    keys = list(SPARK_KEYS) + list(PYTHON_METRICS.values())
    return {k: sum(a[k] for a in by_span.values()) for k in keys}


def inclusive(tracer: Tracer, by_span: dict, s: Span) -> dict:
    acc = dict(by_span.get(s.id, {}))
    for d in tracer.descendants(s):
        for k, v in by_span.get(d.id, {}).items():
            acc[k] = acc.get(k, 0.0) + v
    return acc
