"""Spans around the benchmark's calls into ``lance_spark``, joined to the
Spark jobs each span ran.

A span has a name, start, end, parent and run id. Entering a span sets the
Spark job group to the span's id, so every job Spark runs for that call
carries it; the jobs and stages are fetched once, after the timed region,
from the monitoring REST API at ``sc.uiWebUrl``. Nothing inside
``lance_spark`` is edited: the only hook is a wrapper around
``lance_spark.manifest.commit``, installed while a traced run is active, so
manifest commits get spans of their own.

``NullTracer`` has the same surface and does nothing, so the untraced run
executes exactly the same workload code.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from urllib.parse import urlparse


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    parent: str | None
    run_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._orig_commit = None
        # seconds spent in span bookkeeping: the tracing overhead
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(uuid.uuid4().hex[:12], name, time.time(), parent and parent.span_id,
                  self.run_id, attrs=dict(attrs))
        self._stack.append(sp)
        self.sc.setJobGroup(sp.span_id, name, interruptOnCancel=False)
        self.cost_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.span_id, parent.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.cost_s += time.perf_counter() - t1

    def install(self) -> None:
        """Give every manifest commit a ``manifest.commit`` span."""
        from lance_spark import manifest as mf

        orig = self._orig_commit = mf.commit
        tracer = self

        def traced_commit(root, build_manifest, operation, *a, **kw):
            with tracer.span("manifest.commit", operation=operation):
                return orig(root, build_manifest, operation, *a, **kw)

        mf.commit = traced_commit

    def uninstall(self) -> None:
        if self._orig_commit is not None:
            from lance_spark import manifest as mf

            mf.commit = self._orig_commit
            self._orig_commit = None


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    # the REST API's timestamps look like 2026-01-01T10:00:00.123GMT
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch_jobs(sc, settle_s: float = 10.0) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages of this application, once every job has ended.
    Spark's status store is fed asynchronously, so poll until no job is
    still running and the job count has stopped changing."""
    ui = urlparse(sc.uiWebUrl)
    # the UI binds every interface; talk to it over loopback
    base = f"http://127.0.0.1:{ui.port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    last = -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = [j for j in jobs if j.get("status") == "RUNNING"]
        if (not running and len(jobs) == last) or time.time() > deadline:
            break
        last = len(jobs)
        time.sleep(0.3)
    stages = {}
    for s in _get(f"{base}/stages"):
        # keep the latest attempt of each stage
        if s["stageId"] not in stages or s["attemptId"] > stages[s["stageId"]]["attemptId"]:
            stages[s["stageId"]] = s
    return jobs, stages


@dataclass
class JobCost:
    """Spark work attributed to a set of spans."""

    jobs: int = 0
    stages: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list = field(default_factory=list)

    def add_job(self, job: dict, stages: dict[int, dict]) -> None:
        self.jobs += 1
        t0, t1 = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
        if t0 is not None and t1 is not None:
            self.intervals.append((t0, t1))
        for sid in job.get("stageIds", []):
            s = stages.get(sid)
            if s is None or s.get("status") == "SKIPPED":
                continue
            self.stages += 1
            self.task_run_s += s.get("executorRunTime", 0) / 1e3
            self.task_cpu_s += s.get("executorCpuTime", 0) / 1e9
            self.input_bytes += s.get("inputBytes", 0)
            self.input_records += s.get("inputRecords", 0)
            self.shuffle_write_bytes += s.get("shuffleWriteBytes", 0)
            self.spill_bytes += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)

    def job_union_s(self, lo: float, hi: float) -> float:
        """Seconds of [lo, hi] covered by at least one job."""
        return _union(self.intervals, lo, hi)


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


class Attribution:
    """Jobs joined to spans. A job belongs to the span whose id is its job
    group; a job with no group (one started from a thread the span did not
    tag) goes to the innermost span open when it was submitted."""

    def __init__(self, spans: list[Span], jobs: list[dict], stages: dict[int, dict]):
        self.spans = spans
        self.by_id = {s.span_id: s for s in spans}
        self.children: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent:
                self.children.setdefault(s.parent, []).append(s)
        self.own: dict[str, list[dict]] = {}
        for j in jobs:
            sid = j.get("jobGroup")
            if sid not in self.by_id:
                t = _epoch(j.get("submissionTime"))
                sid = self._innermost(t) if t is not None else None
            if sid is not None:
                self.own.setdefault(sid, []).append(j)
        self.stages = stages

    def _innermost(self, t: float) -> str | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.span_id if best else None

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur.span_id, []))
        return out

    def cost(self, sp: Span) -> JobCost:
        c = JobCost()
        for d in self.descendants(sp):
            for j in self.own.get(d.span_id, []):
                c.add_job(j, self.stages)
        return c

    def self_s(self, sp: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = [(k.start, k.end) for k in self.children.get(sp.span_id, [])]
        return sp.dur - _union(kids, sp.start, sp.end)

    def driver_s(self, sp: Span) -> float:
        """The span's wall time outside every Spark job it ran."""
        return sp.dur - self.cost(sp).job_union_s(sp.start, sp.end)

    def report(self) -> list[dict]:
        out = []
        for s in self.spans:
            c = self.cost(s)
            out.append(
                {
                    "span_id": s.span_id, "name": s.name, "parent": s.parent,
                    "run_id": s.run_id, "start": s.start, "end": s.end,
                    "dur_s": s.dur, "self_s": self.self_s(s), "driver_s": self.driver_s(s),
                    "jobs": c.jobs, "stages": c.stages, "task_run_s": c.task_run_s,
                    "task_cpu_s": c.task_cpu_s,
                    "python_gap_s": c.task_run_s - c.task_cpu_s,
                    "input_bytes": c.input_bytes, "shuffle_write_bytes": c.shuffle_write_bytes,
                    "spill_bytes": c.spill_bytes, "attrs": s.attrs,
                }
            )
        return out


def chrome_trace(path: str, spans: list[Span], engine_events: list[dict],
                 jobs: list[dict]) -> None:
    """Write spans (complete ``X`` events), the Spark jobs (on their own
    track) and the engine's own ``tracing.trace_to_chrome`` events into
    one chrome://tracing / Perfetto file."""
    events = [
        {"name": s.name, "ph": "X", "ts": s.start * 1e6, "dur": s.dur * 1e6, "pid": 1, "tid": 1,
         "args": {"span_id": s.span_id, "parent": s.parent, "run_id": s.run_id,
                  **{k: str(v) for k, v in s.attrs.items()}}}
        for s in spans
    ]
    for j in jobs:
        t0, t1 = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if t0 is None or t1 is None:
            continue
        events.append(
            {"name": f"job {j['jobId']}", "ph": "X", "ts": t0 * 1e6, "dur": (t1 - t0) * 1e6,
             "pid": 1, "tid": 2, "args": {"group": j.get("jobGroup"), "stages": j.get("stageIds")}}
        )
    for e in engine_events:
        events.append({**e, "pid": 1, "tid": 3})
    with open(path, "w") as fh:
        json.dump({"traceEvents": events}, fh)
