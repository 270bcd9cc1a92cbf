"""Spans around calls into the engine, Spark job attribution, self times.

A span records (id, name, start, end, parent, request).  Its layer is the
name up to the last dot (``operators.wand.collect`` -> ``operators.wand``).
While a span is open on the driver's main thread it owns the Spark job
group ``pb<id>``; jobs submitted from other threads (the index build runs
overlapped lanes on a thread pool) carry no group and are attributed to the
innermost span whose interval holds their submission time.

After the run, :func:`parse_event_log` turns a Spark event log into job,
stage and task records and :func:`attribute` joins them onto the spans.
Nothing here imports pyspark at module level, so the attribution logic is
testable without a JVM.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0] if "." in self.name else self.name

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    group: str | None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    submitted: float
    completed: float
    tasks: int = 0
    run_s: float = 0.0  # summed executor run time
    cpu_s: float = 0.0  # summed JVM executor CPU time
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    output_b: int = 0

    @property
    def wall(self) -> float:
        return max(0.0, self.completed - self.submitted)


class Tracer:
    """Records spans; with a SparkContext, tags each span's jobs with a job
    group.  ``enabled=False`` gives a tracer whose spans cost nothing and
    record nothing (the untraced runs)."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.groups: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, time.time(), parent=parent.id if parent else None,
                 request=request)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            return
        gid = f"pb{s.id}"
        self.groups[gid] = s.id
        self.sc.setJobGroup(gid, s.name, interruptOnCancel=False)

    def wrap(self, fn, name: str):
        """``fn`` wrapped in a span of ``name`` (the engine's own code is
        untouched; the wrapper is installed on a module attribute)."""
        if not self.enabled:
            return fn

        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        wrapped.__wrapped__ = fn
        return wrapped

    def group_job_ids(self) -> dict[int, list[int]]:
        """span id -> job ids, as the Spark status tracker reports them."""
        if self.sc is None:
            return {}
        st = self.sc.statusTracker()
        return {sid: sorted(st.getJobIdsForGroup(g)) for g, sid in self.groups.items()}


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Temporarily wrap ``getattr(owner, attr)`` in spans named ``name`` for
    each (owner, attr, name).  Properties are wrapped on their getter."""
    saved = []
    try:
        for owner, attr, name in targets:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, orig))
            if isinstance(orig, property):
                new = property(tracer.wrap(orig.fget, name))
            else:
                new = tracer.wrap(orig, name)
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def event_log_lines(log_dir: str):
    """Lines of the one application's event log under ``log_dir``: a plain
    file, or the ``eventlog_v2_*`` directory of a rolling log."""
    files = []
    for d, _, names in os.walk(log_dir):
        files += [os.path.join(d, n) for n in names if not n.startswith(("appstatus", "."))]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    # rolling logs are events_<n>_<app id>: replay in <n> order
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1])
               if os.path.basename(f).startswith("events_") else 0)
    for f in files:
        with open(f) as fh:
            yield from fh


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and (completed) stages, with task metrics summed per stage,
    from Spark event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = Job(
                jid, ev["Submission Time"] / 1e3,
                props.get("spark.jobGroup.id"), list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, Stage(sid, 0.0, 0.0))
            st.submitted = info.get("Submission Time", 0) / 1e3
            st.completed = info.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, Stage(sid, 0.0, 0.0))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            st.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs, stages


def attribute(spans: list[Span], jobs: dict[int, Job],
              group_jobs: dict[int, list[int]] | None = None) -> dict[int, int | None]:
    """job id -> owning span id.  A job owned through its job group (from
    the status tracker, else the event log's job properties) keeps that
    span; any other job goes to the innermost span open at its submission
    time, or None when no span was open."""
    by_group: dict[int, int] = {}
    for sid, jids in (group_jobs or {}).items():
        for j in jids:
            by_group[j] = sid
    owner: dict[int, int | None] = {}
    for jid, job in jobs.items():
        if jid in by_group:
            owner[jid] = by_group[jid]
        elif job.group and job.group.startswith("pb") and job.group[2:].isdigit():
            owner[jid] = int(job.group[2:])
        else:
            owner[jid] = innermost(spans, job.submitted)
    return owner


def innermost(spans: list[Span], t: float) -> int | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.id if best else None


def subtree(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span wall minus the part of its interval that its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s.id] = s.wall - covered
    return out


def layer_self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time per layer over the spans under ``root`` (root excluded)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sid in subtree(spans, root) - {root}:
        lay = spans[sid].layer
        out[lay] = out.get(lay, 0.0) + st[sid]
    return out


@dataclass
class Work:
    """Spark work attributed to a set of spans."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    output_b: int = 0
    last_stage_wall: float = 0.0
    last_stage_cpu: float = 0.0
    last_stage_run: float = 0.0


def work_of(span_ids: set[int], owner: dict[int, int | None], jobs: dict[int, Job],
            stages: dict[int, Stage]) -> Work:
    """Sum of the jobs owned by ``span_ids``; the result stage of the last
    job (highest stage id) is reported on its own, since a query's scan
    kernel runs there."""
    w = Work()
    seen: set[int] = set()
    mine = sorted(j for j, s in owner.items() if s in span_ids)
    for jid in mine:
        w.jobs += 1
        for sid in jobs[jid].stages:
            st = stages.get(sid)
            if st is None or sid in seen or st.tasks == 0:
                continue  # skipped (reused shuffle) or never run
            seen.add(sid)
            w.stages += 1
            w.tasks += st.tasks
            w.run_s += st.run_s
            w.cpu_s += st.cpu_s
            w.gc_s += st.gc_s
            w.shuffle_read_b += st.shuffle_read_b
            w.shuffle_write_b += st.shuffle_write_b
            w.output_b += st.output_b
    if seen:
        last = stages[max(seen)]
        w.last_stage_wall, w.last_stage_cpu, w.last_stage_run = last.wall, last.cpu_s, last.run_s
    return w
