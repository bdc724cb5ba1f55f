"""Tracing for the per-layer run: spans around ``fog_spark`` entry points,
Spark job tags per span, and a Spark event-log reader.

Nothing under ``fog_spark/`` is edited. :func:`install` wraps public
methods on the program's classes (engine, vertex programs, Materializer,
CheckpointStore) for the life of the traced set and :func:`uninstall`
restores them; calls the benchmark makes itself (extraction, triangle
counting) are wrapped at the call site with :meth:`Tracer.span`.

Each span tags the Spark jobs started inside it with ``SparkContext.addJobTag``
(``pb-<span id>``); the event log then attributes every job, stage and
task to the innermost span that was open. Engine runs are split at
iteration boundaries: the first ``messages`` call of a run closes its
``engine.setup`` span, and every later one closes the previous
``engine.iter`` span and opens the next.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

TAG_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans form a tree through ``parent``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    @staticmethod
    def _sc() -> SparkContext | None:
        return SparkContext._active_spark_context

    def open(self, name: str, **attrs) -> Span:
        parent = self.stack[-1].id if self.stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self.stack.append(sp)
        sc = self._sc()
        if sc is not None:
            sc.addJobTag(f"{TAG_PREFIX}{sp.id}")
        return sp

    def close(self, sp: Span) -> None:
        """Close ``sp`` and every span opened above it."""
        while self.stack:
            top = self.stack.pop()
            top.end = time.perf_counter()
            sc = self._sc()
            if sc is not None:
                sc.removeJobTag(f"{TAG_PREFIX}{top.id}")
            if top is sp:
                return

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def top(self) -> Span | None:
        return self.stack[-1] if self.stack else None

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its children cover (children are
        sequential: the driver is single-threaded)."""
        return (sp.end - sp.start) - sum(c.end - c.start for c in self.children(sp))

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "self_s": self.self_time(s), **s.attrs,
                }) + "\n")


# ---------------------------------------------------------------- wrappers

def _wrap(owner, attr: str, make, saved: list) -> None:
    orig = owner.__dict__[attr]
    saved.append((owner, attr, orig))
    setattr(owner, attr, make(orig))


def install(tr: Tracer) -> list:
    """Wrap the program's layer entry points; returns what
    :func:`uninstall` needs to restore them."""
    from fog_spark.algos.components import ConnectedComponents
    from fog_spark.algos.pagerank import FogPageRank
    from fog_spark.plans.checkpoint import CheckpointStore
    from fog_spark.plans.engine import ScatterGatherEngine
    from fog_spark.plans.materialize import Materializer

    saved: list = []

    def spanned(name):
        def make(orig):
            def wrapper(*a, **kw):
                with tr.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def engine_run(orig):
        def wrapper(self, algo, *a, **kw):
            run = tr.open("engine.run", algo=algo.name, iters_run=0)
            tr.open("engine.setup")
            try:
                return orig(self, algo, *a, **kw)
            finally:
                tr.close(run)
        return wrapper

    def messages(orig):
        def wrapper(self, *a, **kw):
            top = tr.top()
            if top is not None and top.name in ("engine.setup", "engine.iter"):
                run = tr.spans[top.parent]
                tr.close(top)
                run.attrs["iters_run"] += 1
                tr.open("engine.iter", n=run.attrs["iters_run"])
            with tr.span("algos.messages"):
                return orig(self, *a, **kw)
        return wrapper

    def append_lineage(orig):
        def wrapper(self, rows, *a, **kw):
            with tr.span("checkpoint.append_lineage", rows=len(rows)):
                return orig(self, rows, *a, **kw)
        return wrapper

    _wrap(ScatterGatherEngine, "run", engine_run, saved)
    for cls in (FogPageRank, ConnectedComponents):
        _wrap(cls, "messages", messages, saved)
        _wrap(cls, "gather", spanned("algos.gather"), saved)
        _wrap(cls, "apply", spanned("algos.apply"), saved)
    _wrap(Materializer, "checkpoint", spanned("materialize.checkpoint"), saved)
    _wrap(Materializer, "free", spanned("materialize.free"), saved)
    for m in ("write_state", "write_meta", "latest_complete", "read_meta", "read_state"):
        _wrap(CheckpointStore, m, spanned(f"checkpoint.{m}"), saved)
    _wrap(CheckpointStore, "append_lineage", append_lineage, saved)
    return saved


def uninstall(saved: list) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    id: int
    tags: set
    start_ms: int
    end_ms: int = 0


@dataclass
class Stage:
    key: tuple  # (stage id, attempt)
    tags: set
    tasks: list = field(default_factory=list)  # per-task dicts


def _tags(props: dict | None) -> set:
    raw = (props or {}).get("spark.job.tags", "")
    return {t for t in raw.split(",") if t.startswith(TAG_PREFIX)}


@dataclass
class EventLog:
    jobs: dict
    stages: dict
    failed_tasks: int
    stage_retries: int

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        jobs: dict = {}
        stages: dict = {}
        failed = retries = 0
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = Job(ev["Job ID"], _tags(ev.get("Properties")), ev["Submission Time"])
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        key = (info["Stage ID"], info["Stage Attempt ID"])
                        retries += key[1] > 0
                        stages[key] = Stage(key, _tags(ev.get("Properties")))
                    elif kind == "SparkListenerTaskEnd":
                        key = (ev["Stage ID"], ev["Stage Attempt ID"])
                        if ev["Task End Reason"]["Reason"] != "Success":
                            failed += 1
                        m = ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        inp = m.get("Input Metrics") or {}
                        stages.setdefault(key, Stage(key, set())).tasks.append({
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "records": sr.get("Total Records Read", 0) + inp.get("Records Read", 0),
                        })
        return cls(jobs, stages, failed, retries)


def _innermost(tags: set) -> int | None:
    ids = [int(t[len(TAG_PREFIX):]) for t in tags]
    return max(ids) if ids else None


class Attribution:
    """Jobs and stages of the event log keyed by the innermost span whose
    tag they carry (span ids grow with nesting depth and time, so the
    largest tagged id is the innermost open span)."""

    def __init__(self, log: EventLog, tr: Tracer):
        self.tr = tr
        self.jobs_by_span: dict[int, list[Job]] = {}
        self.stages_by_span: dict[int, list[Stage]] = {}
        for j in log.jobs.values():
            sid = _innermost(j.tags)
            if sid is not None:
                self.jobs_by_span.setdefault(sid, []).append(j)
        for st in log.stages.values():
            sid = _innermost(st.tags)
            if sid is not None:
                self.stages_by_span.setdefault(sid, []).append(st)

    def jobs(self, spans) -> list[Job]:
        return [j for s in spans for j in self.jobs_by_span.get(s.id, [])]

    def stages(self, spans) -> list[Stage]:
        return [st for s in spans for st in self.stages_by_span.get(s.id, [])]

    def under(self, sp: Span) -> tuple[list[Job], list[Stage]]:
        sub = self.tr.subtree(sp)
        return self.jobs(sub), self.stages(sub)


def shuffle_write(stages) -> int:
    return sum(t["shuffle_write"] for st in stages for t in st.tasks)


def shuffle_read(stages) -> int:
    return sum(t["shuffle_read"] for st in stages for t in st.tasks)


def spill(stages) -> int:
    return sum(t["spill"] for st in stages for t in st.tasks)


def task_skew(stages, min_records: int = 1000) -> float:
    """Largest max/mean ratio of records per task over the stages that
    process at least ``min_records`` in two or more tasks (1.0 = no skew).
    Records, not task times, so the figure repeats across runs."""
    worst = 1.0
    for st in stages:
        recs = [t["records"] for t in st.tasks]
        if len(recs) >= 2 and sum(recs) >= min_records:
            worst = max(worst, max(recs) / statistics.fmean(recs))
    return worst


def job_seconds(jobs) -> float:
    return sum(max(0, j.end_ms - j.start_ms) for j in jobs) / 1000.0
