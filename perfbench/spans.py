"""Per-layer spans recorded from outside the package.

A :class:`Tracer` wraps a public function by rebinding the module
attribute its caller looks up (``pipeline.align_id_col``,
``cli.process``, ...), so the package source is untouched. Each
wrapper records a span (name, start, end, parent) in memory and, on the
main thread, tags the Spark jobs it launches with a job group named
after the span. After the session stops, :func:`read_event_log` reads
Spark's event log and :meth:`Tracer.metrics` joins its per-job numbers
to the spans by job group.

Job metrics of a span are inclusive: they count the jobs launched while
the span or one of its child spans was the innermost open span. A span
opened on another thread (the corpus pipeline's k-means side thread)
sets no job group; its jobs are the ones submitted inside its time
window. Jobs without one of the tracer's groups are counted as
``untagged_jobs``; they still count toward the phase totals, which take
every job submitted inside the phase's time window.

:func:`phase` and :func:`span` take ``None`` for the tracer: a workload
writes its op once, and an untraced run only times the phases.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

#: Spark configuration that makes the event log readable here: one
#: plain JSON-lines file per application. The log records each SQL
#: execution's plan text, and the corpus pipeline's chained plans render
#: to megabytes: measured, that made a traced op 1.7x slower. Capping
#: the plan text removes the overhead and changes no result (the
#: package only walks plan objects, never their strings).
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.sql.maxPlanStringLength": "1000",
}

_GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    t0: float
    wall0: float  # epoch seconds, comparable with event-log timestamps
    t1: float = 0.0
    wall1: float = 0.0
    main: bool = True  # opened on the main thread, so it set a job group
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class Job:
    group: str | None
    submitted_ms: int  # epoch milliseconds, as logged
    stages: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, Callable]] = []
        self._lock = threading.Lock()
        self._op = ""
        #: seconds spent in the tracer's own bookkeeping inside ops
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """A phase of the workload's op: the window its totals are taken over."""
        self._op = name
        rec = Span(-1, name, name, None, time.perf_counter(), time.time())
        try:
            yield rec
        finally:
            rec.t1, rec.wall1 = time.perf_counter(), time.time()
            self.ops.append(rec)
            self._op = ""

    @contextmanager
    def span(self, name: str):
        enter = time.perf_counter()
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            parent = self._stack[-1] if main and self._stack else None
            rec = Span(
                len(self.spans),
                name,
                self._op,
                parent.sid if parent else None,
                0.0,
                0.0,
                main=main,
            )
            self.spans.append(rec)
        if main:
            self._stack.append(rec)
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{rec.sid}", name)
        rec.t0, rec.wall0 = time.perf_counter(), time.time()
        try:
            yield rec
        finally:
            rec.t1, rec.wall1 = time.perf_counter(), time.time()
            if main:
                self._stack.pop()
                if parent is not None:
                    self.sc.setJobGroup(f"{_GROUP_PREFIX}{parent.sid}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.overhead_s += (rec.t0 - enter) + (time.perf_counter() - rec.t1)

    def wrap(
        self,
        module: object,
        attr: str,
        name: str,
        after: Callable[[tuple, dict, object], dict] | None = None,
    ) -> None:
        """Rebind ``module.attr`` to a spanned call. ``after`` computes
        extra span attributes from the call's arguments and result once
        the span has closed, so its cost is not in the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                rec.attrs.update(after(args, kwargs, out))
                with self._lock:
                    self.overhead_s += time.perf_counter() - t0
            return out

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # -- metrics -------------------------------------------------------

    def metrics(self, jobs: dict[int, Job], prefix: str) -> dict[str, float]:
        """Per-layer numbers keyed ``<prefix>.<op>.<span>.<kind>`` plus
        ``<prefix>.<op>.<kind>`` op totals, each a mean per op."""
        by_group: dict[str, list[Job]] = defaultdict(list)
        for j in jobs.values():
            if j.group:
                by_group[j.group].append(j)
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)

        def in_window(t0: float, t1: float) -> list[Job]:
            return [j for j in jobs.values() if t0 <= j.submitted_ms / 1000.0 <= t1]

        def tree_jobs(s: Span) -> list[Job]:
            if not s.main:
                return in_window(s.wall0, s.wall1)
            own = list(by_group.get(f"{_GROUP_PREFIX}{s.sid}", []))
            for c in children[s.sid]:
                own += tree_jobs(c)
            return own

        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            key = f"{prefix}.{s.op}.{s.name}"
            inside = tree_jobs(s)
            out[f"{key}.calls"] += 1
            out[f"{key}.wall_s"] += s.seconds
            out[f"{key}.self_s"] += s.seconds - sum(c.seconds for c in children[s.sid])
            out[f"{key}.jobs"] += len(inside)
            _add_job_totals(out, key, inside)
            for k, v in s.attrs.items():
                out[f"{key}.{k}"] += v
        for op in self.ops:
            key = f"{prefix}.{op.name}"
            inside = in_window(op.wall0, op.wall1)
            out[f"{key}.wall_s"] += op.seconds
            out[f"{key}.jobs"] += len(inside)
            out[f"{key}.untagged_jobs"] += sum(
                1 for j in inside if not (j.group or "").startswith(_GROUP_PREFIX)
            )
            _add_job_totals(out, key, inside)
            for k, v in op.attrs.items():
                out[f"{key}.{k}"] += v
        runs = defaultdict(int)
        for op in self.ops:
            runs[op.name] += 1
        return {k: v / runs[k.split(".")[1]] for k, v in out.items()}


def phase(tracer: Tracer | None, name: str):
    """Time one phase of an op; with a tracer, also record its window."""
    return _timer(name) if tracer is None else tracer.op(name)


def span(tracer: Tracer | None, name: str):
    return nullcontext() if tracer is None else tracer.span(name)


@contextmanager
def _timer(name: str):
    rec = Span(-1, name, name, None, time.perf_counter(), time.time())
    try:
        yield rec
    finally:
        rec.t1, rec.wall1 = time.perf_counter(), time.time()


def _add_job_totals(out: dict, key: str, jobs: list[Job]) -> None:
    out[f"{key}.stages"] += sum(j.stages for j in jobs)
    out[f"{key}.task_s"] += sum(j.task_s for j in jobs)
    out[f"{key}.shuffle_bytes"] += sum(j.shuffle_bytes for j in jobs)
    out[f"{key}.spill_bytes"] += sum(j.spill_bytes for j in jobs)


def _accum(stage_info: dict, name: str) -> int:
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a.get("Value") or 0)
    return 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs of the (single) application logged in ``log_dir``, with the
    metrics of their completed stages. A stage listed by several jobs
    (a reused shuffle) belongs to the newest job submitted before it."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = Job(
                    group=props.get("spark.jobGroup.id"),
                    submitted_ms=ev["Submission Time"],
                )
                for sid in ev.get("Stage IDs", []):
                    stage_jobs[sid].append(jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                owners = [
                    j
                    for j in stage_jobs.get(info["Stage ID"], [])
                    if jobs[j].submitted_ms <= info.get("Submission Time", 0)
                ] or stage_jobs.get(info["Stage ID"], [])
                if not owners:
                    continue
                job = jobs[max(owners)]
                job.stages += 1
                job.task_s += _accum(info, "internal.metrics.executorRunTime") / 1000.0
                job.shuffle_bytes += _accum(
                    info, "internal.metrics.shuffle.write.bytesWritten"
                )
                job.spill_bytes += _accum(
                    info, "internal.metrics.memoryBytesSpilled"
                ) + _accum(info, "internal.metrics.diskBytesSpilled")
    return jobs
