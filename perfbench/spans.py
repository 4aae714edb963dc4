"""Span tracer for the traced run.

A span is one call of a wrapped public function (or a block the
workload opens explicitly). Each span sets its own Spark job group, so
every job launched while the span is innermost on its thread is
charged to it; on exit the thread's previous job group is restored.
Spark is lazy: a span covers only the jobs launched inside its call,
and work in a lazily built plan is charged to the call that forces it.

A *mark* names the action that follows a call whose result is lazy:
``Tracer.mark("x")``, called from a wrapper's ``on_return`` hook,
charges the jobs the calling thread launches next, until it enters or
leaves a span, to a span named ``x``.

After the run, ``Tracer.collect`` reads job and stage metrics from
Spark's status store (populated even with ``spark.ui.enabled=false``)
and attaches them to the spans. Wrappers replace module and class
attributes at run time; the package's files are never edited.
"""

from __future__ import annotations

import copy
import functools
import sys
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

STAGE_FIELDS = ("exec_s", "shuffle_mb", "spill_mb", "tasks")
_GROUP, _DESC = "spark.jobGroup.id", "spark.job.description"


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    wall_s: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    prev_group: tuple = (None, None)


class _TracedFunction:
    """Callable stand-in for a module-level function. Pickling it
    yields the original function, so a UDF closure that captured the
    wrapper ships the untraced function to the Python workers."""

    def __init__(self, tracer: "Tracer", name: str, fn: Callable, on_return: Callable | None):
        functools.update_wrapper(self, fn)
        self._tracer, self._name, self._fn, self._on_return = tracer, name, fn, on_return

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            out = self._fn(*args, **kwargs)
        if self._on_return is not None:
            self._on_return(args, kwargs, out)
        return out

    def __reduce__(self):
        return copy.copy, (self._fn,)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.root: int | None = None  # parent of a new thread's first span
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new_span(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, f"perfbench-{idx}", parent, time.perf_counter())
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(idx)
        return idx

    def _enter(self, name: str) -> int:
        pending = getattr(self._local, "mark", None)
        self._local.mark = None
        idx = self._new_span(name)
        sp = self.spans[idx]
        # a pending mark ends here: restore what was current before it
        sp.prev_group = pending.prev_group if pending is not None else self._current_group()
        self._stack().append(idx)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        return idx

    def _exit(self, idx: int) -> None:
        sp = self.spans[idx]
        sp.wall_s = time.perf_counter() - sp.start
        self._stack().pop()
        self._local.mark = None
        self._set_group(sp.prev_group)

    def mark(self, name: str) -> None:
        """Charge this thread's next jobs, up to its next span, to a
        new span ``name`` (its wall time stays 0; use job times)."""
        idx = self._new_span(name)
        sp = self.spans[idx]
        prev = getattr(self._local, "mark", None)
        sp.prev_group = prev.prev_group if prev is not None else self._current_group()
        self._local.mark = sp
        self.sc.setJobGroup(sp.group, name)

    def _current_group(self) -> tuple:
        return self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC)

    def _set_group(self, group: tuple) -> None:
        self.sc.setLocalProperty(_GROUP, group[0])
        self.sc.setLocalProperty(_DESC, group[1])

    # -- wrapping ----------------------------------------------------------

    def wrap_function(self, module, attr: str, name: str, on_return: Callable | None = None) -> None:
        """Replace ``module.attr`` with a traced stand-in, in every
        loaded package module that imported it by name."""
        orig = getattr(module, attr)
        traced = _TracedFunction(self, name, orig, on_return)
        pkg = module.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(pkg):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._restore.append((mod, key, val))
                    setattr(mod, key, traced)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._restore.append((cls, attr, orig))
        setattr(cls, attr, traced)

    def uninstall(self) -> None:
        for owner, key, val in reversed(self._restore):
            setattr(owner, key, val)
        self._restore.clear()

    # -- status store --------------------------------------------------------

    def collect(self) -> dict[int, dict]:
        """Attach job ids to spans; return per-job stage metrics plus
        the job's own wall time (submission to completion)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {sp.group: i for i, sp in enumerate(self.spans)}
        for sp in self.spans:
            sp.jobs.clear()
        jobs = store.jobsList(None)
        job_stages: dict[int, list[int]] = {}
        job_wall: dict[int, float] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in by_group:
                continue
            jid = int(j.jobId())
            self.spans[by_group[g.get()]].jobs.append(jid)
            ids = str(j.stageIds().mkString(","))
            job_stages[jid] = [int(s) for s in ids.split(",") if s]
            sub, done = j.submissionTime(), j.completionTime()
            timed = sub.isDefined() and done.isDefined()
            job_wall[jid] = (done.get().getTime() - sub.get().getTime()) / 1000.0 if timed else 0.0
        # a job lists the stages it skipped (their shuffle output was
        # reused) under the ids they ran with; charge each stage once,
        # to the first job that lists it, which is the job it ran in
        charged: set[int] = set()
        out: dict[int, dict] = {}
        for jid in sorted(job_stages):
            agg = dict.fromkeys(STAGE_FIELDS, 0.0)
            for sid in job_stages[jid]:
                if sid in charged:
                    continue
                charged.add(sid)
                m = _stage_metrics(store, sid)
                for k in STAGE_FIELDS:
                    agg[k] += m[k]
            agg["wall_s"] = job_wall[jid]
            out[jid] = agg
        return out

    # -- span tree helpers ---------------------------------------------------

    def descendants(self, idx: int) -> list[int]:
        todo, seen = [idx], []
        while todo:
            i = todo.pop()
            seen.append(i)
            todo.extend(self.spans[i].children)
        return seen

    def jobs_under(self, idx: int) -> list[int]:
        return [j for i in self.descendants(idx) for j in self.spans[i].jobs]

    def named(self, name: str) -> list[int]:
        return [i for i, sp in enumerate(self.spans) if sp.name == name]

    def wall(self, name: str) -> float:
        return sum(self.spans[i].wall_s for i in self.named(name))

    def jobs_named(self, name: str) -> list[int]:
        return [j for i in self.named(name) for j in self.jobs_under(i)]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> int:
        self.idx = self.tracer._enter(self.name)
        return self.idx

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.idx)


def _stage_metrics(store, stage_id: int) -> dict:
    """Metrics of the last attempt of one stage; a stage that was
    skipped (its shuffle output reused) has no attempt and counts 0."""
    try:
        s = store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 — skipped stage: never attempted
        return dict.fromkeys(STAGE_FIELDS, 0.0)
    return {
        "exec_s": s.executorRunTime() / 1000.0,
        "shuffle_mb": s.shuffleWriteBytes() / 2**20,
        "spill_mb": s.diskBytesSpilled() / 2**20,
        "tasks": float(s.numCompleteTasks() + s.numFailedTasks()),
    }


def sum_jobs(job_metrics: dict[int, dict], job_ids: list[int]) -> dict:
    """Stage totals and job wall time over a set of jobs, plus the job
    count."""
    agg = dict.fromkeys((*STAGE_FIELDS, "wall_s"), 0.0)
    for j in job_ids:
        for k in agg:
            agg[k] += job_metrics.get(j, {}).get(k, 0.0)
    agg["jobs"] = float(len(job_ids))
    return agg
