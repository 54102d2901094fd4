"""Spans around the program's public functions, resolved to Spark work.

`Tracer.wrap(module, attr)` replaces a module attribute with a wrapper, so
every caller that looks the name up on the module (the program imports its
layers inside function bodies, or calls them as module globals) goes
through it. A span records its name, start, end, parent and request id,
and the Spark jobs its request's job group gained while it was open.
Spans stay in memory; `resolve()` reads stages and task metrics from the
in-process status store once the run is over, and `dump()` writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    # filled by resolve()
    stages: int = 0
    task_ms: float = 0.0
    input_rows: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    max_input_tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.request: str | None = None

    # -- requests -----------------------------------------------------------

    def begin_request(self, rid: str) -> None:
        """Every job until the next request lands in job group `rid`."""
        if not self.enabled:
            return
        self.request = rid
        self.sc.setJobGroup(rid, rid)

    def _group_jobs(self) -> set[int]:
        if self.request is None:
            return set()
        return set(self.st.getJobIdsForGroup(self.request))

    # -- spans --------------------------------------------------------------

    def span(self, name: str, **extra):
        if not self.enabled:
            return contextlib.nullcontext()
        return _SpanCtx(self, name, extra)

    def _open(self, name: str, extra: dict) -> tuple[int, set[int]]:
        sp = Span(
            name,
            time.perf_counter(),
            self.stack[-1] if self.stack else None,
            self.request,
            extra=dict(extra),
        )
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self.stack.append(idx)
        return idx, self._group_jobs()

    def _close(self, idx: int, before: set[int]) -> None:
        sp = self.spans[idx]
        sp.jobs = sorted(self._group_jobs() - before)
        sp.end = time.perf_counter()
        self.stack.pop()

    def wrap(self, module, attr: str, name: str, counter=None) -> None:
        """Route calls to `module.attr` through a span called `name`.
        `counter`, a (key, fn) pair, records fn()'s growth over the call
        on the span under `key`."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            c0 = counter[1]() if counter else 0
            idx, before = tracer._open(name, {})
            try:
                return fn(*a, **kw)
            finally:
                tracer._close(idx, before)
                if counter:
                    tracer.spans[idx].extra[counter[0]] = counter[1]() - c0

        setattr(module, attr, wrapper)

    # -- resolution ---------------------------------------------------------

    def resolve(self) -> None:
        """Attach stage counts and task metrics to every span. A stage that
        several jobs of one span share (a reused shuffle) counts once."""
        if not self.enabled:
            return
        job_stages: dict[int, list[int]] = {}
        for sp in self.spans:
            for j in sp.jobs:
                if j not in job_stages:
                    info = self.st.getJobInfo(j)
                    job_stages[j] = list(info.stageIds) if info else []
        stages = _stage_table(self.sc)
        for sp in self.spans:
            seen = set()
            for j in sp.jobs:
                seen.update(job_stages.get(j, []))
            for s in seen:
                row = stages.get(s)
                if row is None or row["tasks"] == 0:
                    continue  # skipped: its work belongs to an earlier job
                sp.stages += 1
                sp.task_ms += row["run_ms"]
                sp.input_rows += row["input_rows"]
                sp.shuffle_bytes += row["shuffle_bytes"]
                sp.spill_bytes += row["spill_bytes"]
                sp.output_bytes += row["output_bytes"]
                if row["input_rows"] > 0:
                    sp.max_input_tasks = max(sp.max_input_tasks, row["tasks"])

    def dump(self, path: str) -> None:
        """One JSON line per span; `self_ms` is its duration minus the part
        its child spans cover (children of one span do not overlap)."""
        child_ms = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_ms[sp.parent] += sp.ms
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                rec = {
                    "id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                    "self_ms": sp.ms - child_ms[i],
                    "parent": sp.parent, "request": sp.request, "jobs": sp.jobs,
                    "stages": sp.stages, "task_ms": sp.task_ms,
                    "input_rows": sp.input_rows,
                    "shuffle_bytes": sp.shuffle_bytes,
                    "spill_bytes": sp.spill_bytes,
                    "output_bytes": sp.output_bytes, **sp.extra,
                }
                f.write(json.dumps(rec) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, extra: dict):
        self.t, self.name, self.extra = tracer, name, extra

    def __enter__(self):
        self.idx, self.before = self.t._open(self.name, self.extra)

    def __exit__(self, *exc):
        self.t._close(self.idx, self.before)
        return False


def _stage_table(sc) -> dict[int, dict]:
    """stageId -> task metrics of its latest attempt, from the status store
    (available with the UI disabled)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    seq = store.stageList(empty, False, False, quantiles, empty)
    out: dict[int, dict] = {}
    for i in range(seq.length()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid in out and out[sid]["attempt"] > s.attemptId():
            continue
        out[sid] = {
            "attempt": s.attemptId(),
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_ms": float(s.executorRunTime()),
            "input_rows": int(s.inputRecords()),
            "shuffle_bytes": int(s.shuffleWriteBytes()),
            "spill_bytes": int(s.diskBytesSpilled()),
            "output_bytes": int(s.outputBytes()),
        }
    return out
