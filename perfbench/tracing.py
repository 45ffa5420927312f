"""In-memory spans for the traced run, recorded from outside the package.

The traced run replaces public functions of the package's modules with
wrappers (``Tracer.wrap``) for the length of the run; nothing in the
package knows about tracing. A span has a name, a start, an end, a
parent and the id of the run or dashboard request it belongs to.
Spans stay in memory and are written out when the run ends.

Spark is lazy: a wrapper around a function that returns a DataFrame
would only time plan building. With ``force=True`` the wrapper
persists the returned DataFrame and counts it inside the span, so the
span holds the work and later consumers read the cached rows. The
cost of that forcing is part of the traced-vs-untraced difference
that the run reports as tracing overhead.

Each span also gets its own Spark job group, so the jobs, stages and
tasks it started can be read back from ``statusTracker()``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.spark = None  # set once the session is up
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._muted = False
        self._persisted: list = []
        self._group_jobs: dict[int, list[int]] = {}
        self._job_stages: dict[int, list[int]] = {}
        self._stage_tasks: dict[int, int] = {}

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setJobGroup(self.run_id, "benchmark run")
        else:
            sc.setJobGroup(f"span-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace_id": trace_id or (parent["trace_id"] if parent else self.run_id),
            "attrs": attrs,
            "start": time.perf_counter(),
        }
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def count(self, name: str, value: float = 1) -> None:
        with self._lock:
            self.counts[name] += value

    # -- wrapping the package's functions -----------------------------------

    @contextmanager
    def _own_jobs(self):
        """Run the tracer's own Spark jobs (forcing, counting) under a
        group of their own, so a span's group counts only the
        program's jobs."""
        stack = self._stack()
        if self.spark is not None and stack:
            self.spark.sparkContext.setJobGroup(f"tracing-{stack[-1]['id']}", "tracing")
        try:
            yield
        finally:
            self._set_group(stack[-1] if stack else None)

    @contextmanager
    def muted(self):
        """Call the wrapped functions without spans or counts."""
        self._muted = True
        try:
            yield
        finally:
            self._muted = False

    def force(self, df):
        """Materialize a DataFrame inside the current span."""
        with self._own_jobs():
            df = df.persist()
            n = df.count()
        self._persisted.append(df)
        return df, n

    def wrap(self, owner, attr: str, name: str, force: bool = False, after=None, attrs=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``after(span,
        args, kwargs, result)`` may record counts; ``attrs(args,
        kwargs)`` names span attributes taken from the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._muted:
                return orig(*args, **kwargs)
            extra = attrs(args, kwargs) if attrs else {}
            with tracer.span(name, **extra) as s:
                out = orig(*args, **kwargs)
                if force:
                    out = tracer._force_result(out, s)
                if after is not None:
                    with tracer._own_jobs():
                        after(s, args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def _force_result(self, out, span):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out, span["attrs"]["rows"] = self.force(out)
        elif isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
            df, span["attrs"]["rows"] = self.force(out[0])
            out = (df, *out[1:])
        return out

    def release(self) -> None:
        """Drop the DataFrames forced so far (end of a phase)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.release()

    # -- reading the trace back ------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def spark_counts(self, span_ids) -> dict[str, int]:
        """Jobs, stages that ran, tasks and single-task stages started
        under the job groups of ``span_ids``."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = single = 0
        for sid in span_ids:
            if sid not in self._group_jobs:
                self._group_jobs[sid] = list(tracker.getJobIdsForGroup(f"span-{sid}"))
            for jid in self._group_jobs[sid]:
                if jid not in self._job_stages:
                    info = tracker.getJobInfo(jid)
                    self._job_stages[jid] = list(info.stageIds) if info else []
                jobs += 1
                for st in self._job_stages[jid]:
                    if st not in self._stage_tasks:
                        si = tracker.getStageInfo(st)
                        # a skipped stage (its shuffle output was
                        # reused) completes no task: it did not run
                        ran = si is not None and si.numCompletedTasks > 0
                        self._stage_tasks[st] = si.numTasks if ran else 0
                    n = self._stage_tasks[st]
                    stages += n > 0
                    tasks += n
                    single += n == 1
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "single_task_stages": single}

    def to_json(self) -> list[dict]:
        st = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "trace_id": s["trace_id"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(st[s["id"]], 6),
                "attrs": s["attrs"],
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
