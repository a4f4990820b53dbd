"""Spans and Spark counters, recorded from outside the engine.

A traced run wraps the public functions of each engine layer in a span
(name, layer, start, end, parent, operation id). Nothing in the package
is edited: the wrappers replace module and class attributes at start-up.

Every operation the workload issues runs under its own Spark job group.
After the operation (outside its timed region) :meth:`Tracer.end_op`
reads the group's jobs and stages from ``statusTracker()`` and their
task time, CPU time and shuffle bytes from the status store — both work
with the UI off. Each job is charged to the innermost span of its
operation that was open when the job was submitted, so a layer's Spark
counters are the jobs it launched itself, not those of its callees.
"""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Span:
    __slots__ = ("sid", "name", "layer", "t0", "t1", "parent", "op", "attrs",
                 "children", "jobs")

    def __init__(self, sid, name, layer, parent, op):
        self.sid, self.name, self.layer = sid, name, layer
        self.parent, self.op = parent, op
        self.t0 = time.time()
        self.t1 = None
        self.attrs: dict = {}
        self.children: list[Span] = []
        self.jobs: list[dict] = []

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def subtree(self) -> list["Span"]:
        """This span and all its descendants, breadth first."""
        out = [self]
        for s in out:
            out.extend(s.children)
        return out

    @property
    def self_s(self) -> float:
        """Wall time not covered by any child (children on worker threads
        may overlap each other)."""
        return self.wall - _covered([(c.t0, c.t1) for c in self.children],
                                    self.t0, self.t1)


def _covered(intervals: list[tuple[float, float]], a: float, b: float) -> float:
    """Length of the union of ``intervals`` clipped to [a, b]."""
    total, end = 0.0, a
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, b)
        if e > s:
            total += e - s
            end = e
    return total


class Tracer:
    """Records spans; a disabled tracer only sets job groups and times ops."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._op: Span | None = None
        self._op_groups: list[str] = []
        self.ops: list[Span] = []
        self._pending_frames: list[tuple[Span, DataFrame]] = []
        self.patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str, layer: str) -> Span:
        st = self._stack()
        # a thread's first span hangs under the span that started the
        # thread, or else (a streaming foreachBatch callback) under the
        # operation that is running
        parent = st[-1] if st else (
            getattr(threading.current_thread(), "_perfbench_parent", None) or self._op)
        sp = Span(next(self._ids), name, layer, parent,
                  self._op.sid if self._op else None)
        if parent is not None:
            parent.children.append(sp)
        st.append(sp)
        # jobs submitted while the span is open carry its tag (threads
        # started inside it inherit the tag with the other local
        # properties), which names the span that launched them
        self.sc.addJobTag(f"pb{sp.sid}")
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.time()
        self.sc.removeJobTag(f"pb{sp.sid}")
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        """A span around a block; nothing when tracing is off."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, layer)
        try:
            yield sp
        finally:
            self._close(sp)

    def begin_op(self, kind: str) -> Span:
        sp = Span(next(self._ids), kind, "op", None, None)
        sp.op = sp.sid
        self._op = sp
        self._op_groups = [f"perfbench-{os.getpid()}-{sp.sid}"]
        self.sc.setJobGroup(self._op_groups[0], kind)
        self._stack().append(sp)
        return sp

    def add_group(self, group: str) -> None:
        """Jobs of a streaming query run under its own run-id group."""
        self._op_groups.append(group)

    def end_op(self, sp: Span) -> float:
        """Close the operation; return its wall time. Counter collection
        happens after the clock stops."""
        sp.t1 = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self._op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if self.enabled:
            self._collect(sp)
            self.ops.append(sp)
        return sp.wall

    # ------------------------------------------------------- Spark side

    def _collect(self, op: Span) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        spans = [s for s in op.subtree() if s.t1 is not None]
        by_tag = {f"pb{s.sid}": s for s in spans}
        depth = {op.sid: 0}
        for s in spans[1:]:
            depth[s.sid] = depth[s.parent.sid] + 1
        for group in self._op_groups:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                jd = store.job(jid)
                sub = jd.submissionTime()
                comp = jd.completionTime()
                t_sub = sub.get().getTime() / 1000.0 if sub.isDefined() else op.t0
                t_end = comp.get().getTime() / 1000.0 if comp.isDefined() else op.t1
                job = {"id": jid, "t0": t_sub, "t1": t_end, "stages": 0,
                       "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                       "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
                for stage_id in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Exception:
                        continue  # evicted or never run
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: a reused shuffle
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks()
                    job["task_s"] += sd.executorRunTime() / 1e3
                    job["cpu_s"] += sd.executorCpuTime() / 1e9
                    job["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    job["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tagged = [by_tag[t] for t in jd.jobTags().mkString(",").split(",")
                          if t in by_tag]
                owner = max(tagged, key=lambda s: depth[s.sid], default=op)
                owner.jobs.append(job)
        # frames whose input files we count are planned by now; listing
        # their files here keeps it out of every timed span
        for sp, df in self._pending_frames:
            try:
                sp.attrs["input_files"] = list(df.inputFiles())
            except Exception:
                sp.attrs["input_files"] = []
        self._pending_frames = []

    def watch_frame(self, sp: Span, df) -> None:
        if isinstance(df, DataFrame):
            self._pending_frames.append((sp, df))

    # -------------------------------------------------------- patching

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(span, args, kwargs, result)`` runs inside the span."""
        orig = getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = tracer._open(label, layer)
            try:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, result)
                return result
            finally:
                tracer._close(sp)

        setattr(owner, attr, wrapper)
        self.patched.append((owner, attr, orig))

    def hook_threads(self) -> None:
        """Remember, on every thread started while tracing, which span
        started it."""
        orig = threading.Thread.start
        tracer = self

        def start(thread):
            st = tracer._stack()
            thread._perfbench_parent = st[-1] if st else tracer._op
            return orig(thread)

        threading.Thread.start = start
        self.patched.append((threading.Thread, "start", orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self.patched):
            setattr(owner, attr, orig)
        self.patched = []

    # ------------------------------------------------------- reporting

    def all_spans(self):
        return [s for op in self.ops for s in op.subtree()]

    def layer_report(self) -> dict:
        """Per layer: self time, span count, and Spark counters of the
        jobs its spans launched themselves. ``driver_s`` is self time
        during which no job of the operation was running."""
        rep: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for op in self.ops:
            spans = op.subtree()
            iv = [(j["t0"], j["t1"]) for s in spans for j in s.jobs]
            for s in spans:
                r = rep[s.layer]
                r["self_s"] += s.self_s
                r["calls"] += 1
                r["jobs"] += len(s.jobs)
                for k in ("stages", "tasks", "task_s", "cpu_s",
                          "shuffle_read_bytes", "shuffle_write_bytes"):
                    r[k] += sum(j[k] for j in s.jobs)
                busy_self = sum(_covered(iv, a, b) for a, b in _gaps(s))
                r["driver_s"] += max(0.0, s.self_s - busy_self)
        for r in rep.values():
            r["wait_s"] = max(0.0, r["task_s"] - r["cpu_s"])
        return {k: dict(v) for k, v in rep.items()}

    def op_summary(self) -> dict:
        """Per operation kind: count, median wall and median Spark jobs."""
        kinds: dict[str, list[Span]] = defaultdict(list)
        for op in self.ops:
            kinds[op.name].append(op)
        out = {}
        for name, ops in kinds.items():
            jobs = [sum(len(s.jobs) for s in op.subtree()) for op in ops]
            out[name] = {"n": len(ops),
                         "wall_s": statistics.median(o.wall for o in ops),
                         "jobs": statistics.median(jobs)}
        return out

    def check_nesting(self) -> list[str]:
        """Children lie within their parent; self time is never negative."""
        bad = []
        eps = 1e-6
        for s in self.all_spans():
            if s.self_s < -eps:
                bad.append(f"{s.name}: negative self time {s.self_s:.6f}")
            for c in s.children:
                if c.t0 < s.t0 - eps or c.t1 > s.t1 + eps:
                    bad.append(f"{c.name} escapes parent {s.name}")
        return bad


def _gaps(s: Span) -> list[tuple[float, float]]:
    """The parts of ``s`` not covered by any of its children."""
    out, at = [], s.t0
    for a, b in sorted((c.t0, c.t1) for c in s.children):
        if a > at:
            out.append((at, min(a, s.t1)))
        at = max(at, b)
    if at < s.t1:
        out.append((at, s.t1))
    return out
