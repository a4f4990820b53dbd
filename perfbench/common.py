"""Helpers shared by the workloads: timing loops, byte accounting,
result comparison and the traced/untraced split of a run."""

from __future__ import annotations

import math
import os
import statistics
import time


def dir_files(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed by a concurrent expire
    return out


class WriteMeter:
    """Bytes and files the engine wrote under a directory, from snapshots
    of its file set taken between operations (engine data and metadata
    files are write-once, so a path not seen before is a write)."""

    def __init__(self, path: str):
        self.path = path
        self.seen = dir_files(path)
        self.bytes = 0
        self.files = 0

    def update(self) -> tuple[int, int]:
        now = dir_files(self.path)
        new = {p: s for p, s in now.items()
               if p not in self.seen or self.seen[p] != s}
        self.seen = now
        b, n = sum(new.values()), len(new)
        self.bytes += b
        self.files += n
        return b, n


def measure(args, tr, rec: "Recorder", loop) -> tuple[float, dict]:
    """Run ``loop(seconds) -> elapsed``. Untraced, for ``args.seconds``.
    Traced, half the time untraced, then the layers are wrapped and the
    other half is traced; the returned extras carry the op p50 of both
    halves, whose difference is the tracing overhead."""
    if not args.trace:
        return loop(args.seconds), {}
    import layers

    loop(args.seconds / 2)
    untraced = statistics.median(rec.op_latencies)
    n = len(rec.op_latencies)
    layers.install(tr)
    tr.enabled = True
    loop_s = loop(args.seconds / 2)
    traced = statistics.median(rec.op_latencies[n:])
    return loop_s, {"trace.op_p50_s": traced, "trace.untraced_op_p50_s": untraced,
                    "trace.overhead_s": traced - untraced}


def closed_loop(seconds: float, step) -> float:
    """Call ``step()`` back to back until ``seconds`` have passed (at least
    once); return the elapsed wall."""
    t0 = time.perf_counter()
    while True:
        step()
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


def values_match(got, want, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    if isinstance(want, float) or isinstance(got, float):
        if got is None or want is None:
            return got is want
        if math.isnan(want):
            return math.isnan(got)
        return abs(got - want) <= max(abs_, rel * abs(want))
    return got == want


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(
        len(g) == len(w) and all(values_match(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want)
    )


class Recorder:
    """Latencies, checks and counters of one run."""

    def __init__(self):
        self.op_latencies: list[float] = []
        self.read_latencies: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.busy_s = 0.0  # engine time: the walls of all measured operations
        self.rows = 0  # rows processed by the operations timed in rows_s
        self.rows_s = 0.0

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok
