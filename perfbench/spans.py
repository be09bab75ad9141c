"""Measurement helpers: spans, job and stage counts, plan metrics, py4j
round trips, process-tree memory and the host sentinel.

Spans are recorded from the benchmark's own files by wrapping the module
attributes the engine calls; nothing inside the package is changed. Spans
are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Nested spans. A span's self time is its duration minus that of its
    children. ``op`` is the id of the op (batch, turn or pass) the span
    belongs to."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "op": self.op,
            "parent": parent["name"] if parent else None,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]

    @contextmanager
    def wrapping(self, *specs):
        """Within the block, replace each ``(owner, attr, name[, after])``
        attribute with a call recorded as span ``name``. ``after`` runs on
        the result inside the span (used to materialize a layer's output
        at its boundary) and its return value replaces the result."""
        originals = []
        for owner, attr, name, *after in specs:
            orig = getattr(owner, attr)
            originals.append((owner, attr, orig))
            setattr(owner, attr, self._spanned(orig, name, *after))
        try:
            yield
        finally:
            for owner, attr, orig in originals:
                setattr(owner, attr, orig)

    def _spanned(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name) as rec:
                out = fn(*a, **kw)
                return after(out, rec) if after else out

        return spanned

    def summary(self) -> str:
        """One line per span name: count, median duration and self time."""
        lines = []
        for name in dict.fromkeys(s["name"] for s in self.spans):
            recs = self.named(name)
            lines.append(
                f"{name} (in {recs[0]['parent']}): n={len(recs)} "
                f"p50={self.p50(name):.3f}ms self_p50={self.p50(name, True):.3f}ms"
            )
        return "\n".join(lines)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    @staticmethod
    def dur_ms(rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1e3

    @staticmethod
    def self_ms(rec: dict) -> float:
        return (rec["end"] - rec["start"] - rec["child_s"]) * 1e3

    def p50(self, name: str, self_time: bool = False) -> float:
        f = self.self_ms if self_time else self.dur_ms
        return statistics.median(f(s) for s in self.named(name))


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, shuffle bytes written) of one job group, from the
    public status tracker plus the application status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages, written = 0, 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds:
            stages += 1
            try:
                data = store.stageAttempt(sid, 0, False, None, False, None)._1()
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            written += data.shuffleWriteBytes()
    return len(jobs), stages, written


def python_ms(df, walk) -> int:
    """``pythonTotalTime`` of the Python-boundary nodes in the executed
    plan of a DataFrame that has run, in milliseconds summed over tasks."""
    total = 0
    for node in walk(df._jdf.queryExecution().executedPlan()):
        metric = node.metrics().get("pythonTotalTime")
        if metric.isDefined():
            total += metric.get().value()
    return total


class Py4jCounter:
    """Counts driver-to-JVM round trips by wrapping the gateway client's
    ``send_command``."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0

        def counted(*a, **kw):
            self.calls += 1
            return self._orig(*a, **kw)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


def tree_pids(pid: int) -> list[int]:
    """``pid`` and all its descendants (driver, JVM, Python workers)."""
    out = [pid]
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = fh.read().split()
        except OSError:
            continue
        for k in kids:
            out.extend(tree_pids(int(k)))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM), in MB."""
    total_kb = 0
    for p in tree_pids(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def sentinel_ms() -> float:
    """Fixed pure-Python work, median of five timings. It does not touch
    the engine; a high value marks a busy host."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
