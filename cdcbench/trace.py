"""In-memory span recorder and process-tree peak-RSS sampler.

Spans are recorded by the benchmark's own code around calls into each
layer's public functions (no instrumentation inside the program), plus
per-trigger spans rebuilt from `StreamingQueryProgress`. They stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    trace_id: str
    span_id: int
    parent: int | None


class Tracer:
    """Collects spans. ``enabled=False`` makes :meth:`span` a no-op, which
    is how the untraced run pays nothing for the tracing calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next = 0
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def add(self, name: str, start: float, end: float, trace_id: str, parent: int | None = None) -> int:
        sid = self._new_id()
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, trace_id, sid, parent))
        return sid

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield None
            return
        stack = self._parents()
        sid = self._new_id()
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, start, time.time(), trace_id, sid, parent))

    def current(self) -> int | None:
        stack = self._parents()
        return stack[-1] if stack else None

    def add_query(self, progress: list, trace_id: str, started: float) -> None:
        """Spans of one finished streaming query, under the current span:
        ``engine.startup`` from the ``start()`` call to the first trigger,
        then per trigger an ``engine.trigger`` span with one child per
        engine phase, laid out back to back from the trigger's start (the
        progress gives durations, not start times). Sink spans that ran
        inside a trigger's addBatch are re-parented under it, so the span
        tree nests and self times add up to wall time."""
        if not self.enabled or not progress:
            return
        parent = self.current()
        self.add("engine.startup", started, epoch(progress[0]["timestamp"]), trace_id, parent)
        add_batch = []
        for p in progress:
            start = epoch(p["timestamp"])
            dur = p["durationMs"]
            tid = self.add("engine.trigger", start, start + dur.get("triggerExecution", 0) / 1e3, trace_id, parent)
            t = start
            for phase in ("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets"):
                ms = dur.get(phase, 0)
                sid = self.add(f"engine.{phase}", t, t + ms / 1e3, trace_id, tid)
                if phase == "addBatch":
                    add_batch.append((t, t + ms / 1e3, sid))
                t += ms / 1e3
        with self._lock:
            for i, s in enumerate(self.spans):
                # foreachBatch runs on a callback thread: its top spans have no parent
                if s.parent not in (None, parent) or s.trace_id != trace_id or s.name.startswith("engine."):
                    continue
                mid = (s.start + s.end) / 2
                for lo, hi, sid in add_batch:
                    if lo <= mid <= hi:
                        self.spans[i] = Span(s.name, s.start, s.end, s.trace_id, s.span_id, sid)
                        break

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Sum over spans called ``name`` of duration minus the part of it
        that child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            total += (s.end - s.start) - covered
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def epoch(iso: str) -> float:
    """Epoch seconds of a `StreamingQueryProgress` ISO timestamp."""
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# Peak RSS across the process tree (psutil-free: /proc)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident set size of this process and all its
    descendants — the Spark driver JVM and its Python workers — and keeps
    the highest sum seen. A sum of per-process high-water marks (VmHWM)
    would also count every short-lived worker that ever existed, which
    varies from run to run."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children_map()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
