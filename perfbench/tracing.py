"""In-memory span tracer and process-tree helpers (memory sampling,
descendant listing).

Spans are recorded only around the benchmark's own calls into the
program's layers (the program itself is not instrumented). Each span
holds ``(id, name, start, end, parent, trace)``; ``trace`` is the id of
the root span it descends from, so spans caused by one operation share
it. Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the body; yields the span id (None when
        tracing is off) so callers can attach child spans."""
        if not self._on():
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        trace = stack[0] if stack else sid
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self._append(sid, name, start, end, parent, trace)

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (e.g. a stage timing the
        program reports) as a child of ``parent``."""
        if not self._on():
            return
        trace = next((s["trace"] for s in self.spans if s["id"] == parent), None)
        sid = next(self._ids)
        self._append(sid, name, start, end, parent, trace or sid)

    def _on(self) -> bool:
        return self.enabled and not getattr(self._local, "off", False)

    @contextmanager
    def suppressed(self):
        """Record no spans on this thread inside the body."""
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = False

    def _append(self, sid, name, start, end, parent, trace) -> None:
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "trace": trace}
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _process_table(page: int) -> tuple[dict[int, list[int]], dict[int, int]]:
    """``(children by parent pid, rss bytes by pid)`` of every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # process exited between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * page
    return children, rss


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children, _rss = _process_table(1)
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Summed resident set size of ``root_pid`` and all its descendants."""
    children, rss = _process_table(page)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS from /proc on a background thread;
    ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid(), self._page))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
