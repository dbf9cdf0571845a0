"""Spans around calls into each layer, and the process-tree memory peak.

Spans are recorded from the benchmark's own files only: each holds a
name, start and end (seconds since the tracer started), the id of the
enclosing span and the run id. They stay in memory until `write`.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_pids(root: int) -> list[int]:
    """`root` and its descendants, leaving out processes the JVM is
    still spawning: until such a child execs, it still runs the java
    binary and shares the JVM's memory, so /proc would count the heap
    twice."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        kids = children.get(p, ())
        exe = _exe(p) if kids else None
        if exe is not None and os.path.basename(exe) == "java":
            kids = [c for c in kids if _exe(c) != exe]
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers) on a background thread, except inside
    `paused()`."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()  # held while sampling or paused
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            with self._lock:
                self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    @contextmanager
    def paused(self):
        """No sample is taken inside the block, nor one begun before it."""
        with self._lock:
            yield

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
