"""Measurement helpers that sit outside the engine: spans, whole-tree RSS,
host CPU steal.

Everything here reads the clock or /proc; nothing imports pyspark."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent), written once at the end
    of a run. When disabled, `span` only yields, so untraced runs pay no
    bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process exited while we were listing
        # comm may contain spaces and parentheses: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, ()))
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Waits until none of `pids` is running (zombies count as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        pids = alive
        time.sleep(0.1)


def _status(pid: int) -> tuple[str, int]:
    """(Name, VmRSS in kB) from /proc/<pid>/status; ("", 0) once exited."""
    name, rss = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                    break
    except OSError:
        pass
    return name, rss


def tree_rss_kb(root: int, heap_kb: int = 0) -> tuple[int, int]:
    """VmRSS summed over `root` and every descendant (the JVM that
    spark-submit starts and the Python workers the JVM forks), as
    (whole tree, whole tree less `heap_kb` of the JVM's)."""
    total = movable = 0
    for pid in [root] + descendants(root):
        name, rss = _status(pid)
        total += rss
        movable += max(0, rss - heap_kb) if name == "java" else rss
    return total, movable


class RssSampler:
    """Samples the process tree's RSS on a daemon thread and keeps the
    peaks: of the whole tree, and of the part the engine can move.

    session.py starts the JVM with -Xms equal to -Xmx and
    -XX:+AlwaysPreTouch, so its committed heap is resident from boot
    whatever the engine does. Set `heap_kb` to that heap once the JVM is
    up; the movable peak leaves it out of the JVM's RSS, and keeps the
    JVM's off-heap memory and every other process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.heap_kb = 0
        self.peak_kb = self.movable_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, movable = tree_rss_kb(os.getpid(), self.heap_kb)
        self.peak_kb = max(self.peak_kb, total)
        if self.heap_kb:
            self.movable_peak_kb = max(self.movable_peak_kb, movable)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        """Stops sampling; returns the (whole tree, movable) peaks in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak_kb / 1024.0, self.movable_peak_kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total > 0 else 0.0
