"""Process-tree sampler: CPU seconds and per-process peak RSS of every
descendant of this process (the Spark JVM and its Python daemon and
workers), read from /proc.

A background thread polls the tree; ``begin()`` and ``end()`` bracket a measured
region. CPU is the sum over processes of the utime+stime gained inside
the window (a process that exits between two polls loses at most one
poll interval). Peak RSS per Python process is the larger of the polled
VmRSS and VmHWM, whose high-water mark is reset at window start through
``/proc/<pid>/clear_refs`` so set-up work does not leak into it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu_s) of ``pid`` or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def _rss_kb(pid: int) -> tuple[int, int]:
    """(VmRSS, VmHWM) in KiB, zeros if unreadable."""
    rss = hwm = 0
    try:
        with open(f"/proc/{pid}/status", "rb") as fh:
            for line in fh:
                if line.startswith(b"VmRSS:"):
                    rss = int(line.split()[1])
                elif line.startswith(b"VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return rss, hwm


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv0 = fh.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class TreeSampler:
    """Polls the descendants of this process every ``INTERVAL`` seconds."""

    INTERVAL = 0.2

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0: dict[int, float] = {}
        self._cpu1: dict[int, float] = {}
        self._peak_kb: dict[int, int] = {}
        self._python: dict[int, bool] = {}
        self._active = False

    def start(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="tree-sampler")
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _poll(self) -> None:
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is None:
                continue
            if pid not in self._python:
                self._python[pid] = _is_python(pid)
            with self._lock:
                if not self._active:
                    continue
                # a process born inside the window starts from zero CPU
                self._cpu0.setdefault(pid, 0.0)
                self._cpu1[pid] = st[1]
                if self._python[pid]:
                    rss, hwm = _rss_kb(pid)
                    self._peak_kb[pid] = max(self._peak_kb.get(pid, 0),
                                             rss, hwm)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._poll()

    def begin(self) -> None:
        """Open a window: snapshot CPU, reset Python high-water marks."""
        pids = descendants(self.root)
        cpu0 = {}
        for pid in pids:
            st = _stat(pid)
            if st is not None:
                cpu0[pid] = st[1]
            if self._python.setdefault(pid, _is_python(pid)):
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")
                except OSError:
                    pass
        with self._lock:
            self._cpu0, self._cpu1, self._peak_kb = cpu0, dict(cpu0), {}
            self._active = True

    def mark(self) -> float:
        """CPU seconds the tree has used since ``begin()``, read now."""
        self._poll()
        with self._lock:
            return sum(self._cpu1[p] - self._cpu0.get(p, 0.0)
                       for p in self._cpu1)

    def end(self) -> dict:
        """Close the window; returns cpu_s and the peak worker RSS."""
        cpu = self.mark()
        with self._lock:
            self._active = False
            peak = max(self._peak_kb.values(), default=0)
        return {"cpu_s": cpu, "worker_peak_rss_mb": peak / 1024.0}


def wait_for_exit(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the survivors."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None]
        if alive:
            time.sleep(0.05)
    return alive
