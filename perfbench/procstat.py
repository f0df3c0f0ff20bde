"""Resident memory and CPU time of a process tree, sampled from /proc.

The tree is this process and every descendant: the Spark driver JVM, the
Python worker daemon and its workers.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
MIN_AGE_S = 0.5


def _stat(pid: str):
    """(ppid, cpu seconds, rss bytes, name, start seconds after boot) of one
    process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, tail = f.read().rsplit(")", 1)
    except (FileNotFoundError, ProcessLookupError):
        return None
    fields = tail.split()
    # fields[0] is field 3 (state): ppid = 4, utime = 14, stime = 15,
    # starttime = 22, rss = 24
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    return int(fields[1]), cpu, int(fields[21]) * _PAGE, head.split("(", 1)[1], int(fields[19]) / _TICK


def tree(root: int) -> dict[int, tuple[float, int, str, float]]:
    """{pid: (cpu seconds, rss bytes, name, start)} for `root` and all its
    descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            todo.extend(kids.get(pid, []))
    return out


class Sampler:
    """Samples the tree every `interval` seconds between start() and stop():
    peak summed RSS, and CPU seconds spent inside the window (a process that
    exits mid-window counts up to its last sample)."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self.peak_parts: list = []  # (name, rss MB) of each process at the peak
        self.rep_peaks: list[int] = []  # peak summed RSS of each rep, see mark()
        self._rep_peak = 0
        self._first: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        snap = tree(self.root)
        with open("/proc/uptime") as f:
            now = float(f.read().split()[0])
        # A process younger than MIN_AGE_S may be the JVM forking a Python
        # worker before exec: its RSS is the JVM's own, shared, not new memory.
        settled = [(name, rss) for _, rss, name, start in snap.values() if now - start >= MIN_AGE_S]
        total = sum(rss for _, rss in settled)
        self._rep_peak = max(self._rep_peak, total)
        if total > self.peak_rss:
            self.peak_rss = total
            self.peak_parts = sorted(((n, rss / 2**20) for n, rss in settled), key=lambda p: -p[1])
        for pid, (cpu, *_) in snap.items():
            self._first.setdefault(pid, cpu if not self._started else 0.0)
            self._last[pid] = cpu

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._started = False
        self._sample()  # processes alive at the start count from here
        self._started = True
        self._thread.start()

    def mark(self) -> None:
        """Close one rep: its peak is the highest sample since the last
        mark (or start), this sample included."""
        self._sample()
        self.rep_peaks.append(self._rep_peak)
        self._rep_peak = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def cpu_s(self) -> float:
        return sum(self._last[p] - self._first[p] for p in self._last)
