"""CPU time and resident memory of this process and its descendants (the
Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List, Tuple

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> List[str]:
    """Fields of /proc/<pid>/stat after the parenthesised command name,
    so index 0 is field 3 (state) of proc(5)."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2 :].split()


def tree(root: int) -> Dict[int, List[str]]:
    """{pid: stat fields} for ``root`` and all its live descendants."""
    stats: Dict[int, List[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _stat(int(name))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                pass
    children: Dict[int, List[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out: Dict[int, List[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> Dict[int, float]:
    """{pid: user+sys CPU seconds, reaped children included} over the tree."""
    return {
        pid: sum(int(st[i]) for i in (11, 12, 13, 14)) / _TICKS
        for pid, st in tree(root).items()
    }


def cpu_delta(before: Dict[int, float], after: Dict[int, float]) -> float:
    """CPU seconds the tree spent between two ``cpu_seconds`` readings."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def host_stat() -> List[int]:
    """The machine's (busy, steal) CPU ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 10
    # user nice system idle iowait irq softirq steal ...
    return [v[0] + v[1] + v[2] + v[5] + v[6], v[7]]


class Stopwatch:
    """Times a ``with`` block by the wall clock, and reads how much of the
    machine's CPU time the hypervisor stole meanwhile.

    ``steal_share`` is steal / (busy + steal) ticks: of the time the
    virtual CPUs had work to run, the part they were not given. On a shared
    host it swings from 1% to over 30% between minutes. ``steal_free`` is
    the wall time without that share, i.e. the time the block would have
    taken had no CPU been stolen: work that needs the CPU for t seconds
    takes t / (1 - share) while a share of it is stolen."""

    def __enter__(self) -> "Stopwatch":
        self._stat = host_stat()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._stat, host_stat()))
        self.steal_share = steal / (busy + steal) if busy + steal else 0.0
        self.steal_free = self.wall * (1 - self.steal_share)
        return False


def rss_bytes(root: int) -> int:
    return sum(int(st[21]) for st in tree(root).values()) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.procs_at_peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._done.is_set():
            t = tree(self.root)
            rss = sum(int(st[21]) for st in t.values()) * _PAGE
            if rss > self.peak:
                self.peak, self.procs_at_peak = rss, len(t)
            self._done.wait(self.interval_s)

    def stop(self) -> int:
        self._done.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, rss_bytes(self.root))
        return self.peak


def reap_descendants(root: int, timeout_s: float = 20.0) -> List[Tuple[int, str]]:
    """Terminate every live descendant of ``root`` and wait for each to
    end (SIGKILL after ``timeout_s``). Returns the (pid, state) pairs that
    were still alive when called."""
    left = [(pid, st[0]) for pid, st in tree(root).items() if pid != root]
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and len(tree(root)) > 1:
        _reap_children()
        time.sleep(0.1)
    for pid in tree(root):
        if pid != root:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while len(tree(root)) > 1 and time.monotonic() < deadline + 10:
        _reap_children()
        time.sleep(0.1)
    return left


def _reap_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
