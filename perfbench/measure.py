"""Host-side measurement: CPU seconds and resident memory of this
process's tree (driver, Spark JVM, Python workers), read from ``/proc``.
"""

from __future__ import annotations

import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss kB)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # fields[0] is state; utime stime cutime cstime are stat 14-17
        cpu = sum(int(x) for x in fields[11:15]) / _TCK
        out[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE_KB)
    return out


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and all its
    descendants, including children they have already reaped."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    pids = [root] + _descendants(table, root)
    return sum(table[p][1] for p in pids if p in table)


def descendant_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return _descendants(_proc_table(), root)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie; reaps it if it is
    a finished child of this process."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL what outlives the
    timeout, then wait for that. (Orphans are re-parented away from this
    process, so they are tracked by the pids listed before their parent
    stopped.)"""
    import signal
    import time

    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        pids = [p for p in pids if _running(p)]
        if not pids:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {pids} did not exit")
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.1)


def become_subreaper() -> bool:
    """Make this process the reaper of its orphaned descendants (Linux
    ``prctl(PR_SET_CHILD_SUBREAPER)``): a process whose parent exits is
    re-parented here instead of to init, so it stays in this process's
    tree, where ``stop_descendants`` finds it."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0  # 36 = PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        return False


def stop_descendants(grace_s: float = 5.0) -> list[int]:
    """Stop every process still running below this one and wait until
    each has ended: SIGTERM, then SIGKILL for what outlives ``grace_s``.
    Reaps the zombies left to this process. Returns the pids that were
    still running."""
    import signal

    left = []
    for _ in range(3):  # a killed process's own children move up to us
        pids = [p for p in descendant_pids() if _running(p)]
        if not pids:
            break
        left += pids
        for p in pids:
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
        wait_gone(pids, timeout_s=grace_s)
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    return left


def children_rss_mb(root: int | None = None) -> tuple[float, float]:
    """Summed resident memory of the descendants of ``root`` (the JVM
    and its Python workers, not the driver interpreter): (total, the
    largest single process — the JVM)."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    rss = [table[p][2] for p in _descendants(table, root) if p in table]
    return sum(rss) / 1024, max(rss, default=0) / 1024


class RssPeak:
    """Samples ``children_rss_mb`` on a thread; ``peak_mb`` is the
    largest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_largest_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def _sample(self) -> None:
        total, largest = children_rss_mb()
        self.peak_mb = max(self.peak_mb, total)
        self.peak_largest_mb = max(self.peak_largest_mb, largest)

    def start(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat: the share of
    a span that the hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(n=4)``."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
