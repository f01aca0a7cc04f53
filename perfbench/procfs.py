"""Readers for a process tree in ``/proc``: CPU seconds and resident memory.

The engine is several processes: the driver Python, the JVM it launches,
and the Python workers the JVM forks. A process that has exited and been
waited for hands its CPU time to its parent's ``cutime``/``cstime``, so the
sum of ``utime + stime + cutime + cstime`` over the live tree counts every
process that ever ran under the root, reaped children included.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def read_stat(pid: int, proc: str = "/proc") -> list[str]:
    """Fields of ``/proc/<pid>/stat`` from field 3 (state) on.

    The command name (field 2) may hold spaces and parentheses, so the
    line is split after its last ``)``.
    """
    with open(f"{proc}/{pid}/stat") as f:
        line = f.read()
    return line[line.rindex(")") + 2 :].split()


def _all_stats(proc: str) -> dict[int, list[str]]:
    """Every live process's stat fields, from one scan of ``proc``."""
    stats = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            stats[int(entry)] = read_stat(int(entry), proc)
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue  # exited while the table was read
    return stats


def _tree_stats(root: int, proc: str) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every live descendant of it.

    ``/proc/<pid>/task/<tid>/children`` exists only on kernels built with
    CONFIG_PROC_CHILDREN, so the tree is found from the parent field of
    every process, read in one scan.
    """
    stats = _all_stats(proc)
    children: dict[int, list[int]] = {}
    for pid, stat in stats.items():
        children.setdefault(int(stat[1]), []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant of it."""
    return list(_tree_stats(root, proc))


def _sum_fields(root: int, proc: str, fields: tuple[int, ...]) -> int:
    return sum(
        int(stat[i]) for stat in _tree_stats(root, proc).values() for i in fields
    )


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    """CPU seconds used by ``root``'s tree, reaped children included."""
    # utime, stime, cutime, cstime are fields 14-17 (indices 11-14 here)
    return _sum_fields(root, proc, (11, 12, 13, 14)) / CLK_TCK


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    """Resident memory summed over ``root``'s live tree (field 24, pages)."""
    return _sum_fields(root, proc, (21,)) * PAGE_SIZE


def seconds_since_start(pid: int, proc: str = "/proc") -> float:
    """Seconds since ``pid`` started (field 22 against ``/proc/uptime``)."""
    start = int(read_stat(pid, proc)[19]) / CLK_TCK
    with open(f"{proc}/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start


def mem_total_bytes(proc: str = "/proc") -> int:
    with open(f"{proc}/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise ValueError("MemTotal missing from meminfo")


def loadavg(proc: str = "/proc") -> list[float]:
    with open(f"{proc}/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_seconds(proc: str = "/proc") -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the steal column of ``/proc/stat``), summed over CPUs."""
    with open(f"{proc}/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8]) / CLK_TCK
    raise ValueError("cpu line missing from stat")


class RssSampler:
    """Samples the tree's resident memory on a thread and keeps the peak.

    The thread runs inside the measured tree, so its own CPU time is
    available from ``cpu_seconds()`` for the caller to take off.
    """

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._tid: int | None = None
        self._started = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        self._tid = threading.get_native_id()
        self._started.set()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def cpu_seconds(self) -> float:
        """CPU seconds the sampling thread has used (utime + stime)."""
        stat = read_stat(self._tid, f"/proc/{os.getpid()}/task")
        return (int(stat[11]) + int(stat[12])) / CLK_TCK

    def __enter__(self) -> RssSampler:
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_for_descendants(root: int, timeout_s: float = 20.0) -> list[int]:
    """Wait for every descendant of ``root`` to exit; kill what outlives
    ``timeout_s``. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in process_tree(root) if p != root and _alive(p)]
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while time.monotonic() < end and any(_alive(p) for p in left):
            time.sleep(0.1)
    for pid in left:  # reap our own children; others are reaped by their parents
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
    return left


def _alive(pid: int) -> bool:
    try:
        return read_stat(pid)[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False
