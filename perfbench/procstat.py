"""Process-tree accounting from /proc: CPU seconds and summed RSS of
this process and every descendant (the JVM, the pyspark daemon and its
workers), and host steal time from /proc/stat."""

import os
import signal
import threading
import time
from typing import Dict, List, Optional, Tuple

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[Tuple[int, float, int, int, str, int]]:
    """(ppid, cpu seconds incl. reaped children, rss bytes, start ticks,
    state, vsize) of one process, or None if it has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # comm may hold spaces and parens: fields start after the last ')'
    rest = raw[raw.rfind(")") + 2:].split()
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return (int(rest[1]), ticks / CLK_TCK, int(rest[21]) * PAGE_SIZE,
            int(rest[19]), rest[0], int(rest[20]))


class ProcTree:
    """The live descendants of ``root``. A child's CPU moves into its
    parent's cutime/cstime when it is reaped, so summing
    utime+stime+cutime+cstime over the live tree counts finished workers
    too."""

    def __init__(self, root: int = None):
        self.root = root or os.getpid()

    def snapshot(self) -> Dict[int, tuple]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        children: Dict[int, List[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[0], []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                tree[pid] = procs[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        return sum(st[1] for st in self.snapshot().values())

    def rss_mb(self) -> float:
        """Summed RSS. A child that still shares its parent's memory (the
        JVM's posix_spawn child before exec, same vsize and rss) is the
        parent's memory counted twice, so it is left out."""
        tree = self.snapshot()
        total = 0
        for pid, st in tree.items():
            parent = tree.get(st[0])
            if parent is None or (parent[5], parent[2]) != (st[5], st[2]):
                total += st[2]
        return total / 2 ** 20

    def descendants(self) -> Dict[int, int]:
        """pid -> start time of every live descendant (not the root)."""
        return {pid: st[3] for pid, st in self.snapshot().items()
                if pid != self.root}


def host_steal_s() -> float:
    """Steal time of all host CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


class PassMeter:
    """Measures one timed pass: wall, process-tree CPU (less the
    sampler's own), peak summed RSS (sampled every ``interval`` s) and
    host steal."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        self.tree = tree
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._sampler_cpu = 0.0

    def _sample(self) -> None:
        while True:
            self.peak_rss_mb = max(self.peak_rss_mb, self.tree.rss_mb())
            if self._stop.wait(self.interval):
                break
        self._sampler_cpu = time.thread_time()

    def __enter__(self) -> "PassMeter":
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._steal0 = host_steal_s()
        self._cpu0 = self.tree.cpu_s()
        self._thread.start()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join()
        self.cpu_s = self.tree.cpu_s() - self._cpu0 - self._sampler_cpu
        self.steal_s = host_steal_s() - self._steal0


def reap(pids: Dict[int, int], timeout: float = 30.0) -> List[int]:
    """Wait until every process in ``pids`` (pid -> start time) has
    ended; SIGKILL what is left after ``timeout``. Returns the pids that
    had to be killed."""
    def alive(pid: int, start: int) -> bool:
        st = _stat(pid)
        return st is not None and st[3] == start and st[4] not in "ZX"

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(alive(p, s) for p, s in pids.items()):
            return []
        time.sleep(0.1)
    killed = [p for p, s in pids.items() if alive(p, s)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while (any(alive(p, s) for p, s in pids.items())
           and time.monotonic() < deadline):
        time.sleep(0.05)
    return killed
