"""Host sizing and process-tree accounting, read from /proc.

The extraction job runs as one driver process whose JVM and Python
workers are its descendants, so the job's cost is the CPU time and the
resident memory of that whole tree.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap sized to the host: an eighth of physical memory,
    between 1 GiB and 4 GiB (the package default asks for 48g). The
    benchmark's corpora are tens of MB."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f
                         if line.startswith("MemTotal:"))
    mib = min(max(total_kib // 1024 // 8, 1024), 4096)
    return f"{mib}m"


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    # the command name may hold spaces or parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[int, float]:
    """pid -> user + system CPU seconds, including reaped children."""
    out = {}
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            out[pid] = sum(int(x) for x in fields[11:15]) / _CLK_TCK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree used between two ``tree_cpu`` snapshots;
    a process born in between counts in full."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


def jvm_heap_mb(spark) -> float:
    """The driver JVM's committed Java heap. Committed heap regions are
    resident once the collector has cycled through them (within 1% of
    the heap mapping's resident size after the first job)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20


class PeakRss:
    """Samples the tree's resident memory, less ``exclude_mb()``, on a
    background thread while active. ``peak_mb`` is the largest value
    two consecutive samples both reach: a process the JVM spawns shares
    the JVM's address space until it execs, and a single sample in that
    window counted the JVM twice; a real peak lasts longer than one
    interval."""

    def __init__(self, exclude_mb, interval_s: float = 0.1):
        self.exclude_mb = exclude_mb
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._last = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def _sample(self) -> None:
        now = tree_rss_mb() - self.exclude_mb()
        self.peak_mb = max(self.peak_mb, min(now, self._last))
        self._last = now

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)


def wait_exit(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` runs any more (orphans of a stopped
    JVM are re-parented, so they are tracked by pid, not by tree);
    returns the pids still running at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids
                 if (f := _stat_fields(p)) is not None and f[0] != "Z"]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)
