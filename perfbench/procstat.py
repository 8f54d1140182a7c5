"""CPU and RSS of a process tree, read from ``/proc``.

The tree is a root process (the benchmark itself) and every descendant:
the Spark JVM and the Python workers it starts.  CPU per process counts
``utime + stime`` plus the ``cutime + cstime`` of children it has reaped,
so a worker that exits inside a measured window still counts, through the
parent that waited for it.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None  # exited between listing and reading
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def cpu_seconds(pid: int) -> float:
    """CPU seconds of one process, including reaped children; 0 if gone."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(int(v) for v in fields[11:15]) / CLK_TCK


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_SIZE
    except OSError:
        return 0


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv0 = fh.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return os.path.basename(argv0) == b"java"


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from the
    aggregate ``cpu`` line of ``/proc/stat``.  Steal is time the hypervisor
    gave this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class TreeStats:
    """CPU snapshots of a tree plus a background peak-RSS sampler."""

    def __init__(self, root: int | None = None, period_s: float = 0.1) -> None:
        self.root = os.getpid() if root is None else root
        self.period_s = period_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> float:
        """CPU seconds of the whole tree."""
        return sum(cpu_seconds(p) for p in tree_pids(self.root))

    def worker_cpu(self) -> float:
        """CPU seconds of the tree minus the root and any JVM: the Python
        worker processes Spark starts."""
        return sum(cpu_seconds(p) for p in tree_pids(self.root) if p != self.root and not is_jvm(p))

    def rss(self) -> int:
        return sum(rss_bytes(p) for p in tree_pids(self.root))

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, self.rss())
            self._stop.wait(self.period_s)

    def start(self) -> "TreeStats":
        self._thread = threading.Thread(target=self._sample, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_rss = max(self.peak_rss, self.rss())
