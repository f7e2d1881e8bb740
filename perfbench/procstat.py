"""CPU and memory of this process's whole tree, read from ``/proc``.

The tree is the driver Python process, the JVM it launches and the Python
workers the JVM forks. ``RUSAGE_CHILDREN`` cannot be used instead: the JVM
is only reaped at exit, so it reports almost none of the tree's CPU.

Each process counts its own ``utime + stime`` plus ``cutime + cstime``,
the CPU of children it has already reaped; a process reaped between two
snapshots moves from its own entry into its parent's, so differences
between snapshots count every CPU second once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return comm, int(rest[1]), cpu


def tree(root: int | None = None) -> dict[int, tuple[str, int, float]]:
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in procs.items():
            if st[1] == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return {pid: procs[pid] for pid in keep if pid in procs}


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far by role: driver Python, JVM, Python workers."""
    root = root or os.getpid()
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for pid, (comm, _, cpu) in tree(root).items():
        if pid == root:
            out["driver_py"] += cpu
        elif comm.startswith("java"):
            out["jvm"] += cpu
        else:
            out["py_worker"] += cpu
    return out


def steal_seconds() -> float:
    """Host steal time accumulated on this machine, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def pss_bytes(pid: int) -> int:
    """Proportional set size: each page shared by n processes counts 1/n.
    Python workers are forked from one daemon and share most of their
    pages, so summed RSS would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or not ours to read
        pass
    return 0


class MemorySampler:
    """Background sampler of the tree's summed PSS, every ``interval_s``
    while ``armed`` is set."""

    def __init__(self, armed: threading.Event, interval_s: float = 0.2):
        self.armed = armed
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.armed.is_set():
                self.samples.append(sum(pss_bytes(pid) for pid in tree()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
