"""CPU time and resident memory of a process tree, read from ``/proc``
(psutil is not a dependency).

The tree is the benchmark process and every descendant: the Spark JVM,
the pyspark daemon it starts and the Python workers the daemon forks.
CPU time of a process counts its own user+sys ticks plus those of the
children it has reaped, so workers that exit inside a window are still
counted through their parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and ')' — fields follow the last ')'
    return raw[raw.rindex(b")") + 2:].split()


def tree(root: int) -> dict[int, int]:
    """{pid: cpu ticks incl. reaped children} for `root` and its
    descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                # ppid, utime + stime + cutime + cstime
                procs[int(name)] = (int(fields[1]),
                                    sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != b"Z"


def cpu_seconds(root: int) -> float:
    return sum(tree(root).values()) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb(root: int) -> float:
    """Resident memory of the tree as the sum of proportional set sizes:
    a page shared by forked processes (the daemon's Python workers, the
    JVM's short-lived fork+exec children) counts once, not per process.
    A process that exits before its smaps_rollup is read counts 0;
    counting its RSS instead would add every page it shared with its
    parent a second time."""
    return sum(_pss_kb(pid) for pid in tree(root)) / 1024


class Window:
    """Measures one interval: tree CPU seconds used inside it and the
    peak tree memory, sampled by a background thread every `interval`
    s. The sampler's own CPU time (reading smaps_rollup walks the page
    tables of the JVM) is not counted."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.cpu_s = 0.0
        self.peak_mb = 0.0
        self._sampler_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        t0 = time.thread_time()
        while True:
            self.peak_mb = max(self.peak_mb, memory_mb(self.root))
            if self._stop.wait(self.interval):
                self._sampler_cpu = time.thread_time() - t0
                return

    def __enter__(self) -> "Window":
        self._cpu0 = cpu_seconds(self.root)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu_s = (cpu_seconds(self.root) - self._cpu0
                      - self._sampler_cpu)
        self.peak_mb = max(self.peak_mb, memory_mb(self.root))
