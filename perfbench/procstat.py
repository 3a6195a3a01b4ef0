"""Process-tree CPU and memory from ``/proc``.

The tree is this Python driver plus every descendant: the JVM that
PySpark launches and the Python workers the JVM forks.  CPU of a
descendant that has exited is still counted once its parent has reaped
it, through the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """The ``stat`` fields of ``root`` and of every descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                stats[int(entry)] = fields
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_pids(root: int) -> list[int]:
    return list(_tree(root))


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped descendants included."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _tree(root).values())
    return ticks / _TICK  # utime, stime, cutime, cstime


_PF_FORKNOEXEC = 0x40  # per-process flag: forked and not yet exec'd


def tree_resident_bytes(root: int) -> int:
    """Resident memory of the tree, shared pages counted once.

    The driver and the JVM it launched are programs of their own: they
    count their resident set.  Everything below the JVM is forked:
    Python workers share copy-on-write pages with the daemon that
    forked them, so they count their proportional set size.  The JVM
    starts helpers (``chmod``, ``readlink``) with ``posix_spawn``, whose
    child shares the JVM's whole memory until it execs; such a child
    is skipped.  (Reading the resident set of the JVM is cheap; its
    ``smaps_rollup`` takes ~50 ms.)"""
    tree = _tree(root)
    launched = {pid for pid, fields in tree.items() if int(fields[1]) == root}
    total = 0
    for pid, fields in tree.items():
        try:
            if pid == root or pid in launched:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            elif int(fields[1]) in launched and int(fields[6]) & _PF_FORKNOEXEC:
                continue
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
        except OSError:  # the process exited meanwhile
            pass
    return total


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started, from the boot-relative start tick."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(pid)[19]) / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the host since boot, from /proc/stat.
    The guest columns after steal are already counted in user time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_share(since: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor stole since ``since``
    (a :func:`cpu_ticks` reading)."""
    total, steal = (b - a for a, b in zip(since, cpu_ticks()))
    return steal / total if total > 0 else 0.0


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


class MemoryPeak:
    """Samples :func:`tree_resident_bytes` every ``interval`` seconds on
    a daemon thread while active; ``peak`` is the largest sample.

    The thread runs inside the measured tree, so its own CPU time is
    kept in ``cpu_s`` (updated after every sample) for the caller to
    subtract from the tree's."""

    def __init__(self, root: int, interval: float = 0.25):
        self._root = root
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0
        self.cpu_s = 0.0

    def __enter__(self) -> "MemoryPeak":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_resident_bytes(self._root))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()
            self.cpu_s = time.thread_time()
