"""CPU seconds, resident memory and start time of this process tree,
read from ``/proc`` (psutil is not available).

The tree is the benchmark's driver Python process, the Spark JVM it
launched, and the Python workers the JVM forks. Each process is put in
one class:

- ``driver``: this process;
- ``jvm``: a ``java`` process;
- ``pyworker``: any other descendant (Spark's Python daemon, its forked
  workers, and the per-query data-source runners).

A process's CPU is ``utime + stime``; ``cutime + cstime`` (children that
already exited and were reaped) is charged to the class of those
children: a reaped child of the driver or of the JVM is a Python worker.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    rpar = raw.rindex(")")
    return [raw[raw.index("(") + 1:rpar]] + raw[rpar + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[2]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def _class(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    return "jvm" if comm == "java" else "pyworker"


def since_start() -> float:
    """Seconds since this process started (``starttime`` of
    ``/proc/self/stat``, in clock ticks since boot)."""
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(_stat(os.getpid())[20]) / _TICK


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited; SIGKILL those
    still alive after ``timeout_s`` and wait up to ``timeout_s`` more."""
    deadline, killed = time.time() + timeout_s, False
    while True:
        alive = [p for p in pids if (st := _stat(p)) is not None and st[1] != "Z"]
        if not alive or (killed and time.time() > deadline):
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.time() + timeout_s, True
        time.sleep(0.1)


def cpu_by_class(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds of the tree, split by process class."""
    root = root or os.getpid()
    out = dict.fromkeys(CLASSES, 0.0)
    for pid, st in tree(root).items():
        # fields after comm: state(1) ppid(2) ... utime(12) stime(13)
        # cutime(14) cstime(15)
        own = (int(st[12]) + int(st[13])) / _TICK
        reaped = (int(st[14]) + int(st[15])) / _TICK
        out[_class(pid, root, st[0])] += own
        out["pyworker"] += reaped
    return out


def rss_mb(root: int | None = None) -> float:
    """Resident memory of the whole tree right now, in MB."""
    root = root or os.getpid()
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


class PeakRss:
    """Samples the tree's resident memory on a background thread while
    active; ``peak`` is the largest sum seen. Use as a context manager."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb())
