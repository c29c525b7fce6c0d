"""Process-tree CPU and memory from ``/proc``.

The benchmark process starts the Spark JVM, which starts the Python
workers, so "the process tree" is this process and every descendant.
CPU is summed as utime + stime + cutime + cstime over the live tree:
a reaped descendant's time lands in its parent's c-fields, so work done
by short-lived workers is still counted.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_s(pids) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_cpu_s() -> float:
    """CPU seconds used so far by the whole process tree."""
    return _cpu_s(tree_pids())


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s() -> float:
    """CPU seconds of the Spark Python worker processes (the
    ``pyspark.daemon`` and the workers it forks)."""
    return _cpu_s(
        p for p in tree_pids()
        if any(m in _cmdline(p) for m in ("pyspark.daemon", "pyspark.worker"))
    )


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 2**20


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (so interpreter
    start-up and imports are included)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


class PeakRss:
    """Samples the tree's resident memory on a background thread; use as
    a context manager around the whole run. Disabled, it does nothing."""

    def __init__(self, interval_s: float = 0.25, enabled: bool = True):
        self.interval_s = interval_s
        self.enabled = enabled
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if not self.enabled:
            return
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def wait_gone(pids, timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left at the
    deadline and return those pids."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat_fields(p) is not None
                 and _stat_fields(p)[0] != "Z"]
        if alive:
            time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    return alive
