"""The benchmark's child processes: peak memory and shutdown.

Spark in local mode runs as a JVM child of this process, and the JVM forks
the Python worker daemon and its workers. Both helpers walk that tree
through /proc (psutil is not a dependency).
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces or parentheses: ppid follows the last ')'
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    parents = _parents()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of every descendant of this process (the JVM
    and the Python workers) on a background thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0
        self.peak_parts: dict[int, int] = {}  # pid -> RSS bytes at the peak

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = {p: _rss_bytes(p) for p in descendants(me)}
            total = sum(parts.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def describe_peak(self) -> str:
        big = max(self.peak_parts.values(), default=0)
        rest = self.peak_bytes - big
        return (f"peak RSS {self.peak_mb:.0f} MB: largest process (the JVM) "
                f"{big / 2**20:.0f} MB, {len(self.peak_parts) - 1} others "
                f"{rest / 2**20:.0f} MB")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait until every descendant process
    has exited; stragglers get SIGKILL after a grace period."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline, killed = time.monotonic() + 20, False
    while True:
        alive = [p for p in children if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        for p in alive:  # reap the ones that are our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
