"""Process-tree helpers: resident-memory sampling and teardown of the
JVM and Python workers a run started."""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time
from collections import defaultdict


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, stack = [], [pid or os.getpid()]
    while stack:
        for child in kids.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    the processes sharing them (forked Python workers share most of
    their pages with the worker daemon)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class PeakRss:
    """Samples proportional resident memory while active: over this
    process and its Python descendants (the Spark Python workers), and
    over the JVM process alone, whose size follows its heap-sizing
    policy rather than the work."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MiB)
        self.jvm_peak_mib = 0.0
        self._jvm = _jvm_pid()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        pids = [me, *descendants(me)]
        python = sum(_pss_kib(p) for p in pids if p != self._jvm) / 1024
        self.samples.append((time.perf_counter(), python))
        if self._jvm in pids:
            self.jvm_peak_mib = max(self.jvm_peak_mib, _pss_kib(self._jvm) / 1024)

    def job_peak_mib(self, starts: list[float], times: list[float]) -> float:
        """Median over jobs of each job's Python-side peak, so that one
        transient spike does not set the figure."""
        return statistics.median(
            max((mib for t, mib in self.samples if t0 <= t <= t0 + dt), default=0.0)
            for t0, dt in zip(starts, times)
        )

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except (ChildProcessError, OSError):
            pass


def shutdown_spark() -> None:
    """Stop the active session, end the py4j JVM and wait for it and
    every process under it (the Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    pids: list[int] = []
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            pids = [proc.pid, *descendants(proc.pid)]
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(pids)


def stop_children() -> None:
    """End every process this one still has under it. The spawn pool's
    multiprocessing resource tracker would otherwise outlive the run: it
    exits only once this process has exited and closed its pipe."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()  # finalize pool semaphores before the tracker stops
    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_fd", None) is not None:
        tracker._stop()  # closes the tracker's pipe and reaps it
    pids = descendants()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    wait_gone(pids, timeout_s=10.0)
