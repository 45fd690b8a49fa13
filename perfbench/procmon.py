"""Peak resident memory of the Spark Python workers, read from ``/proc``.

The JVM forks the Python worker daemon, which forks one worker per
concurrent task. ``VmHWM`` in ``/proc/<pid>/status`` is a process's peak
resident set, so sampling it while workers are alive gives each worker's
peak even between samples. Linux only.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

SAMPLE_INTERVAL_S = 0.1


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``."""
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        kids = _children(p)
        seen += kids
        todo += kids
    return seen


def _python_hwm_kb(pid: int) -> int:
    try:
        status = Path(f"/proc/{pid}/status").read_text()
    except OSError:
        return 0
    fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
    if "python" not in fields.get("Name", ""):
        return 0
    return int(fields.get("VmHWM", "0 kB").split()[0])


class WorkerPeakRSS:
    """Background sampler of the largest Python worker's peak RSS (MB)
    under process ``root_pid`` (the Spark JVM)."""

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        for pid in descendants(self.root_pid):
            self.peak_kb = max(self.peak_kb, _python_hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "WorkerPeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def jvm_pid(spark) -> int:
    """Pid of the JVM that PySpark launched for this session."""
    proc = spark.sparkContext._gateway.proc
    return proc.pid if proc is not None else os.getpid()
