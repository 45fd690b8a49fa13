"""Session management and timing helpers shared by the workloads."""

from __future__ import annotations

import os
import platform
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

#: Spark conf the benchmark sets on top of ``session.get_spark`` (the
#: configuration ``job.py`` ships), each with its reason. Nothing here
#: changes how the program computes; they only keep every file the run
#: writes inside the checkout.
CONF_OVERRIDES = {
    "spark.local.dir": "shuffle and spill files stay inside the checkout",
    "spark.sql.warehouse.dir": "tables that queries create (q78) stay inside the checkout",
    "spark.driver.extraJavaOptions": "JVM temp files stay inside the checkout (-Djava.io.tmpdir; "
    "-XX:-UsePerfData, else the JVM writes its perf-counter file under /tmp)",
}
#: Conf set only in traced runs.
TRACE_CONF = {
    "spark.eventLog.*": "the Spark-side collector reads task and SQL metrics from the event log",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs))


@dataclass
class Result:
    """What one benchmark run reports."""

    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    extras: dict = field(default_factory=dict)  # workload-specific, printed only
    attempted: int = 0
    failures: list = field(default_factory=list)  # (key..., reason)
    notes: list = field(default_factory=list)


class Bench:
    """One benchmark process: owns the work directory and the Spark JVM."""

    def __init__(self, root: Path, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = nproc()
        self.base = root / ".perfbench"
        self.work = self.base / "runs" / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.cache = self.base / "cache"
        for d in (self.work / "tmp", self.work / "spark-local", self.cache):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # Python workers import the program and, for the benchmark's own
        # UDFs (the identity round trip), this directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(root), str(Path(__file__).resolve().parent)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.spark = None
        self._proc = None
        self.phases: dict[str, float] = {}
        self._t_phase = (None, time.perf_counter())

    def phase(self, name: str) -> None:
        """Start phase ``name``; the wall of each phase is printed with the
        result so the run's time budget can be read off."""
        prev, t0 = self._t_phase
        now = time.perf_counter()
        if prev is not None:
            self.phases[prev] = self.phases.get(prev, 0.0) + now - t0
        self._t_phase = (name, now)

    def conf(self, extra: dict | None) -> dict:
        return {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            **(extra or {}),
        }

    def session(self, cores: int | None = None, extra: dict | None = None):
        """(Re)start the session as ``job.py`` does: ``get_spark`` at
        local[cores] plus the overrides above."""
        from img2table_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="img2table-spark-job", cores=cores or self.cores, extra_conf=self.conf(extra)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._proc is None:
            self._proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        """Stop Spark and the JVM, then wait for every process the run
        started to end (see ``end_descendants``)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = self._proc or (gw.proc if gw is not None else None)
        try:
            if self.spark is not None:
                self.spark.stop()
            if gw is not None:
                gw.shutdown()
        finally:
            # a run cut short inside a JVM call leaves py4j unusable, so the
            # steps below run whether or not the ones above failed
            self.spark = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            self._proc = None  # the next session launches a new JVM
            if proc is not None and proc.poll() is None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            _stop_resource_tracker()
            end_descendants(grace_s=30)

    def describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)


def _stop_resource_tracker() -> None:
    """Stop the resource-tracker process that multiprocessing's spawn
    context starts (the traced replay uses it) and wait for it to exit; left
    alone it outlives the run by a moment. It exits once every process
    holding its pipe has, so any replay process still alive (a run cut
    short) is killed first, and semaphores still waiting for collection are
    finalized first, so none of them starts it again."""
    import gc
    import multiprocessing
    from multiprocessing import resource_tracker

    for child in multiprocessing.active_children():
        child.kill()
        child.join()
    gc.collect()
    resource_tracker._resource_tracker._stop()


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so one
    orphaned by its parent's exit (the Python workers the JVM forks) is
    re-parented here, not to init, and ``end_descendants`` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process below this one to exit,
    kill any still running, and reap them all."""
    from procmon import descendants

    deadline = time.monotonic() + grace_s
    while any(_running(p) for p in descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in descendants(os.getpid()):
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def repeat_for(budget_s: float, fn, min_reps: int) -> list[float]:
    """Wall of each call of ``fn`` until ``budget_s`` has elapsed and at
    least ``min_reps`` calls have run."""
    walls = []
    t_end = time.perf_counter() + budget_s
    while len(walls) < min_reps or time.perf_counter() < t_end:
        walls.append(timed(fn)[0])
    return walls


def conditions(bench: Bench) -> dict:
    """Box facts and configuration recorded in every result."""
    import pyspark

    from img2table_spark.kernels import imageops

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": bench.cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "java": java[0] if java else None,
        "python": platform.python_version(),
        "kernel_threads": imageops._kernel_threads(),
        "session": f"session.get_spark(cores={bench.cores}) as job.py calls it",
        "conf_overrides": CONF_OVERRIDES,
        "trace_conf": TRACE_CONF if bench.trace else {},
        "scaling_pair": f"local[1] -> local[{bench.cores}]",
    }
