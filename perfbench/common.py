"""Shared pieces of the benchmark: run set-up, the closed-loop timer,
percentiles, tracing and the result line.

Every workload runs in a fresh process with one client thread: the next
operation is sent only after the previous one returns (a closed loop).
Timing wraps the calls into the program's public functions; the program
receives only the generated inputs.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
# local[N]: one executor thread per core, at most 4, so a run on a larger
# host measures the same parallelism as the reference figures.
MAX_CORES = 4


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start


def percentile(values, q: float) -> float:
    """The q-th percentile with linear interpolation between closest
    ranks -- the same rule as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def loadavg() -> float:
    return os.getloadavg()[0]


class Run:
    """One benchmark process: its work directory, Spark session and the
    counts every workload reports."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = WORK / workload
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.loadavg_start = loadavg()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer = None
        self.phases: dict[str, float] = {}
        self.speed_probe_ms: list[float] = []

    # -- set-up ----------------------------------------------------------

    def prepare_dirs(self) -> None:
        """A fresh work directory inside the checkout; Spark's local dirs,
        the engine's scratch tables and every temporary file go there."""
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("scratch", "tmp", "data"):
            (self.work / sub).mkdir(parents=True)
        os.environ["SPARK_GRAFT_SCRATCH_DIR"] = str(self.work / "scratch")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
        # the launcher JVM that spark-submit starts first writes no
        # hsperfdata either (the driver JVM gets the same flag below)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def start_session(self):
        from qcfractal_spark.session import build_session

        tmp = self.work / "tmp"
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            # the status store keeps every job and stage of the run, so the
            # traced run can attribute all of them to operations
            conf.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        t0 = time.perf_counter()
        self.spark = build_session(
            f"perfbench-{self.workload}", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.session_start_s = time.perf_counter() - t0
        self.mark("session")
        from tracing import Tracer

        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def mark(self, phase: str) -> None:
        """Record the process age at the end of a set-up phase."""
        self.phases[phase] = round(process_age_s(), 2)

    def setup_done(self) -> None:
        """Set-up ends here: session start, input generation, index build
        and the untimed warm-up, timed from the process's start."""
        self.setup_s = process_age_s()
        self.phases["setup"] = round(self.setup_s, 2)
        self.tracer.timed = True

    def speed_probe(self) -> None:
        """Time a fixed pure-Python loop (~20 ms), untimed for the
        operations.  Called after each timed operation, it records how fast
        the machine ran while the run was timed; the figures are reported
        with the run, not used to scale any metric."""
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        self.speed_probe_ms.append((time.perf_counter() - t0) * 1000.0)

    # -- correctness -----------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        """Count a failed check as one failed operation."""
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    # -- tear-down -------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark and wait until its JVM, and every Python worker the
        JVM forked, has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from tracing import descendant_pids

        gateway = SparkContext._gateway
        proc = gateway.proc
        workers = descendant_pids(proc.pid)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        _wait_gone(workers, timeout=20)

    def result(self, metrics: dict[str, tuple[float, str]], extra: dict) -> str:
        info = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "local_n": self.cores,
            "nproc": os.cpu_count(),
            "scratch": os.environ.get("SPARK_GRAFT_SCRATCH_DIR"),
            "loadavg_start": self.loadavg_start,
            "loadavg_end": loadavg(),
            "phases": self.phases,
            "failures": self.failures,
            "speed_probe_ms": median(self.speed_probe_ms) if self.speed_probe_ms else None,
            **extra,
        }
        print(json.dumps({"run_info": info}, default=str))
        return json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        })


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while True:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline += 1.0
            time.sleep(0.05)


@contextmanager
def timed(samples: list):
    """Append the wall milliseconds of the block to ``samples``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        samples.append((time.perf_counter() - t0) * 1000.0)


def wall_s(fn) -> float:
    """Call ``fn()`` and return its wall seconds."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0
