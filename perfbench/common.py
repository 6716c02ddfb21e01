"""Shared machinery for the perfbench workloads: pinned environment,
process-tree memory sampling, host CPU steal, timing spans and summary
statistics.

Nothing here imports the engine; ``run.py`` imports it after the
environment is pinned so the session factory reads the pinned values.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import tempfile
import threading
import time

#: checkout root (the directory holding BENCHMARK.json)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: every file the benchmark writes at run time lives below this directory
WORK = os.path.join(ROOT, ".perfbench_work")

#: driver heap for the benchmark's Spark session: well below the 15 GB of
#: the 4-core reference box (the session factory defaults to 24g)
DRIVER_MEMORY = "4g"


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict[str, str]:
    """Pin the knobs the engine reads from the environment. Returns them so
    the run can record what it ran under."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
        # temporary files of the engine's own (tempfile.mkdtemp) and of the JVM
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    for d in (pinned["SPARK_LOCAL_DIRS"], pinned["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = pinned["TMPDIR"]
    return pinned


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``: keep every file inside the work
    directory; with tracing, an uncompressed single-file event log."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt-default"),
        "spark.sql.streaming.numRecentProgressUpdates": "5000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_jvm(timeout: float = 30.0) -> None:
    """Shut down the JVM the session launched and wait until it has ended
    (``SparkSession.stop`` keeps it running for the next session)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- statistics ----------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies of the whole machine from ``/proc/stat``. On a
    virtual machine, steal is time the host ran another guest on our cores
    while one of ours was ready to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return steal, user + nice + system + irq + softirq


def running_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Of the CPU time the machine's cores were ready to run between two
    ``cpu_ticks`` samples, the share the host let them run: 1.0 on a quiet
    host. Wall time times this share is the wall time net of host steal."""
    steal, busy = end[0] - start[0], end[1] - start[1]
    return busy / (busy + steal) if busy + steal else 1.0


# -- process-tree memory -------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants: the driver
    Python, the JVM it launched and the JVM's Python workers."""
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` seconds
    on a daemon thread; ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- spans ---------------------------------------------------------------------


class Spans:
    """Wall-clock spans around the benchmark's calls into the engine.

    Each span is named ``workload:job:phase``; with tracing on, the same
    name becomes the Spark job description of every job the call fires, so
    the event log attributes executor time to the span that caused it. A
    span records its wall time net of host steal, ``net_s``.
    """

    def __init__(self, spark, workload: str, trace: bool):
        self.spark = spark
        self.workload = workload
        self.trace = trace
        self.records: list[dict] = []

    def run(self, job: str, phase: str, fn, *args, **kwargs):
        name = f"{self.workload}:{job}:{phase}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobDescription(name)
        ticks0, t0 = cpu_ticks(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            net = (time.perf_counter() - t0) * running_share(ticks0, cpu_ticks())
            if self.trace:
                sc.setJobDescription(None)
            self.records.append({"name": name, "job": job, "phase": phase, "net_s": net})
