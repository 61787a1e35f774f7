"""Shared plumbing: checkout paths, process environment, session start,
memory and progress readings, and the result record every workload fills.

The benchmark drives the engine only through its public entry points; this
module is the one place that imports the engine package, so a checkout
without it fails here, before any work starts.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
PKG = "real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark"
WORK_ROOT = ROOT / ".perfbench_work"


def process_age_s() -> float:
    """Seconds since this process was exec'd, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(sum(delta), 1)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def engine(module: str = ""):
    """Import ``PKG.module`` from the checkout; exit non-zero without it."""
    if not (ROOT / PKG / "__init__.py").is_file():
        raise SystemExit(f"perfbench: engine package {PKG!r} not found under {ROOT}")
    return importlib.import_module(f"{PKG}.{module}" if module else PKG)


def make_workdir(workload: str) -> Path:
    """A fresh scratch directory inside the checkout, and the environment
    that keeps Spark, the JVM and Python workers writing inside it."""
    work = WORK_ROOT / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    return work


def start_session(cpus: int):
    """The engine's own session (``session.get_spark``) on ``cpus`` cores."""
    session = engine("session")
    spark = session.get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and its JVM, so the next start is a cold one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # The JVM exits when its standard input closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of a process (kernel high-water mark VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the Spark
    application keeps resident between operations, independent of
    collector timing."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


class InvalidRun(Exception):
    """The run's own conditions did not hold; it reports nothing."""


@dataclass
class Result:
    """What one run reports. ``metrics`` maps name -> (value, unit)."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    summary: dict[str, tuple[float, str]] = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def say(self, name: str, value: float, unit: str) -> None:
        """A workload-specific figure for the human-readable summary line."""
        self.summary[name] = (float(value), unit)

    def fail(self, note: str, count: int = 1) -> None:
        self.failed += count
        self.notes.append(note)


class Clock:
    """Wall-clock phase stamps relative to process start."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter() - process_age_s()

    def now(self) -> float:
        return time.perf_counter() - self.t0
