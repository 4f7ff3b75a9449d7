"""Launcher, session lifetime and measurement helpers shared by the
benchmark workloads.

Everything a run writes lives under ``<checkout>/.perfbench_work``:
Spark's local dirs, the temp dir (the package zip that
``sources.tables.ensure_workers_can_import`` ships to workers lands
there), generated inputs, stream checkpoints and the span dump.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "streamprocessing_kafka_finlight_news_dashboard_spark"
WORK = os.path.join(ROOT, ".perfbench_work")


def host_cpus() -> int:
    """Cores this process may run on (affinity-aware ``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def load_average() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def configure_launcher(work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit; must
    run before the session starts.

    - ``SPARK_GRAFT_CPUS`` = nproc: ``get_spark`` otherwise defaults to
      ``local[32]``, which oversubscribes a small host several times.
    - ``PYTHONPATH`` = checkout root, so executor Python workers can
      import the package that pandas UDFs are pickled against.
    - Spark local dirs, the JVM temp dir and Python's temp dir point
      inside the work dir, and the JVMs (launcher and driver) keep no
      perf-data file in /tmp, so a run writes nothing outside its
      checkout.
    - The driver heap is capped at 2 GiB: the inputs are small, and the
      package default (16 GiB) is sized for a dedicated machine.
    """
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(host_cpus())
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env.setdefault("SPARK_DRIVER_MEMORY", "2g")
    env.pop("SPARK_MASTER", None)
    env.pop("SPARK_SHUFFLE_PARTITIONS", None)


def start_session(work: str):
    from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it to
    exit; the JVM stops its Python worker daemon on context stop."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> tuple[float, float, int]:
    """Peak resident sets (``VmHWM``) read from ``/proc`` at the end of
    the measured phase: the driver JVM's, and the sum over its
    descendants (the Python worker daemon and workers) with their count."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    jvm_kb, workers_kb, workers, stack = 0, 0, 0, [pid]
    while stack:
        p = stack.pop()
        stack.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        if p == pid:
                            jvm_kb = kb
                        else:
                            workers_kb += kb
                            workers += 1
        except OSError:
            continue
    return jvm_kb / 1024, workers_kb / 1024, workers


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label. Runs with fewer than 20 samples report their maximum."""
    n = len(values)
    ordered = sorted(values)
    if n < 20:
        return ordered[-1], f"max of {n}"
    pct = math.floor(100 * (n - 10) / n)
    k = max(0, math.ceil(pct / 100 * n) - 1)
    return ordered[k], f"p{pct} of {n}"


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


class Clock:
    """Deadline for one measured phase."""

    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.deadline = self.start + seconds

    def remaining(self) -> float:
        return self.deadline - time.perf_counter()
