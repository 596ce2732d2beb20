"""Run environment, Spark session lifecycle, counters and statistics shared
by the workloads.

Counters are read from outside the program:
  * jobs and tasks from `SparkContext.statusTracker()` (works with
    the UI off), after draining the listener bus so every finished job is
    visible;
  * Janino compilations from `CodegenMetrics.METRIC_COMPILATION_TIME()`
    through py4j (its histogram count is the number of compilations);
  * delta directories and bytes from a directory listing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

# Pinned run configuration, recorded with every result. local[4] and
# local[2] measured the same; 4 matches the box's vCPUs.
SPARK_CPUS = "4"
DRIVER_MEM = "2g"
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.shuffle.partitions": "32",
}


def pin_environment(scratch: str) -> dict:
    """Point every temporary file of this process, the JVM and the Python
    workers into `scratch` (inside the checkout), and pin the engine's
    environment knobs. Must run before the JVM starts."""
    os.makedirs(scratch, exist_ok=True)
    env = {
        "TZ": "UTC",
        "TMPDIR": scratch,
        "SPARK_LOCAL_DIRS": scratch,
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_SHUFFLE_PARTITIONS": SESSION_CONF["spark.sql.shuffle.partitions"],
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={scratch}",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    time.tzset()
    import tempfile

    tempfile.tempdir = scratch
    return env


def start_session(scratch: str):
    from moc_indexer_spark.session import get_spark

    conf = dict(SESSION_CONF)
    conf["spark.sql.warehouse.dir"] = os.path.join(scratch, "warehouse")
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM it launched, and wait for the JVM to
    exit (closing its stdin is the gateway's own exit signal); the Python
    workers are the JVM's children and exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def kill_session_now() -> None:
    """Watchdog path: end the JVM without waiting for Spark."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class SparkCounters:
    """Job, task and compilation counts of everything Spark ran since the
    previous `take()`."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._codegen = (
            sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        )
        self._last_job = -1
        self._last_compiles = 0
        self.take()

    def _job_ids(self) -> list[int]:
        # the engine never sets a job group, so every job is in group None
        return [j for j in self._tracker.getJobIdsForGroup(None)
                if j > self._last_job]

    def take(self) -> dict:
        self._bus.waitUntilEmpty()
        jobs = sorted(self._job_ids())
        tasks = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self._tracker.getStageInfo(s)
                if st is not None:  # skipped stages complete no task
                    tasks += st.numCompletedTasks
        compiles = int(
            self._codegen.METRIC_COMPILATION_TIME().getCount()
        )
        out = {"jobs": len(jobs), "tasks": tasks,
               "compiles": compiles - self._last_compiles}
        if jobs:
            self._last_job = jobs[-1]
        self._last_compiles = compiles
        return out


def dir_stats(path: str) -> tuple[int, int]:
    """(number of `__seq=` delta dirs directly under `path`, bytes of every
    data file below it)."""
    if not os.path.isdir(path):
        return 0, 0
    deltas = sum(1 for d in os.listdir(path) if d.startswith("__seq="))
    size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, f))
    return deltas, size


def host_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python loop: host speed, not the
    program. Taken before and after each run."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
