"""Process-level plumbing shared by the workloads: paths, the Spark session,
job groups, timers, peak memory and shutdown.

Everything a run writes lives under ``<checkout>/.perfbench_work/<run>``
(Spark scratch, event logs, generated inputs, temp files) and is removed
when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """One benchmark process: owns the work directory and the SparkSession."""

    def __init__(self, workload: str, trace: bool):
        self.t_start = time.perf_counter()
        self.workload = workload
        self.trace = trace
        self.work = os.path.join(WORK_BASE, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        self.spark = None
        self._gateway_proc = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        if self.spark is not None:
            return self.spark
        tmp = self.path("tmp")
        # python workers are forked by the JVM and inherit this environment:
        # the package must be importable there, not only in this process
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        from go_lsh_spark.session import build_session

        n = cores()
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.session.timeZone": "UTC",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            os.makedirs(self.eventlog_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.sql.pyspark.udf.profiler": "perf",
                }
            )
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    @contextmanager
    def group(self, name: str):
        """Tag every Spark job started inside the block with job group
        ``name`` so the event log attributes it to that layer."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def eventlog_path(self) -> str:
        names = [n for n in os.listdir(self.eventlog_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log, found {names}")
        return os.path.join(self.eventlog_dir, names[0])

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM (and with it every Python worker
        it forked) to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - already gone
            pass
        proc = self._gateway_proc
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()  # the gateway exits when stdin closes
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)

    def cleanup(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)  # only when no other run is using it
        except OSError:
            pass


class Outcome:
    """Attempted/failed op counts of one run; checks may come from several
    threads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def record(self, ok: bool, what: str = "") -> bool:
        with self._lock:
            self.attempted += 1
            self.failed += not ok
        if not ok:
            log(f"CHECK FAILED: {what}")
        return ok


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out
