"""Run harness shared by the workloads: pinned environment, the Spark
session's lifetime, timing helpers and the result line.

Everything a run writes goes under ``<checkout>/.perfbench/``: the
per-run work directory (inputs, outputs, Spark local dirs, temp files)
is removed when the run ends; traced runs keep their span files in
``.perfbench/trace/``.
"""

from __future__ import annotations

import os
import pathlib
import platform
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geospatial_etl_pipeline_spark"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of the machine's memory, between 2 and 8 GiB (the package's own
    default of 24g exceeds small machines)."""
    return int(min(8, max(2, _mem_total_gb() // 4)))


class Bench:
    """One benchmark run: arguments, pinned environment, work directory,
    the Spark session and the result counters."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench", f"work-{workload}-{os.getpid()}")
        self.trace_dir = os.path.join(ROOT, ".perfbench", "trace")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, dict] = {}
        # the raw timings behind each median, printed before the result
        self.samples: dict[str, list] = {}
        # traced runs: called with the event log's per-span totals once
        # the session has stopped and the log is complete
        self.after_stop = None
        # traced runs: (pass span, untraced seconds of the same work)
        self.trace_pass = None

    # ---- environment -----------------------------------------------------

    def pin_environment(self) -> dict:
        """Set, before the JVM starts, everything a run depends on."""
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.work, sub))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_gb()}g"
        # Python workers import the package from the checkout, whatever
        # the current directory is.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        sys.path.insert(0, ROOT)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            # only the traced run logs events, set from outside the program
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = pathlib.Path(self.work, "eventlog").as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        # pyspark splits this variable with shlex, and Spark's launcher
        # splits the java options again: quote paths for both
        tmp = os.path.join(self.work, "tmp")
        args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
        args.append("--driver-java-options " + shlex.quote(f'"-Djava.io.tmpdir={tmp}"'))
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
        return self.environment()

    def environment(self) -> dict:
        import numpy
        import pandas
        import pyarrow
        import pyspark

        env = {
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.trace),
            "nproc": os.cpu_count(), "cpus": self.cpus,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__,
        }
        try:
            import duckdb

            env["duckdb"] = duckdb.__version__
        except ImportError:
            env["duckdb"] = None
        return env

    # ---- session -----------------------------------------------------------

    def start_session(self) -> float:
        """Start the package's session; returns the seconds it took."""
        from geospatial_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def job_floor_ms(self, repeats: int = 5) -> float:
        """Median wall time of a one-row query through the noop sink."""
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            self.spark.range(1).write.format("noop").mode("overwrite").save()
            times.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(times)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus its JVM, from
        /proc (VmHWM)."""
        pids = [os.getpid()]
        if self.spark is not None:
            pids.append(int(self.spark._jvm.java.lang.ProcessHandle.current().pid()))
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024

    def stop_session(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    # ---- results -----------------------------------------------------------

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def metric_unless_traced(self, name: str, value: float, unit: str) -> None:
        """An end-to-end metric measured on the way in every run, reported
        only by untraced runs."""
        if not self.trace:
            self.metric(name, value, unit)

    def check(self, ok: bool, problem: str) -> bool:
        if not ok:
            self.problems.append(problem)
        return ok

    def result(self) -> dict:
        return {
            "correct": self.failed == 0 and not self.problems and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.metrics,
        }


@contextmanager
def timed(out: list):
    """Append the wall seconds of the block to ``out``."""
    t0 = time.perf_counter()
    yield
    out.append(time.perf_counter() - t0)


def noop(df) -> None:
    """Execute a DataFrame fully, discarding its rows."""
    df.write.format("noop").mode("overwrite").save()


def exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in the initial physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?m)^[\s:|+-]*(?:Broadcast|Shuffle)?Exchange\b", plan))
