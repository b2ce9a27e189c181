"""Pinned Spark environment for the benchmark, recorded with every result.

Everything the run writes lives under one work directory inside the
checkout. The master is ``local[<nproc>]`` and nothing else: a run that
fails to start or fails mid-way is a failed run, never retried elsewhere.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import tempfile

DRIVER_MEM_CAP_MB = 3072


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """30% of MemAvailable, capped: the engine's 48g default is larger than
    a small host, and the benchmark's corpora need far less."""
    return max(1024, min(DRIVER_MEM_CAP_MB, int(mem_available_mb() * 0.3)))


class SparkEnv:
    """Owns the work directory, the environment and the SparkSession(s) of
    one benchmark run. ``start()`` may be called again after ``stop()``;
    ``close()`` ends the JVM and waits for it."""

    def __init__(self, repo: str, work: str, trace: bool):
        self.repo = repo
        self.work = work
        self.trace = trace
        self.event_dir = os.path.join(work, "eventlog")
        self.master = f"local[{nproc()}]"
        self.driver_mem = f"{driver_mem_mb()}m"
        self.local_dir = os.path.join(work, "spark-local")
        self.tmp_dir = os.path.join(work, "tmp")
        self.spark = None
        self.traced_app = None
        self._gateway = None
        for d in (self.event_dir, self.local_dir, self.tmp_dir):
            os.makedirs(d, exist_ok=True)
        # read by ivfadc_spark.session.get_spark; PYTHONPATH reaches the
        # python workers, which otherwise cannot import the engine
        os.environ.update(
            SPARK_GRAFT_DRIVER_MEM=self.driver_mem,
            SPARK_GRAFT_LOCAL_DIR=self.local_dir,
            SPARK_LOCAL_DIRS=self.local_dir,  # would override spark.local.dir
            PYTHONPATH=os.pathsep.join(
                [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            TMPDIR=self.tmp_dir,
            # every JVM, the spark-submit launcher's too: temp files and the
            # perf-data file in the work directory, not in /tmp
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}",
        )
        tempfile.tempdir = None  # re-read TMPDIR

    def conf(self) -> dict:
        c = {
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.ui.enabled": "false",
            # set both ways: the session builder keeps options across sessions
            "spark.eventLog.enabled": str(self.trace).lower(),
        }
        if self.trace:
            c.update({
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            })
        return c

    def start(self):
        from ivfadc_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=self.master, extra_conf=self.conf()
        )
        self._gateway = self.spark.sparkContext._gateway
        if self.trace:
            self.traced_app = self.spark.sparkContext.applicationId
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and end the JVM process, waiting until it has exited."""
        self.stop()
        gw = self._gateway
        if gw is None:
            return
        from pyspark import SparkContext

        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self._gateway = None

    def record(self) -> dict:
        import numpy
        import pandas
        import pyarrow
        import pyspark

        java = shutil.which("java")
        java_v = ""
        if java:
            r = subprocess.run([java, "-version"], capture_output=True, text=True, timeout=60)
            java_v = (r.stderr or r.stdout).splitlines()[0] if (r.stderr or r.stdout) else ""
        return {
            "master": self.master,
            "nproc": nproc(),
            "mem_available_mb": mem_available_mb(),
            "driver_mem": self.driver_mem,
            "spark_local_dir": os.path.relpath(self.local_dir),
            "worker_pythonpath": os.environ["PYTHONPATH"],
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "numpy": numpy.__version__,
            "java": java_v,
            "platform": platform.platform(),
            "executable": os.path.basename(sys.executable),
        }
