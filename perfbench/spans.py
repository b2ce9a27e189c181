"""Spans the benchmark records around each call into the engine.

A span is (name, start, end, attrs) with wall-clock milliseconds,
the clock Spark's event log uses, so Spark jobs can be attributed to the
span whose interval holds their submit time. Spans stay in memory until
the run ends. At each span end the recorder also samples the resident
memory of the driver's Python process and of the Spark JVM.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end - self.start) / 1000.0


def rss_mb(pid: int | str = "self") -> float:
    """Current resident set size of a process, in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.jvm_pid: int | None = None
        self.py_rss_peak_mb = 0.0
        self.jvm_rss_peak_mb = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time() * 1000.0, 0.0, attrs)
        try:
            yield s
        finally:
            s.end = time.time() * 1000.0
            self.spans.append(s)
            self.py_rss_peak_mb = max(self.py_rss_peak_mb, rss_mb())
            if self.jvm_pid:
                self.jvm_rss_peak_mb = max(self.jvm_rss_peak_mb, rss_mb(self.jvm_pid))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def jvm_pid(spark) -> int | None:
    """Pid of the JVM behind a local SparkSession: spark-submit execs java
    in the gateway process itself."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, regular files) under ``path``."""
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                n += 1
    return total, n
