"""Reader for Spark's event log (JSON lines, zstd-compressed, possibly
rolled into ``eventlog_v2_<app>/events_<n>_<app>.zstd`` files).

It keeps what the per-layer metrics need: job submit/complete times, each
task's launch time and task metrics (run and GC time; input, shuffle-write
and spill bytes), the task-level SQL accumulables (Python worker times and
bytes), and the driver-side SQL metrics (files read by scans).
Jobs that the engine submits from its own threads carry no useful call
site, so attribution is by time: a job belongs to the span whose interval
holds its submit time, a task to the span holding its launch time.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
from dataclasses import dataclass, field

from spans import median

# task-level SQL accumulables kept by name (values are summed per task)
TASK_ACCUMS = (
    "time to run Python workers",
    "time to start Python workers",
    "data sent to Python workers",
)
# driver-side SQL metrics kept by name (summed per SQL execution)
DRIVER_ACCUMS = ("number of files read",)


@dataclass
class Task:
    stage: int
    launch: float
    run_ms: float
    gc_ms: float
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    accums: dict = field(default_factory=dict)


@dataclass
class Job:
    submit: float
    complete: float


class EventLog:
    def __init__(self):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        # SQL execution id -> (start time, {metric name: summed value})
        self.sql: dict[int, list] = {}
        self._accum_names: dict[int, str] = {}

    # ---- loading -------------------------------------------------------
    @classmethod
    def from_lines(cls, lines) -> "EventLog":
        log = cls()
        for line in lines:
            line = line.strip()
            if line:
                log._add(json.loads(line))
        return log

    @classmethod
    def from_dir(cls, path: str, app_id: str) -> "EventLog":
        """The event files of application ``app_id`` under ``path`` (one
        file, or a rolled ``eventlog_v2_<app>`` directory), in order."""
        files = sorted(
            (
                f for f in glob.glob(os.path.join(path, "**", f"*{app_id}*"), recursive=True)
                if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
            ),
            key=_roll_key,
        )
        if not files:
            raise FileNotFoundError(f"no event log of {app_id} under {path}")
        lines: list[str] = []
        for f in files:
            lines.extend(read_text(f).splitlines())
        return cls.from_lines(lines)

    def _add(self, e: dict) -> None:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            self.jobs[int(e["Job ID"])] = Job(float(e["Submission Time"]), float("nan"))
        elif ev == "SparkListenerJobEnd":
            job = self.jobs.get(int(e["Job ID"]))
            if job is not None:
                job.complete = float(e["Completion Time"])
        elif ev == "SparkListenerTaskEnd":
            self.tasks.append(_task(e))
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            self.sql[int(e["executionId"])] = [float(e["time"]), {}]
            self._walk_plan(e.get("sparkPlanInfo"))
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._walk_plan(e.get("sparkPlanInfo"))
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            rec = self.sql.get(int(e["executionId"]))
            if rec is None:
                return
            for acc_id, value in e.get("accumUpdates", []):
                name = self._accum_names.get(int(acc_id))
                if name is not None:
                    rec[1][name] = rec[1].get(name, 0) + int(value)

    def _walk_plan(self, node) -> None:
        stack = [node] if node else []
        while stack:
            n = stack.pop()
            for m in n.get("metrics", []):
                if m.get("name") in DRIVER_ACCUMS:
                    self._accum_names[int(m["accumulatorId"])] = m["name"]
            stack.extend(n.get("children", []))

    # ---- attribution ---------------------------------------------------
    def jobs_in(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs.values() if start <= j.submit <= end]

    def tasks_in(self, start: float, end: float) -> list[Task]:
        return [t for t in self.tasks if start <= t.launch <= end]

    def sql_in(self, start: float, end: float, name: str) -> int:
        return sum(
            int(m.get(name, 0)) for t, m in self.sql.values() if start <= t <= end
        )

    def busy_ms(self, start: float, end: float) -> float:
        """Milliseconds of [start, end] covered by at least one Spark job."""
        ivs = sorted(
            (max(j.submit, start), min(j.complete, end))
            for j in self.jobs.values()
            if j.complete == j.complete and j.submit <= end and j.complete >= start
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


def skew(tasks: list[Task]) -> float:
    """max / median task run time of the stage with the most run time."""
    if not tasks:
        return 0.0
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    runs = max(by_stage.values(), key=sum)
    med = median(runs)
    return float(max(runs) / med) if med > 0 else 1.0


def read_text(path: str) -> str:
    """Text of one event file; ``.zstd`` files go through the zstd binary."""
    if path.endswith(".zstd") or path.endswith(".zstd.inprogress"):
        zstd = shutil.which("zstd")
        if zstd is None:
            raise FileNotFoundError("zstd binary not found on PATH")
        return subprocess.run(
            [zstd, "-dcq", path], check=True, capture_output=True, timeout=120
        ).stdout.decode()
    with open(path) as f:
        return f.read()


def _roll_key(path: str):
    m = re.search(r"events_(\d+)_", os.path.basename(path))
    return (os.path.dirname(path), int(m.group(1)) if m else 0)


def _task(e: dict) -> Task:
    info = e.get("Task Info", {})
    tm = e.get("Task Metrics") or {}
    accums = {}
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        if name in TASK_ACCUMS:
            accums[name] = accums.get(name, 0) + int(a.get("Update", 0) or 0)
    return Task(
        stage=int(e["Stage ID"]),
        launch=float(info.get("Launch Time", 0)),
        run_ms=float(tm.get("Executor Run Time", 0)),
        gc_ms=float(tm.get("JVM GC Time", 0)),
        input_bytes=int(tm.get("Input Metrics", {}).get("Bytes Read", 0)),
        shuffle_write_bytes=int(tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
        spill_bytes=int(tm.get("Memory Bytes Spilled", 0)) + int(tm.get("Disk Bytes Spilled", 0)),
        accums=accums,
    )
