"""Event-log parsing and span attribution on a hand-written log.
Run: python3 -m pytest perfbench/tests -q"""

import json
import shutil
import subprocess

import pytest

from eventlog import EventLog, skew
from layers import LAYERS, compute
from spans import Recorder, Span


def task_end(stage, launch, finish, run_ms, accums=(), **tm):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [
                {"ID": i, "Name": n, "Update": str(v), "Value": str(v)}
                for i, (n, v) in enumerate(accums)
            ],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": tm.get("gc", 0),
            "Input Metrics": {"Bytes Read": tm.get("input", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": tm.get("shuffle", 0)},
            "Shuffle Read Metrics": {"Local Bytes Read": 0, "Remote Bytes Read": 0},
            "Memory Bytes Spilled": tm.get("spill", 0),
            "Disk Bytes Spilled": 0,
        },
    }


def job(jid, submit, complete, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
         "Stage IDs": stages, "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": complete},
    ]


SQL = "org.apache.spark.sql.execution.ui."
EVENTS = (
    # a request span [1000, 2000]: two jobs with a gap, one Python task
    job(0, 1100, 1300, [0])
    + job(1, 1500, 1900, [1])
    + [
        task_end(0, 1110, 1290, 150, input=100),
        task_end(1, 1510, 1890, 300, [("time to run Python workers", 250),
                                      ("time to start Python workers", 40),
                                      ("data sent to Python workers", 4096)], gc=20),
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7, "time": 1100,
         "sparkPlanInfo": {"nodeName": "Scan parquet", "children": [], "metrics": [
             {"name": "number of files read", "accumulatorId": 81, "metricType": "sum"},
             {"name": "scan time", "accumulatorId": 80, "metricType": "timing"}]}},
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[81, 3], [80, 99]]},
    ]
    # a batch span [3000, 5000]: one stage of four tasks, one straggler
    + job(2, 3100, 4900, [2, 3])
    + [task_end(3, 3200 + i, 4000, ms, shuffle=10) for i, ms in enumerate((100, 100, 120, 400))]
)


@pytest.fixture()
def log():
    return EventLog.from_lines(json.dumps(e) for e in EVENTS)


def test_attribution_by_time(log):
    assert [j.submit for j in log.jobs_in(1000, 2000)] == [1100, 1500]
    assert len(log.tasks_in(1000, 2000)) == 2
    assert len(log.tasks_in(3000, 5000)) == 4
    assert log.sql_in(1000, 2000, "number of files read") == 3
    assert log.sql_in(3000, 5000, "number of files read") == 0
    # [1000, 2000] is covered by jobs on [1100, 1300] and [1500, 1900]
    assert log.busy_ms(1000, 2000) == 600


def test_skew_is_max_over_median_of_the_heaviest_stage(log):
    assert skew(log.tasks_in(3000, 5000)) == pytest.approx(400 / 110)
    assert skew([]) == 0.0


def test_task_accumulables_and_metrics(log):
    t = log.tasks_in(1500, 1600)[0]
    assert t.accums["time to run Python workers"] == 250
    assert t.gc_ms == 20
    assert log.tasks_in(1100, 1200)[0].input_bytes == 100


def test_layers_from_spans_and_log(log):
    rec = Recorder()
    rec.spans = [
        Span("session.get_spark", 0, 500),
        Span("wand.request", 1000, 2000),
        Span("wand.batch", 3000, 5000),
        Span("loop", 900, 5100),
    ]
    m = compute(rec, log, overhead=0.01)
    assert set(m) == set(LAYERS)
    assert m["session.get_spark_s"] == 0.5
    assert m["wand.jobs_per_request"] == 2
    assert m["wand.tasks_per_request"] == 2
    assert m["wand.request_driver_s"] == pytest.approx(0.4)
    assert m["wand.py_worker_start_s"] == pytest.approx(0.04)
    assert m["wand.exchange_bytes"] == 40
    assert m["wand.scan_task_skew"] == pytest.approx(400 / 110)
    assert m["spark.gc_s"] == pytest.approx(0.02)
    assert m["build_index.jobs"] == 0  # no build in this log
    assert m["trace.overhead_frac"] == 0.01


@pytest.mark.skipif(shutil.which("zstd") is None, reason="zstd binary not installed")
def test_reads_a_rolled_zstd_log(tmp_path, log):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(EVENTS) // 2
    for i, chunk in enumerate((EVENTS[:half], EVENTS[half:]), 1):
        raw = d / f"events_{i}_local-1"
        raw.write_text("".join(json.dumps(e) + "\n" for e in chunk))
        subprocess.run(["zstd", "-q", "--rm", str(raw), "-o", str(raw) + ".zstd"], check=True)
    (tmp_path / "eventlog_v2_local-2").mkdir()  # another application
    (tmp_path / "eventlog_v2_local-2" / "events_1_local-2").write_text("{}\n")
    got = EventLog.from_dir(str(tmp_path), "local-1")
    assert len(got.tasks) == len(log.tasks)
    assert sorted(got.jobs) == sorted(log.jobs)


def test_missing_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        EventLog.from_dir(str(tmp_path), "local-1")
