"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Three sources, all read from outside the engine: the spans the benchmark
records around each public call, each build's ``_manifest.json``, and the
Spark event log. ``LAYERS`` maps every metric to the end-to-end metric(s)
it should move and the workload it should move them on; a layer that a
workload does not run reads 0 there. The per-call fixed costs of a query
show in both search metrics: a request is almost all fixed cost, and a
batch carries the same fixed cost once.
"""

from __future__ import annotations

import json
import os

from eventlog import EventLog, skew
from spans import Recorder, Span, dir_bytes_files, median

# name: (unit, better, end-to-end metric(s) it should move, workload)
LAYERS = {
    "session.get_spark_s": ("s", "lower", "setup_s", "build, search"),
    "transcripts.plan_doc_ids_s": ("s", "lower", "throughput_per_s", "build"),
    "transcripts.bounds_s": ("s", "lower", "throughput_per_s", "build"),
    "transcripts.counts_s": ("s", "lower", "throughput_per_s", "build"),
    "build_index.doc_map_s": ("s", "lower", "throughput_per_s", "build"),
    "build_index.blocks_s": ("s", "lower", "throughput_per_s", "build"),
    "build_index.dict_s": ("s", "lower", "throughput_per_s", "build"),
    "build_index.jobs": ("count", "lower", "throughput_per_s", "build"),
    "build_index.tasks": ("count", "lower", "throughput_per_s", "build"),
    "build_index.files_written": ("count", "lower", "throughput_per_s", "build"),
    "build_index.shuffle_write_bytes": ("bytes", "lower", "throughput_per_s", "build"),
    "build_index.spill_bytes": ("bytes", "lower", "throughput_per_s", "build"),
    "build_index.blocks_task_skew": ("ratio", "lower", "throughput_per_s", "build"),
    "postings.encode_py_run_s": ("s", "lower", "throughput_per_s", "build"),
    "postings.encode_py_bytes_in": ("bytes", "lower", "throughput_per_s", "build"),
    "postings.postings": ("count", "lower", "index_bytes_per_text_byte", "build"),
    "postings.index_bytes": ("bytes", "lower", "index_bytes_per_text_byte", "build"),
    "fsck.fsck_segment_s": ("s", "lower", "throughput_per_s", "build"),
    "segments.segment_stats_s": ("s", "lower", "throughput_per_s", "build"),
    "wand.jobs_per_request": ("count", "lower", "latency_p50_s, throughput_per_s", "search"),
    "wand.stages_per_request": ("count", "lower", "latency_p50_s, throughput_per_s", "search"),
    "wand.tasks_per_request": ("count", "lower", "latency_p50_s, throughput_per_s", "search"),
    "wand.request_driver_s": ("s", "lower", "latency_p50_s, throughput_per_s", "search"),
    "wand.py_worker_start_s": ("s", "lower", "latency_p50_s, throughput_per_s", "search"),
    "wand.scan_input_bytes": ("bytes", "lower", "throughput_per_s", "search"),
    "wand.scan_files_read": ("count", "lower", "throughput_per_s", "search"),
    "wand.exchange_bytes": ("bytes", "lower", "throughput_per_s", "search"),
    "wand.kernel_py_run_s": ("s", "lower", "throughput_per_s", "search"),
    "wand.arrow_to_py_bytes": ("bytes", "lower", "throughput_per_s", "search"),
    "wand.scan_task_skew": ("ratio", "lower", "throughput_per_s", "search"),
    "ingest.epoch_s": ("s", "lower", "setup_s", "search"),
    "ingest.jobs_per_epoch": ("count", "lower", "setup_s", "search"),
    "segments.merge_segments_s": ("s", "lower", "setup_s", "search"),
    "segments.merge_files_written": ("count", "lower", "setup_s", "search"),
    "deletes.delete_docs_s": ("s", "lower", "setup_s", "search"),
    "deletes.live_mask_s": ("s", "lower", "latency_p50_s", "search"),
    "driver.jvm_rss_peak_mb": ("MB", "lower", "latency_p50_s", "search"),
    "driver.py_rss_peak_mb": ("MB", "lower", "latency_p50_s", "search"),
    "spark.gc_s": ("s", "lower", "throughput_per_s", "build, search"),
    "trace.overhead_frac": ("ratio", "lower", "none", "build, search"),
}


def _manifest(out: str) -> dict:
    with open(os.path.join(out, "_manifest.json")) as f:
        return json.load(f)["stages"]


def _per(spans: list[Span], fn) -> float:
    return median([fn(s) for s in spans]) if spans else 0.0


def compute(traced: Recorder, log: EventLog, overhead: float) -> dict:
    """Every metric of ``LAYERS`` from the traced run's spans (set-up and
    timed loop) and its event log."""
    m = {k: 0.0 for k in LAYERS}
    sess = traced.named("session.get_spark")
    m["session.get_spark_s"] = sess[0].seconds if sess else 0.0

    # ---- build: bulk builds of the traced loop
    builds = [s for s in traced.named("build_index") if s.attrs.get("role") == "bulk"]
    if builds:
        man = [_manifest(s.attrs["out"]) for s in builds]
        m["transcripts.plan_doc_ids_s"] = median([x["00_doc_map"].get("assign_s", 0) for x in man])
        m["transcripts.bounds_s"] = median([x["00_doc_map"].get("bounds_s", 0) for x in man])
        m["transcripts.counts_s"] = median([x["00_doc_map"].get("counts_s", 0) for x in man])
        m["build_index.doc_map_s"] = median([x["00_doc_map"]["wall_s"] for x in man])
        m["build_index.blocks_s"] = median([x["01_blocks"]["wall_s"] for x in man])
        m["build_index.dict_s"] = median([x["02_dict"]["wall_s"] for x in man])
        m["postings.postings"] = median([x["02_dict"]["postings"] for x in man])
        m["postings.index_bytes"] = median([x["02_dict"]["bytes"] for x in man])
        m["build_index.jobs"] = _per(builds, lambda s: len(log.jobs_in(s.start, s.end)))
        m["build_index.tasks"] = _per(builds, lambda s: len(log.tasks_in(s.start, s.end)))
        m["build_index.files_written"] = _per(
            builds, lambda s: dir_bytes_files(os.path.join(s.attrs["out"], "segment"))[1]
        )
        m["build_index.shuffle_write_bytes"] = _per(
            builds, lambda s: sum(t.shuffle_write_bytes for t in log.tasks_in(s.start, s.end))
        )
        m["build_index.spill_bytes"] = _per(
            builds, lambda s: sum(t.spill_bytes for t in log.tasks_in(s.start, s.end))
        )
        # stage 01 runs between the end of stage 00's serial head and the
        # start of stage 02, which ends the build: take it back from the end
        windows = []
        for s, x in zip(builds, man):
            end01 = s.end - 1000.0 * x["02_dict"]["wall_s"]
            windows.append(log.tasks_in(end01 - 1000.0 * x["01_blocks"]["wall_s"], end01))
        m["build_index.blocks_task_skew"] = median([skew(w) for w in windows])
        m["postings.encode_py_run_s"] = median(
            [sum(t.accums.get("time to run Python workers", 0) for t in w) / 1000.0 for w in windows]
        )
        m["postings.encode_py_bytes_in"] = median(
            [sum(t.accums.get("data sent to Python workers", 0) for t in w) for w in windows]
        )
    m["fsck.fsck_segment_s"] = _per(traced.named("fsck.fsck_segment"), lambda s: s.seconds)
    m["segments.segment_stats_s"] = _per(traced.named("segments.segment_stats"), lambda s: s.seconds)

    # ---- single-query requests
    reqs = traced.named("wand.request")
    if reqs:
        n = len(reqs)
        jobs = [j for s in reqs for j in log.jobs_in(s.start, s.end)]
        m["wand.jobs_per_request"] = len(jobs) / n
        m["wand.stages_per_request"] = sum(
            len({t.stage for t in log.tasks_in(s.start, s.end)}) for s in reqs
        ) / n
        m["wand.tasks_per_request"] = sum(len(log.tasks_in(s.start, s.end)) for s in reqs) / n
        m["wand.request_driver_s"] = median(
            [(s.end - s.start - log.busy_ms(s.start, s.end)) / 1000.0 for s in reqs]
        )
        m["wand.py_worker_start_s"] = sum(
            t.accums.get("time to start Python workers", 0)
            for s in reqs for t in log.tasks_in(s.start, s.end)
        ) / 1000.0 / n

    # ---- query batches
    batches = traced.named("wand.batch")
    if batches:
        n = len(batches)
        tasks = [log.tasks_in(s.start, s.end) for s in batches]
        m["wand.scan_input_bytes"] = sum(t.input_bytes for ts in tasks for t in ts) / n
        m["wand.scan_files_read"] = sum(
            log.sql_in(s.start, s.end, "number of files read") for s in batches
        ) / n
        m["wand.exchange_bytes"] = sum(t.shuffle_write_bytes for ts in tasks for t in ts) / n
        m["wand.kernel_py_run_s"] = sum(
            t.accums.get("time to run Python workers", 0) for ts in tasks for t in ts
        ) / 1000.0 / n
        m["wand.arrow_to_py_bytes"] = sum(
            t.accums.get("data sent to Python workers", 0) for ts in tasks for t in ts
        ) / n
        m["wand.scan_task_skew"] = median([skew(ts) for ts in tasks])

    # ---- LSM: stream, merge, deletes
    streams = traced.named("ingest.stream")
    epochs = [
        p for s in streams for p in s.attrs.get("progress", []) if p.get("rows", 0) > 0
    ]
    if epochs:
        m["ingest.epoch_s"] = median([p["ms"].get("triggerExecution", 0) / 1000.0 for p in epochs])
        m["ingest.jobs_per_epoch"] = sum(
            len(log.jobs_in(s.start, s.end)) for s in streams
        ) / len(epochs)
    merges = traced.named("segments.merge_segments")
    m["segments.merge_segments_s"] = _per(merges, lambda s: s.seconds)
    m["segments.merge_files_written"] = _per(merges, lambda s: dir_bytes_files(s.attrs["out"])[1])
    m["deletes.delete_docs_s"] = _per(traced.named("deletes.delete_docs"), lambda s: s.seconds)
    m["deletes.live_mask_s"] = _per(traced.named("deletes.live_mask"), lambda s: s.seconds)

    m["driver.jvm_rss_peak_mb"] = traced.jvm_rss_peak_mb
    m["driver.py_rss_peak_mb"] = traced.py_rss_peak_mb
    loop = traced.named("loop")
    if loop:
        m["spark.gc_s"] = sum(t.gc_ms for t in log.tasks_in(loop[0].start, loop[0].end)) / 1000.0
    m["trace.overhead_frac"] = overhead
    return m
