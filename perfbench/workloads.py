"""The benchmark's two workloads, each one closed-loop client.

``build``  the write side. Set-up builds the corpus once (the first build in
           a process pays JVM and Python-worker warm-up). Each timed op is
           a bulk build of the same corpus into a new directory plus the
           default integrity gate: ``build_index``, ``fsck_segment(deep=True)``
           and ``segment_stats``.
``search`` the read side. Set-up ingests the corpus the LSM way, as two
           ``stream_build_segments`` micro-batches, merges their segments
           with ``merge_segments`` and tombstones 1% of its docs with
           ``delete_docs``. Each timed op is a round on that segment: one
           batch of Zipf queries through ``bm25_topk_indexed``, then
           single-query requests, each timed from call to collected rows.

Inputs come from ``gen`` with the run's seed; outputs are checked against
``oracle`` after the timed loop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle as orc
from spans import Recorder, dir_bytes_files, median

K = 10
TOMBSTONE_SHARE = 0.01
# twice the engine's maxFilesPerTrigger (8): the stream ingests the corpus
# as two micro-batches, so merge_segments merges two segments
INPUT_FILES = 16


@dataclass
class Op:
    kind: str
    wall_s: float
    items: int
    error: str | None = None
    check: dict = field(default_factory=dict)


def _rows(rows) -> dict:
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return by_q


def _stats_row(df) -> dict:
    return df.collect()[0].asDict()


class Workload:
    name = ""
    TURNS = 60_000

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.n_ops = 0

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def prepare(self) -> None:
        """Inputs and oracle (not part of set-up)."""
        corpus = gen.transcripts(self.TURNS, self.seed)
        gen.write_parquet(corpus, self.path("in"), INPUT_FILES)
        self.text_bytes = int(corpus["text"].map(lambda t: len(t.encode())).sum())
        self.oracle = orc.Bm25Oracle(corpus)

    def loop(self, rec: Recorder, seconds: float, trace: bool = False) -> list[Op]:
        """Run ops until ``seconds`` have passed (at least one). An op that
        raises counts as failed and the client goes on."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            self.n_ops += 1
            try:
                ops.extend(self.op(rec, trace))
            except Exception as e:
                ops.append(Op(self.name, 0.0, 0, error=f"{type(e).__name__}: {e}"[:500]))
        return ops


class BuildWorkload(Workload):
    name = "build"

    def setup(self, spark, rec: Recorder) -> None:
        from ivfadc_spark.plans.build_index import build_index

        self.spark = spark
        with rec.span("build_index", role="setup"):
            build_index(spark, spark.read.parquet(self.path("in")), self.path("setup"))
        self.index_bytes = dir_bytes_files(self.path("setup", "segment"))[0]

    def reopen(self, spark) -> None:
        """On a new SparkContext, one untimed build re-warms its workers."""
        from ivfadc_spark.plans.build_index import build_index

        self.spark = spark
        build_index(spark, spark.read.parquet(self.path("in")), self.path("rewarm"))

    def op(self, rec: Recorder, trace: bool) -> list[Op]:
        from ivfadc_spark.operators.fsck import fsck_segment
        from ivfadc_spark.operators.segments import segment_stats
        from ivfadc_spark.plans.build_index import build_index

        spark = self.spark
        out = self.path(f"bulk{self.n_ops:03d}")
        with rec.span("op.bulk") as sp:
            with rec.span("build_index", role="bulk", out=out):
                seg = build_index(spark, spark.read.parquet(self.path("in")), out)
            with rec.span("fsck.fsck_segment"):
                findings = fsck_segment(seg, deep=True).collect()
            with rec.span("segments.segment_stats"):
                stats = _stats_row(segment_stats(seg))
        return [Op("bulk", sp.seconds, self.TURNS, check={
            "findings": [f.asDict() for f in findings[:5]], "stats": stats,
        })]

    def check(self, ops: list[Op]) -> None:
        """Set ``op.error`` on every op whose output the oracle rejects."""
        for op in ops:
            if op.error:
                continue
            if op.check["findings"]:
                op.error = f"fsck findings: {op.check['findings']}"
            else:
                op.error = orc.check_stats(self.oracle, op.check["stats"])
            op.check = {}

    def headline(self, ops: list[Op]) -> dict:
        bulk = [o for o in ops if not o.error]
        return {
            "throughput_per_s": median([o.items / o.wall_s for o in bulk]),
            "latency_p50_s": median([o.wall_s for o in bulk]),
            "index_bytes_per_text_byte": self.index_bytes / self.text_bytes,
        }

    def named(self, ops: list[Op]) -> dict:
        """The headline under names that say what it measures."""
        h = self.headline(ops)
        return {
            "build_turns_per_s": (h["throughput_per_s"], "turns/s"),
            "build_gate_p50_s": (h["latency_p50_s"], "s"),
            "index_bytes_per_text_byte": (h["index_bytes_per_text_byte"], "ratio"),
        }


class SearchWorkload(Workload):
    name = "search"
    BATCH = 1000
    REQUESTS = 5
    WARM_BATCH = 100
    WARM_REQUESTS = 2
    CHECK_SAMPLE = 40  # answers per batch checked against the oracle

    def prepare(self) -> None:
        super().prepare()
        rng = gen.rng(self.seed, 3)
        space = self.oracle.doc_space
        self.dead = np.sort(rng.choice(space, size=int(space * TOMBSTONE_SHARE), replace=False))
        self.live = np.ones(space, dtype=bool)
        self.live[self.dead] = False
        self.requests = gen.queries(4096, self.seed, stream=1)["text"].tolist()

    def setup(self, spark, rec: Recorder) -> None:
        from ivfadc_spark.operators.deletes import delete_docs
        from ivfadc_spark.operators.segments import merge_segments
        from ivfadc_spark.streaming.ingest import list_stream_segments, stream_build_segments

        self.spark = spark
        t0 = time.perf_counter()
        with rec.span("ingest.stream") as sp:
            q = stream_build_segments(spark, self.path("in"), self.path("lsm"))
            q.awaitTermination()
            sp.attrs["progress"] = [
                {"rows": p.get("numInputRows", 0), "ms": p.get("durationMs", {})}
                for p in q.recentProgress
            ]
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
        with rec.span("segments.merge_segments", out=self.path("seg")):
            self.seg = merge_segments(spark, list_stream_segments(self.path("lsm")), self.path("seg"))
        self.index_bytes = dir_bytes_files(self.path("seg"))[0]
        with rec.span("deletes.delete_docs"):
            delete_docs(self.seg, self.dead.tolist())
        self.ingest_s = time.perf_counter() - t0
        self._warm()

    def reopen(self, spark) -> None:
        from ivfadc_spark.operators.segments import Segment

        self.spark = spark
        self.seg = Segment(spark, self.path("seg"))
        self._warm()

    def _warm(self) -> None:
        """A small batch and a few requests: first-call costs of the query
        path (Python workers, the open segment's broadcasts, JIT) stay out
        of the timed loop, as in a server that holds the segment open."""
        from ivfadc_spark.operators.wand import bm25_topk_indexed

        qs = gen.queries(self.WARM_BATCH, self.seed, stream=2)
        bm25_topk_indexed(self.spark.createDataFrame(qs), self.seg, k=K).collect()
        for text in qs["text"].iloc[: self.WARM_REQUESTS]:
            qdf = self.spark.createDataFrame([(0, text)], "query_id long, text string")
            bm25_topk_indexed(qdf, self.seg, k=K).collect()

    def op(self, rec: Recorder, trace: bool) -> list[Op]:
        from ivfadc_spark.operators.deletes import live_mask
        from ivfadc_spark.operators.wand import bm25_topk_indexed

        spark = self.spark
        qs = gen.queries(self.BATCH, self.seed, stream=100 + self.n_ops)
        with rec.span("wand.batch") as sp:
            rows = bm25_topk_indexed(spark.createDataFrame(qs), self.seg, k=K).collect()
        ops = [Op("batch", sp.seconds, self.BATCH, check={"queries": qs, "rows": rows})]
        for i in range(self.REQUESTS):
            text = self.requests[(self.n_ops * self.REQUESTS + i) % len(self.requests)]
            if trace:  # the mask each request builds, timed on its own
                with rec.span("deletes.live_mask"):
                    live_mask(self.seg)
            with rec.span("wand.request") as sp:
                qdf = spark.createDataFrame([(0, text)], "query_id long, text string")
                rows = bm25_topk_indexed(qdf, self.seg, k=K).collect()
            ops.append(Op("request", sp.seconds, 1, check={"text": text, "rows": rows}))
        return ops

    def check(self, ops: list[Op]) -> None:
        """Set ``op.error`` on every op with an answer the oracle rejects:
        every request, and a seeded sample of each batch. A segment whose
        statistics disagree with the oracle fails every op run on it."""
        from ivfadc_spark.operators.segments import segment_stats

        bad_segment = orc.check_stats(self.oracle, _stats_row(segment_stats(self.seg)))
        rng = gen.rng(self.seed, 4)
        for op in ops:
            if op.error:
                continue
            if bad_segment:
                op.error = f"segment: {bad_segment}"
                continue
            by_q = _rows(op.check["rows"])
            if op.kind == "batch":
                qs = op.check["queries"]
                sample = rng.choice(len(qs), size=min(self.CHECK_SAMPLE, len(qs)), replace=False)
                for i in sorted(sample.tolist()):
                    err = orc.check_topk(
                        self.oracle, qs["text"].iloc[i],
                        by_q.get(int(qs["query_id"].iloc[i]), []), K, self.live,
                    )
                    if err:
                        op.error = f"query {i}: {err}"
                        break
            else:
                op.error = orc.check_topk(self.oracle, op.check["text"], by_q.get(0, []), K, self.live)
            op.check = {}

    def headline(self, ops: list[Op]) -> dict:
        batches = [o for o in ops if o.kind == "batch" and not o.error]
        reqs = [o for o in ops if o.kind == "request" and not o.error]
        wall = sum(o.wall_s for o in batches)
        return {
            "throughput_per_s": sum(o.items for o in batches) / wall if wall else 0.0,
            "latency_p50_s": median([o.wall_s for o in reqs]),
            "index_bytes_per_text_byte": self.index_bytes / self.text_bytes,
        }

    def named(self, ops: list[Op]) -> dict:
        """The headline under names that say what it measures."""
        h = self.headline(ops)
        return {
            "batch_qps": (h["throughput_per_s"], "queries/s"),
            "search_p50_s": (h["latency_p50_s"], "s"),
            "index_bytes_per_text_byte": (h["index_bytes_per_text_byte"], "ratio"),
            # once per run, in set-up, and the process's first build: cold
            "ingest_turns_per_s": (self.oracle.doc_space / self.ingest_s, "turns/s"),
        }


WORKLOADS = {w.name: w for w in (BuildWorkload, SearchWorkload)}
