"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline workload (the north-star pipeline):
  - index_build:      transcripts -> checkpointed compressed segment (turns/sec)
  - bm25_query_batch: 200-query top-10 batch via block-max WAND (QPS)
  - bm25_df_documents: flagship DataFrame BM25 over the documents table
  - lineitem_agg / revenue_per_nation / minhash_signatures: relational +
    dedup representatives

Extra keys (turns_per_sec, qps, n_turns, master, fallback) are informational;
the scaling-efficiency protocol (BASELINE.md) runs this same script at
local[8] and local[32] via tools/run_scaling.sh.

Master selection is CRASH-PROOF (round-4's driver bench died when the
two-JVM local-cluster's executors failed to launch in a memory-squeezed
window and the harness had no fallback):

  1. Memory grants are derived from DETECTED available RAM (``/proc/meminfo``
     MemAvailable), never fixed numbers: driver <=30%, each executor <=22%,
     both capped at the round-4 values (48g / 22g) so a big host behaves
     exactly as before.
  2. The two-JVM ``local-cluster[2,c,mem]`` master is only ATTEMPTED when
     available RAM covers driver + 2 executors with tmpfs-shuffle headroom
     (>= ~40 GiB); otherwise the plan goes straight to one-JVM ``local[16]``.
  3. Every attempt is wrapped: executor-registration timeout, a dead
     SparkContext ("Master removed our application"), or any mid-suite
     error tears the session down and RERUNS the whole suite on the next
     master in the plan (last resort: ``local[8]``). The JSON line records
     which master actually ran (``master``) and whether it was a fallback
     (``fallback``).

Test knobs (exercised by tests/test_bench_fallback.py):
  SPARK_GRAFT_MEM_TOTAL_MB   override detected RAM (preflight squeeze path)
  SPARK_GRAFT_BENCH_BAD_CLUSTER=1
                             force attempt 1 to a 1 GiB-worker local-cluster
                             whose 22g executors can never launch (runtime
                             failure path -> fallback must engage)

Each timed section runs TWICE and reports the per-metric best — the same
convention as the scaling protocol (BENCH/BASELINE.md): identical
back-to-back runs on this shared host vary ~25% with ambient load, and the
best is the estimate of quiet-host cost.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ivfadc_spark.session import detect_avail_mb  # noqa: E402

# caps = the round-4 grants; on a >=128 GiB host the derived sizes hit the
# caps and behave identically to round 4's fixed trio
_DRIVER_CAP_MB = 48 * 1024
_EXEC_CAP_MB = 22 * 1024
# below this much available RAM the two-JVM plan has no headroom for
# tmpfs shuffle + OS cache and is not worth attempting
_TWO_JVM_MIN_MB = 40 * 1024


def plan_masters(cpus: int, avail_mb: int) -> list[tuple[str, dict | None, int]]:
    """Ordered (master, extra_conf, shuffle_partitions) attempts.

    The suite runs on the FIRST attempt that launches and survives; any
    failure falls through to the next. The final entry is a deliberately
    tiny ``local[8]`` that launches on any host that can run Spark at all.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    attempts: list[tuple[str, dict | None, int]] = []
    if cpus > 16 and not os.environ.get("SPARK_GRAFT_BENCH_ONEJVM"):
        # preferred for wide grants: TWO executor JVMs (all granted cores
        # busy, per-JVM width in the sane regime — the shape a real cluster
        # gives this job). Only attempted when detected RAM covers it.
        exec_mb = min(_EXEC_CAP_MB, int(avail_mb * 0.22))
        driver_mb = min(_DRIVER_CAP_MB, int(avail_mb * 0.30))
        worker_mb = exec_mb + 2048  # worker JVM itself + executor it hosts
        if os.environ.get("SPARK_GRAFT_BENCH_BAD_CLUSTER"):
            # test-only: a worker too small to host its executor — the
            # launch loop fails exactly like round 4's driver window did
            worker_mb, exec_mb = 1024, _EXEC_CAP_MB
        if avail_mb >= _TWO_JVM_MIN_MB or os.environ.get("SPARK_GRAFT_BENCH_BAD_CLUSTER"):
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
            attempts.append(
                (
                    f"local-cluster[2,{cpus // 2},{worker_mb}]",
                    {
                        "spark.executor.memory": f"{exec_mb}m",
                        # executor JVMs are separate processes: their python
                        # workers need the engine on the path (plain local
                        # mode inherits it)
                        "spark.executorEnv.PYTHONPATH": here,
                    },
                    cpus,
                )
            )
    # one-JVM fallback (and the default for narrow grants): cap at 16
    # threads — past that ONE local JVM anti-scales (page-fault/allocator
    # contention inflates system CPU ~7x; measured, BENCH/BASELINE.md).
    one = min(cpus, 16)
    driver_mb = min(_DRIVER_CAP_MB, max(4096, int(avail_mb * 0.45)))
    attempts.append((f"local[{one}]", {"__driver_mem_mb": driver_mb}, one))
    if one > 8:
        attempts.append((f"local[8]", {"__driver_mem_mb": min(driver_mb, 16 * 1024)}, 8))
    return attempts


def run_suite(spark, sf_dir: str, sf: float, cpus: int) -> tuple[dict, dict]:
    """The timed workload. Raises on any Spark failure — the caller's
    master-attempt loop handles teardown + rerun."""
    import pandas as pd

    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.operators.wand import bm25_topk_indexed
    from ivfadc_spark.plans import driver_queries as DQ
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import synth_transcripts_fast_pdf

    timings: dict[str, float] = {}
    extra: dict = {}

    # ---- corpus: deterministic synthetic transcripts scaled by sf
    n_conv = max(200, int(20_000 * sf / 0.1))
    pdf = synth_transcripts_fast_pdf(n_conversations=n_conv, seed=42)
    n_turns = len(pdf)
    extra["n_turns"] = n_turns
    tx = spark.createDataFrame(
        pdf, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    tx_path = os.path.join(tempfile.gettempdir(), "bench_tx.parquet")
    tx.write.mode("overwrite").parquet(tx_path)
    tx = spark.read.parquet(tx_path)

    # ---- index build (cold, checkpointed)
    out = tempfile.mkdtemp(prefix="ivfadc_bench_idx_")
    cfg = EngineConfig(block_size=256, salt_df_threshold=100_000, max_salts=16)
    # warm-up: tiny end-to-end build so python-worker pool spawn and JIT are
    # excluded from the measured window — per-process costs, not per-byte
    # costs; identical to the scaling protocol's warm-up (bench_scaling.py)
    warm_tx = spark.createDataFrame(
        synth_transcripts_fast_pdf(n_conversations=300, seed=1),
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(int(cpus))
    warm_dir = tempfile.mkdtemp(prefix="ivfadc_bench_warm_")
    build_index(spark, warm_tx, warm_dir, cfg=cfg).blocks.count()
    shutil.rmtree(warm_dir, ignore_errors=True)
    # two trials, per-metric best — the scaling protocol's convention
    # (BENCH/BASELINE.md): identical back-to-back builds on this shared
    # host vary ~25% with ambient load; the best estimates quiet-host cost
    best = None
    seg = None
    for trial in range(2):
        tdir = out if trial == 0 else tempfile.mkdtemp(prefix="ivfadc_bench_idx2_")
        t0 = time.time()
        s = build_index(spark, tx, tdir, cfg=cfg)
        s.blocks.count()  # materialize
        wall = time.time() - t0
        best = wall if best is None else min(best, wall)
        if trial == 0:
            seg = s  # queries run against the first (kept) segment
        else:
            shutil.rmtree(tdir, ignore_errors=True)
    timings["index_build"] = round(best, 3)
    extra["turns_per_sec"] = round(n_turns / timings["index_build"], 1)

    # ---- query batch: 200 seeded multi-term queries via WAND
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = [f"w{i:05d}" for i in range(2000)]
    qtexts = [
        " ".join(rng.choice(vocab[: int(2000 * 0.8)], size=rng.integers(1, 5)))
        for _ in range(200)
    ]
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": range(200), "text": qtexts}),
        schema="query_id long, text string",
    )
    _ = bm25_topk_indexed(qdf.limit(8), seg, k=10).collect()  # warm-up
    qbest, res = None, []
    for _t in range(2):
        t0 = time.time()
        res = bm25_topk_indexed(qdf, seg, k=10).collect()
        wall = time.time() - t0
        qbest = wall if qbest is None else min(qbest, wall)
    timings["bm25_query_batch"] = round(qbest, 3)
    extra["qps"] = round(200 / timings["bm25_query_batch"], 1)
    extra["result_rows"] = len(res)

    # ---- representatives from the driver contract (best of two)
    for name in ("bm25_topk_dataframe", "lineitem_agg", "revenue_per_nation", "minhash_signatures"):
        fn = DQ.QUERIES[name]
        w = None
        for _t in range(2):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            w = time.time() - t0 if w is None else min(w, time.time() - t0)
        timings[name] = round(w, 3)

    shutil.rmtree(out, ignore_errors=True)
    return timings, extra


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default 16, not 32: single-JVM local mode anti-scales past ~16 threads
    # on this class of host (page-fault/allocator contention inflates system
    # CPU ~7x at 32-way; measured, see BENCH/BASELINE.md) — 16 is the fastest
    # measured width for the one-JVM harness. Override via SPARK_GRAFT_CPUS.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from ivfadc_spark.session import get_spark, wait_for_executors

    avail_mb = detect_avail_mb()
    attempts = plan_masters(cpus, avail_mb)
    last_err: Exception | None = None
    for i, (master, conf, width) in enumerate(attempts):
        conf = dict(conf or {})
        driver_mb = conf.pop("__driver_mem_mb", None)
        if driver_mb:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
        spark = None
        try:
            spark = get_spark(
                "ivfadc-bench", master=master, shuffle_partitions=width,
                extra_conf=conf or None,
            )
            wait_for_executors(spark)
            timings, extra = run_suite(spark, sf_dir, sf, width)
            extra["master"] = master
            extra["fallback"] = i > 0
            extra["avail_mb"] = avail_mb
            total = round(sum(timings.values()), 3)
            print(
                json.dumps(
                    {
                        "metric": "headline_suite_sec",
                        "value": total,
                        "unit": "sec",
                        "queries": timings,
                        "sf": sf,
                        **extra,
                    }
                )
            )
            return
        except Exception as e:  # noqa: BLE001 — any failure means "next master"
            last_err = e
            print(
                f"bench: master {master} failed ({type(e).__name__}: {e}); "
                f"{'falling back' if i + 1 < len(attempts) else 'no attempts left'}",
                file=sys.stderr,
            )
        finally:
            if spark is not None:
                try:
                    spark.stop()
                except Exception:
                    pass
        time.sleep(2)  # let worker/executor processes die before relaunch
    raise SystemExit(f"bench: every master attempt failed: {last_err!r}")


if __name__ == "__main__":
    main()
