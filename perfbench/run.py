"""Benchmark entry point.

    python3 perfbench/run.py --workload build|search --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
the seed, builds the oracle, sets up Spark (timed as ``setup_s``), runs
the workload's closed loop for ``--seconds``, checks every op against the
oracle and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the event log is on from the start, the metrics are the per-layer ones
(see ``layers.py``), and a half-length untraced loop on a fresh
SparkContext prices the tracing.
The line before it is a report: the environment, the op counts, and the
same run under its per-workload metric names. All files live in
``.perfbench_work/`` under the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "index_bytes_per_text_byte": "ratio",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def overhead(untraced: dict, traced: dict) -> float:
    """Cost of tracing: the mean of the throughput and latency slowdowns
    of a traced loop against an untraced one (0 = free; 0 as well when a
    loop had no successful op, which the run reports as failed)."""
    if not all(h["throughput_per_s"] and h["latency_p50_s"] for h in (untraced, traced)):
        return 0.0
    return (
        untraced["throughput_per_s"] / traced["throughput_per_s"] - 1.0
        + traced["latency_p50_s"] / untraced["latency_p50_s"] - 1.0
    ) / 2.0


def run(args, work: str) -> tuple[dict, dict]:
    from env import SparkEnv
    from spans import Recorder, jvm_pid
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    wl.prepare()  # inputs and oracle: not part of set-up
    # a traced run has the event log on from the start, so that set-up's
    # layers are traced too
    env = SparkEnv(REPO, work, trace=bool(args.trace))
    rec = Recorder()
    try:
        t0 = time.perf_counter()
        with rec.span("setup"):
            with rec.span("session.get_spark"):
                spark = env.start()
            rec.jvm_pid = jvm_pid(spark)
            traced_app = env.traced_app
            wl.setup(spark, rec)
        setup_s = time.perf_counter() - t0
        with rec.span("loop"):
            ops = wl.loop(rec, args.seconds, trace=bool(args.trace))
        wl.check(ops)
        # pricing the tracing: a half-length untraced loop on a fresh
        # SparkContext. It runs after the traced loop, so its JVM is the
        # warmer one: the estimate errs towards tracing looking costly.
        untraced = []
        if args.trace:
            env.stop()
            env.trace = False
            wl.reopen(env.start())
            untraced = wl.loop(Recorder(), args.seconds / 2)
            wl.check(untraced)
        record = env.record()
    finally:
        env.close()

    all_ops = ops + untraced
    failed = [o for o in all_ops if o.error]
    walls: dict = {}
    for o in all_ops:
        walls.setdefault(o.kind, []).append(round(o.wall_s, 3))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "env": record,
        "ops": {k: len(v) for k, v in walls.items()},
        "op_walls_s": walls,
        "failed_frac": len(failed) / len(all_ops),
        "failures": [f"{o.kind}: {o.error}" for o in failed[:5]],
        "setup_spans": {
            s.name: round(s.seconds, 3) for s in rec.spans if s.end <= rec.named("setup")[0].end
        },
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            **{k: {"value": v, "unit": u} for k, (v, u) in wl.named(ops).items()},
        },
    }
    if args.trace:
        from eventlog import EventLog
        from layers import LAYERS, compute

        log = EventLog.from_dir(env.event_dir, traced_app)
        layer = compute(rec, log, overhead(wl.headline(untraced), wl.headline(ops)))
        metrics = {k: {"value": v, "unit": LAYERS[k][0]} for k, v in layer.items()}
        report["layer_map"] = {k: {"moves": v[2], "on": v[3]} for k, v in LAYERS.items()}
    else:
        head = dict(wl.headline(ops), setup_s=setup_s)
        metrics = {k: {"value": head[k], "unit": UNITS[k]} for k in UNITS}
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, report


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(REPO, "ivfadc_spark", "__init__.py")):
        print(f"perfbench: no engine sources (ivfadc_spark/) in {REPO}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only if no other run is using it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(report, default=float))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)
    sys.exit(main())
