#!/usr/bin/env python3
"""Benchmark of the engine: three workloads, cold passes, one JSON result.

    python3 perfbench/run.py --workload integrate --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from ``--seed``,
computes the expected output of every step with independent twins, sets up
the session (session start plus an untimed warm-up pass on a small copy of
the inputs), then runs cold passes of the workload until
``--seconds`` have passed, checking every step.  The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.  See README.md for what each metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# task slots: half the host's four cores, so JIT, GC, the driver and the
# Python workers have room and a busy neighbour on a shared host moves the
# timings less
CORES = 2


def _env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout, pin the core
    count, and (traced runs only) turn on Spark's event log."""
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SDI_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = [
        "spark.ui.showConsoleProgress=false",
        # the whole heap from the start: a heap grown on demand grows at
        # GC-timing-dependent moments, and peak RSS with it
        f"spark.driver.extraJavaOptions=-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # keep every micro-batch's progress, not only the last 100
        "spark.sql.streaming.numRecentProgressUpdates=100000",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["SDI_EXTRA_CONF"] = ";".join(conf)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["integrate", "curate", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import scalable_data_integration_with_llms_spark  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the program from {ROOT}: {e}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, bool(args.trace))
    try:
        return run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """Stop the session and wait for the driver JVM to exit (it exits when
    its stdin closes), so the run leaves no process behind."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> int:
    from perfbench import metrics, trace, workloads
    from perfbench.trace import RssSampler, Tracer
    from scalable_data_integration_with_llms_spark.session import get_spark

    pass_fn = workloads.WORKLOADS[args.workload][0]
    t0 = time.perf_counter()
    inputs, expected = workloads.prepare(args.workload, os.path.join(work, "in"), args.seed, warm=False)
    warm_in, warm_exp = workloads.prepare(args.workload, os.path.join(work, "warm"), args.seed, warm=True)
    prep_s = time.perf_counter() - t0

    # -- set-up: session start + warm-up pass on the small inputs -------------
    quiet = Tracer(False)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark, quiet, warm_in, dict(warm_exp), work)
    workloads.cold_reset(ctx)
    pass_fn(ctx)
    for s in ctx.rec["steps"]:
        if not s["ok"]:
            _log(f"warm-up step failed: {s['name']}: {s['error']}")
    # process start to first timed pass, input generation and twins excluded
    setup_s = time.perf_counter() - T_PROCESS - prep_s
    _log(f"inputs+twins {prep_s:.3f} s, session start {start_s:.3f} s, setup {setup_s:.3f} s")

    # -- timed passes ---------------------------------------------------------
    tracer = Tracer(bool(args.trace))
    if args.trace:
        metrics.instrument(tracer)
    passes = []
    t_start = time.perf_counter()
    with RssSampler() as rss:
        while True:
            i = len(passes)
            # traced runs: an untraced pass to settle, then traced,
            # untraced, traced, so the tracing overhead is measured inside
            # one run and a linear pass-to-pass drift cancels
            traced = bool(args.trace) and i in (1, 3)
            tr = tracer if traced else quiet
            tracer.pass_id = i
            ctx = workloads.Ctx(spark, tr, inputs, dict(expected), work)
            if traced and args.workload == "integrate":
                sc = spark.sparkContext
                ctx.llm_acc = (sc.accumulator(0), sc.accumulator(0),
                               sc.accumulator(0), sc.accumulator(0.0))
            t0 = time.perf_counter()
            with tr.span(f"pass{i}", "pass"):
                workloads.cold_reset(ctx)
                pass_fn(ctx)
            ctx.rec["wall_s"] = time.perf_counter() - t0
            ctx.rec["traced"] = traced
            if ctx.llm_acc is not None:
                ctx.rec["llm"] = [a.value for a in ctx.llm_acc]
            passes.append(ctx.rec)
            _log(f"pass {i}{' traced' if traced else ''}: {ctx.rec['wall_s']:.3f} s "
                 + " ".join(f"{s['name']}={s['s']:.2f}" for s in ctx.rec["steps"]))
            need = 4 if args.trace else workloads.MIN_PASSES[args.workload]
            if time.perf_counter() - t_start >= args.seconds and len(passes) >= need:
                break

    steps = [s for p in passes for s in p["steps"]]
    failed = [s for s in steps if not s["ok"]]
    for s in failed[:5]:
        _log(f"FAILED {s['name']}: {s['error']}")
    if args.trace:
        probes = metrics.probes(args.workload, spark, inputs, tracer)
        spark.stop()
        values = metrics.per_layer(args.workload, passes, tracer, work, start_s, probes, CORES)
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces",
                                  f"{args.workload}-seed{args.seed}.json"))
    else:
        spark.stop()
        values = metrics.end_to_end(args.workload, passes, setup_s, rss.peak_mb)
        n = metrics.step_samples(args.workload, passes)
        tail = trace.tail_percentile(n)
        _log(f"step latency samples: {n}; highest percentile with ten beyond: "
             + (f"p{tail}" if tail else "none, median only"))
    out = {
        "correct": not failed,
        "attempted": len(steps),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
