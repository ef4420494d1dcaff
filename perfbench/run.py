"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload nightly_audit --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. It starts a ``local[nproc]`` Spark
session through the library's ``get_spark``, generates the workload's
inputs from the seed, checks every output against DuckDB, and prints
as its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. Scratch files,
the result with the machine it ran on, and the spans of a traced run go
under ``.perfbench_work/`` in the checkout. README.md beside this file
defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_JOBS = 2      # measured jobs per run at least; metrics are medians
TRACE_PAIRS = 2   # untraced/traced job pairs in a traced run at least

END_TO_END = {"setup_s": "s", "live_mem_mb": "MB", "items_per_s": "1/s",
              "latency_ms_p50": "ms", "latency_ms_p90": "ms"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def _job(wl, tracer):
    """One job, started from a collected heap. The JVM GC time spent
    inside it, and the memory it leaves held, are read after it."""
    import harness

    harness.full_gc(wl.spark)
    gc0 = harness.gc_seconds(wl.spark)
    job = wl.job(tracer)
    job.extra["gc_s"] = harness.gc_seconds(wl.spark) - gc0
    job.extra["live_bytes"] = harness.live_bytes(wl.spark)
    return job


def _measure(wl, tracer, seconds: float) -> list:
    """Closed loop, one client: the next job starts when the previous
    one ends, until ``seconds`` have passed and MIN_JOBS jobs ran."""
    jobs, t0 = [], time.perf_counter()
    while len(jobs) < MIN_JOBS or time.perf_counter() - t0 < seconds:
        jobs.append(_job(wl, tracer))
    return jobs


def _measure_traced(wl, tracer, seconds: float) -> tuple:
    """Pairs of one untraced and one traced job, each pair in the
    opposite order to the one before, so that a drift in the machine's
    speed hits both halves alike; the two lists pair up."""
    plain, traced, t0 = [], [], time.perf_counter()
    while len(traced) < TRACE_PAIRS or time.perf_counter() - t0 < seconds:
        for on in (False, True) if len(traced) % 2 == 0 else (True, False):
            tracer.enabled = on
            (traced if on else plain).append(_job(wl, tracer))
        tracer.enabled = False
    return plain, traced


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave it running
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import harness
    import layers
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl_cls = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    spark = harness.start_spark(work)
    try:
        session_s = time.perf_counter() - t0
        wl = wl_cls(spark, work, args.seed)
        tracer = harness.Tracer(spark)
        inp = os.path.join(work, "in")
        generate_s = _timed(wl.generate, inp)
        wl.prepare(inp)  # DuckDB, untimed
        # warm-up: one whole checked job, so Janino codegen and the JIT
        # are warm before timing
        warm = wl.job(tracer)
        setup_s = session_s + generate_s + warm.seconds

        if args.trace:
            jobs, traced = _measure_traced(wl, tracer, args.seconds)
            tracer.enabled = True
            probes = wl.probes(tracer)
            tracer.enabled = False
        else:
            jobs, traced = _measure(wl, tracer, args.seconds), []
        machine = harness.machine(spark)
    finally:
        _stop_spark(spark)

    every = [warm] + jobs + traced
    attempted = sum(j.attempted for j in every)
    failed = sum(j.n_failed for j in every)
    latencies = [ms for j in jobs for ms in j.latencies_ms]
    if args.trace:
        values = layers.compute(tracer, jobs, traced, probes)
        units = layers.METRICS
        tracer.write(os.path.join(work, "trace.jsonl"),
                     {"workload": wl.name, "seed": args.seed, **machine})
    else:
        p50, p90 = np.quantile(latencies, [0.5, 0.9])
        values = {
            "setup_s": setup_s,
            "live_mem_mb": statistics.median(
                j.extra["live_bytes"] for j in jobs) / (1 << 20),
            "items_per_s": statistics.median(j.items / j.seconds
                                             for j in jobs),
            "latency_ms_p50": float(p50),
            "latency_ms_p90": float(p90),
        }
        units = END_TO_END
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "items": f"{wl.unit} per job", "jobs": len(jobs),
        "traced_jobs": len(traced), "latency_samples": len(latencies),
        "session_s": session_s, "generate_s": generate_s,
        "warm_up_s": warm.seconds,
        "job_s": [j.seconds for j in jobs],
        "traced_job_s": [j.seconds for j in traced], "machine": machine,
    }
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()},
            "detail": detail, "work": work}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "validify_spark")):
        print(f"no validify_spark package under {ROOT}: run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    res = run(args)
    detail, work = res.pop("detail"), res.pop("work")
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({**res, "detail": detail}, f, indent=1)
    for name in ("jobs", "probe", "in", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
