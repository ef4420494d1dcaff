"""Per-layer metrics of a traced run, read from the spans of its traced
jobs, Spark's own SQL metrics and streaming progress, and the layer
probes. Every metric is printed on every workload; one a workload never
exercises reads 0 (the bypass predictions in README.md).

Per-job values are medians over the traced jobs.
"""

from __future__ import annotations

from statistics import median

LAYERS = ["job", "engine", "payload", "io", "checks", "streaming",
          "pipeline"]
CHECKS = ["uniqueness", "ordering", "referential", "stats_profile", "drift",
          "conversation_rules"]
STAGES = ["redact", "quality", "lang", "decontaminate", "exact", "jaccard",
          "clusters"]

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "engine.plan_ms": "ms", "engine.scan_s": "s",
    "engine.phase2_rows": "count", "engine.phase2_precision": "share",
    "engine.shuffle_bytes": "bytes",
    "validators.udf_rows": "count", "validators.udf_bytes": "bytes",
    "validators.udf_share": "share",
    "payload.corrupt_share": "share",
    "io.audit_run_s": "s", "io.resume_plan_ms": "ms",
    "io.bytes_written": "bytes", "io.files_written": "count",
    **{f"checks.{c}_s": "s" for c in CHECKS},
    "checks.shuffle_bytes": "bytes",
    "streaming.add_batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.state_batch_ms_p50": "ms", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    **{f"pipeline.{s}_s": "s" for s in STAGES},
    "pipeline.candidate_pairs": "count", "pipeline.pair_precision": "share",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s", "ops.failed_share": "share",
}

UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _subtree(spans: list, root: dict) -> list:
    ids, out = {root["id"]}, [root]
    for s in spans:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _sum(spans: list, metric: str, node=lambda name: True,
         layer: str | None = None) -> float:
    return sum(ms.get(metric, 0.0)
               for s in spans if layer in (None, s["layer"])
               for name, _desc, ms in s["nodes"] if node(name))


def _named(spans: list, name: str) -> list:
    return [s for s in spans if s["name"] == name]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _p50(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def compute(tracer, plain_jobs: list, traced_jobs: list,
            probes: dict) -> dict:
    """``plain_jobs`` ran with tracing off and ``traced_jobs`` with it
    on, in pairs (``plain_jobs[i]`` with ``traced_jobs[i]``), then the
    probes."""
    out = dict.fromkeys(METRICS, 0.0)
    spans = tracer.spans
    roots = [s for s in spans if s["layer"] == "job"]
    per_job = [_subtree(spans, r) for r in roots]
    n = max(len(per_job), 1)

    def per(fn) -> float:
        return _p50(fn(js) for js in per_job)

    # engine: the probe calls the engine directly
    scan = _named(spans, "engine.scan")
    plan = _named(spans, "engine.plan")
    exchange = lambda name: name == "Exchange"  # noqa: E731
    phase2 = _sum(scan, "shuffle records written", exchange)
    failing = median(j.extra.get("failing_rows", 0) for j in traced_jobs)
    out.update({
        "engine.plan_ms": _p50(_dur(s) * 1e3 for s in plan),
        "engine.scan_s": _p50(_dur(s) for s in scan),
        "engine.phase2_rows": phase2,
        "engine.phase2_precision": failing / phase2 if phase2 else 0.0,
        "engine.shuffle_bytes": _sum(scan, "shuffle bytes written",
                                     exchange),
    })

    # validators: rows shipped through Arrow UDF nodes inside the jobs
    udf = lambda name: name in UDF_NODES  # noqa: E731
    rows_in = median(j.items for j in traced_jobs)
    udf_rows = per(lambda js: _sum(js, "number of output rows", udf))
    out.update({
        "validators.udf_rows": udf_rows,
        "validators.udf_bytes": per(
            lambda js: _sum(js, "data sent to Python workers", udf)),
        "validators.udf_share": udf_rows / rows_in if rows_in else 0.0,
        "payload.corrupt_share": median(
            j.extra.get("payload_violations", 0) / j.items
            if j.items else 0.0 for j in traced_jobs),
    })

    # io: the audited run, timed per call; bytes as left on disk
    written = [j.extra["written"] for j in traced_jobs
               if "written" in j.extra]
    out.update({
        "io.audit_run_s": per(lambda js: sum(
            _dur(s) for s in js
            if s["name"] in ("io.audit_crash", "io.audit_resume"))),
        "io.resume_plan_ms": per(lambda js: sum(
            _dur(s) * 1e3 for s in _named(js, "io.resume_plan"))),
        "io.files_written": _p50(w[0] for w in written),
        "io.bytes_written": _p50(w[1] for w in written),
    })

    # checks: one span per check call
    for c in CHECKS:
        out[f"checks.{c}_s"] = _p50(_dur(s)
                                    for s in _named(spans, f"checks.{c}"))
    out["checks.shuffle_bytes"] = per(
        lambda js: _sum(js, "shuffle bytes written", exchange, "checks"))

    # streaming: Spark's StreamingQueryProgress of both queries
    prog = [p for j in traced_jobs for p in j.extra.get("progress", [])]
    uprog = [p for j in traced_jobs for p in j.extra.get("uprogress", [])]
    if prog:
        out.update({
            f"streaming.{k}_ms_p50": _p50(
                p["durationMs"].get(d, 0) for p in prog)
            for k, d in (("add_batch", "addBatch"),
                         ("planning", "queryPlanning"),
                         ("wal_commit", "walCommit"))})
    if uprog:
        last = [j.extra["uprogress"][-1]["stateOperators"]
                for j in traced_jobs]
        out.update({
            "streaming.state_batch_ms_p50": _p50(
                p["durationMs"]["triggerExecution"] for p in uprog),
            "streaming.state_rows": _p50(
                sum(op["numRowsTotal"] for op in ops) for ops in last),
            "streaming.state_mem_bytes": _p50(
                sum(op["memoryUsedBytes"] for op in ops) for ops in last),
        })

    # pipeline stages and the other probe values
    out.update(probes)

    # Spark-wide, per job
    out["spark.gc_s"] = median(j.extra["gc_s"] for j in traced_jobs)
    out["spark.spill_bytes"] = per(lambda js: _sum(js, "spill size"))

    # self time per layer, per job (probes excluded)
    job_spans = [s for js in per_job for s in js]
    for layer, secs in tracer.self_seconds(job_spans).items():
        out[f"{layer}.self_s"] = secs / n

    # each traced job against the untraced job of its pair
    out["trace.overhead_s"] = median(
        t.seconds - p.seconds for p, t in zip(plain_jobs, traced_jobs))
    attempted = sum(j.attempted for j in traced_jobs + plain_jobs)
    failed = sum(j.n_failed for j in traced_jobs + plain_jobs)
    out["ops.failed_share"] = failed / attempted if attempted else 0.0
    return out
