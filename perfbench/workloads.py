"""The three workloads. Each one generates its inputs from the seed,
asks DuckDB for the expected outputs, and runs jobs: closed loop, one
client, each job a fixed sequence of calls into the library's public
API. Every call is an operation: it is timed, opened as a span when
tracing, and its output is checked.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import inputs
import oracle


class Job:
    """One closed-loop job: its operations, their timings and the
    operations whose output failed a check."""

    def __init__(self, tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.ops: list = []          # (group, seconds)
        self.failed: set = set()     # groups whose output failed a check
        self.latencies_ms: list = []
        self.items = 0
        self.seconds = 0.0
        self.extra: dict = {}

    def op(self, name: str, layer: str, fn, *args, **kw):
        with self.tracer.span(name, layer):
            t = time.perf_counter()
            out = fn(*args, **kw)
            self.ops.append((name, time.perf_counter() - t))
        return out

    def check(self, group: str, ok: bool, what: str) -> None:
        if not ok:
            self.failed.add(group)
            print(f"CHECK FAILED [{self.name}] {group}: {what}",
                  flush=True)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def n_failed(self) -> int:
        return sum(1 for g, _ in self.ops if g in self.failed)


class Workload:
    name = ""
    unit = ""

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.n_jobs = 0
        self.expect: dict = {}

    def generate(self, dst: str) -> None:
        raise NotImplementedError

    def prepare(self, src: str) -> None:
        """Point the workload at its inputs and compute the expected
        outputs (untimed)."""
        raise NotImplementedError

    def job(self, tracer) -> Job:
        raise NotImplementedError

    def probes(self, tracer) -> dict:
        """Traced runs only: direct calls into single layers, after the
        jobs, to split work that one public call does in one go."""
        return {}

    def _job_dir(self) -> str:
        self.n_jobs += 1
        d = os.path.join(self.work, "jobs", str(self.n_jobs))
        os.makedirs(d)
        return d


def _tree_size(d: str) -> tuple:
    n, size = 0, 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.startswith("part-") or f.endswith(".json"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# -- nightly_audit -------------------------------------------------------------

class NightlyAudit(Workload):
    """The north-star job: a resumable audited validation run crashed
    half-way and resumed, then the distributed checks."""

    name = "nightly_audit"
    unit = "turns"
    N_TURNS = 100_000
    N_BUCKETS = 16
    KEYS = ["conv_id", "turn_idx"]

    def generate(self, dst: str) -> None:
        inputs.write_turns(self.spark, dst, self.N_TURNS, self.seed)

    def prepare(self, src: str) -> None:
        read = self.spark.read.parquet
        self.turns = read(f"{src}/turns")
        self.meta = read(f"{src}/meta")
        self.baseline = read(f"{src}/baseline")
        self.expect = oracle.nightly(src)

    def _audit(self, out: str):
        from validify_spark import ValidationEngine
        from validify_spark.data import (standard_conversation_rules,
                                         standard_turns_ruleset)
        from validify_spark.io import AuditedValidationRun

        engine = ValidationEngine(standard_turns_ruleset(),
                                  key_cols=self.KEYS)
        return AuditedValidationRun(
            engine, out, run_id="nightly", n_buckets=self.N_BUCKETS,
            conv_agg_rules=standard_conversation_rules())

    def job(self, tracer) -> Job:
        from pyspark.sql import functions as F
        from validify_spark import checks as C

        J = Job(tracer, self.name)
        out = self._job_dir()
        turns, e = self.turns, self.expect
        t0 = time.perf_counter()
        with tracer.span("nightly_job", "job"):
            half = self.N_BUCKETS // 2
            first = J.op("io.audit_crash", "io", self._audit(out).run,
                         turns, max_partitions=half)
            resumed = self._audit(out)
            pending = J.op("io.resume_plan", "io",
                           resumed.pending_partitions, turns)
            rest = J.op("io.audit_resume", "io", resumed.run, turns)
            uniq = J.op("checks.uniqueness", "checks", lambda: C
                        .uniqueness_violations(turns, self.KEYS)
                        .agg(F.count("*"), F.sum("dup_count")).first())
            order = J.op("checks.ordering", "checks", lambda: dict(
                C.ordering_violations(turns).groupBy("code").count()
                .collect()))
            orph = J.op("checks.referential", "checks", lambda: C
                        .referential_orphans(turns, "conv_id", self.meta)
                        .agg(F.count("*"), F.sum("n_rows")).first())
            prof = J.op("checks.stats_profile", "checks",
                        lambda: C.stats_profile(turns).collect())
            drift = J.op("checks.drift", "checks", lambda: C.drift_report(
                C.categorical_histogram(turns, "role"),
                C.categorical_histogram(self.baseline, "role")).first())
        J.seconds = time.perf_counter() - t0
        J.items = e["n_rows"]
        J.latencies_ms.append(J.seconds * 1e3)

        marks = first + rest
        J.check("io.audit_crash", len(first) == half,
                f"{len(first)} groups committed before the crash")
        J.check("io.resume_plan", len(pending) == half,
                f"{len(pending)} groups pending after the crash")
        n_rows = sum(m["n_rows"] for m in marks)
        n_failed = sum(m["n_failed_rows"] for m in marks)
        n_viol = sum(m["n_violations"] for m in marks)
        n_conv = sum(m["n_conv_violations"] for m in marks)
        # the files on disk after resume, against DuckDB's counts
        rules = dict(oracle.scan(f"{out}/violations",
                                 "SELECT rule_id, count(*) FROM t GROUP BY 1"))
        conv = dict(oracle.scan(f"{out}/conv_violations",
                                "SELECT code, count(*) FROM t GROUP BY 1"))
        J.check("io.audit_resume",
                len(marks) == self.N_BUCKETS and n_rows == e["n_rows"]
                and n_failed == e["failing_rows"]
                and rules == e["rules"] and conv == e["conv"]
                and n_viol == sum(rules.values())
                and n_conv == sum(conv.values()),
                f"groups={len(marks)} n_rows={n_rows}/{e['n_rows']} "
                f"n_failed_rows={n_failed}/{e['failing_rows']} "
                f"n_violations={n_viol} violations {rules} vs "
                f"{e['rules']}, n_conv_violations={n_conv} {conv} vs "
                f"{e['conv']}")
        J.extra["failing_rows"] = n_failed
        J.extra["written"] = _tree_size(out)
        J.check("checks.uniqueness",
                tuple(uniq) == (e["dup_keys"], e["dup_rows"] or None),
                f"{tuple(uniq)} vs {(e['dup_keys'], e['dup_rows'])}")
        J.check("checks.ordering", order == e["ordering"],
                f"{order} vs {e['ordering']}")
        J.check("checks.referential",
                tuple(orph) == (e["orphans"], e["orphan_rows"] or None),
                f"{tuple(orph)} vs {(e['orphans'], e['orphan_rows'])}")
        got = {r["column"]: r["n_nulls"] for r in prof}
        J.check("checks.stats_profile",
                got == e["nulls"]
                and all(r["n_rows"] == e["n_rows"] for r in prof),
                f"nulls {got} vs {e['nulls']}")
        J.check("checks.drift",
                abs(drift["psi"] - e["psi"]) < 1e-5
                and drift["n_buckets"] == e["drift_buckets"],
                f"psi {drift['psi']} vs {e['psi']}")
        return J

    def probes(self, tracer) -> dict:
        from validify_spark.checks import conversation_rules
        from validify_spark.data import standard_conversation_rules

        engine = self._audit(os.path.join(self.work, "probe")).engine
        with tracer.span("engine.plan", "engine"):
            viol = engine.violations(self.turns)
        with tracer.span("engine.scan", "engine"):
            viol.write.format("noop").mode("overwrite").save()
        with tracer.span("checks.conversation_rules", "checks"):
            conversation_rules(
                self.turns, agg_rules=standard_conversation_rules()) \
                .write.format("noop").mode("overwrite").save()
        # the pipeline layer, whose own workload (corpus_clean) is not in
        # BENCHMARK.json: its stages over corpus_clean's input
        src = os.path.join(self.work, "probe", "corpus")
        inputs.write_corpus(src, CorpusClean.N_DOCS, self.seed)
        read = self.spark.read.parquet
        return pipeline_probes(tracer, read(f"{src}/docs"),
                               read(f"{src}/eval"), CorpusClean.THRESHOLD)


# -- stream_ingest -------------------------------------------------------------

class StreamIngest(Workload):
    """JSON transcript events staged as files: one file per trigger
    through ``validate_json_payload`` to a parquet sink, then the
    stateful ``stream_uniqueness_violations`` over the same files."""

    name = "stream_ingest"
    unit = "events"
    N_FILES = 4
    PER_FILE = 250

    def _ruleset(self):
        import validify_spark as vs
        return vs.RuleSet(name="events", rules=[
            vs.required("role", stage="presence"),
            vs.required("text", stage="presence"),
            vs.is_in("role", inputs.ROLES),
            vs.length("text", min=1),
            vs.email("email"), vs.url("url"), vs.ip("ip"),
            vs.phone("phone")])

    def generate(self, dst: str) -> None:
        inputs.write_events(dst, self.N_FILES, self.PER_FILE, self.seed)

    def prepare(self, src: str) -> None:
        self.events_dir = f"{src}/events"
        self.expect = oracle.stream(src)

    def _batch(self) -> Counter:
        """(event, rule) violations of the batch engine over the same
        files: the streamed violations must equal these."""
        from validify_spark import validate_json_payload

        _, viol = validate_json_payload(
            self.spark.read.parquet(self.events_dir), "payload",
            inputs.PAYLOAD_SCHEMA, self._ruleset(), key_cols=["event_id"])
        return Counter((r[0], r[1]) for r in
                       viol.select("event_id", "rule_id").collect())

    def _events(self, per_trigger: int | None):
        r = self.spark.readStream.schema(inputs.EVENT_SCHEMA)
        if per_trigger:
            r = r.option("maxFilesPerTrigger", per_trigger)
        return r.parquet(self.events_dir)

    def _drain(self, df, out: str, name: str):
        q = (df.writeStream.format("parquet")
             .option("checkpointLocation", f"{out}/{name}_ck")
             .option("path", f"{out}/{name}")
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return q.recentProgress

    def job(self, tracer) -> Job:
        from validify_spark import validate_json_payload
        from validify_spark.streaming import stream_uniqueness_violations

        J = Job(tracer, self.name)
        out = self._job_dir()
        t0 = time.perf_counter()
        with tracer.span("stream_job", "job"):
            with tracer.span("payload.query", "payload"):
                with tracer.span("engine.plan", "engine"):
                    _, viol = validate_json_payload(
                        self._events(1), "payload", inputs.PAYLOAD_SCHEMA,
                        self._ruleset(), key_cols=["event_id"])
                progress = self._drain(viol, out, "violations")
            with tracer.span("streaming.uniqueness", "streaming"):
                uprog = self._drain(stream_uniqueness_violations(
                    self._events(None), ["conv_id", "turn_idx"],
                    ts_col="ts"), out, "duplicates")
        J.seconds = time.perf_counter() - t0
        for p in progress:
            ms = p["durationMs"]["triggerExecution"]
            J.ops.append(("payload.batch", ms / 1e3))
            J.latencies_ms.append(float(ms))
        for p in uprog:
            J.ops.append(("streaming.uniqueness",
                          p["durationMs"]["triggerExecution"] / 1e3))
        J.extra.update(progress=progress, uprogress=uprog)
        e = self.expect
        J.items = e["n_events"]
        if "batch" not in e:
            # once, after the warm-up job's timed part: run at set-up,
            # the batch engine would pay the cold start of the Python
            # workers a second time
            e["batch"] = self._batch()
        viols = f"{out}/violations"
        pairs = {(ev, rule): n for ev, rule, n in oracle.scan(
            viols, "SELECT event_id, rule_id, count(*) FROM t GROUP BY 1, 2")}
        codes = dict(oracle.scan(viols,
                                 "SELECT code, count(*) FROM t GROUP BY 1"))
        J.extra["payload_violations"] = codes.get("payload", 0)
        J.extra["failing_rows"] = len(
            {k for (k, rule) in pairs if not rule.startswith("payload")})
        J.check("payload.batch",
                len(progress) == self.N_FILES and pairs == e["batch"]
                and codes == e["codes"],
                f"{len(progress)} micro-batches, codes {codes} vs "
                f"{e['codes']}, stream==batch: {pairs == e['batch']}")
        dups = oracle.scan(f"{out}/duplicates", """
            SELECT conv_id, turn_idx, max(dup_count), count(*) FROM t
            GROUP BY 1, 2""")
        top = {(c, t): m for c, t, m, _ in dups}
        n_dup = sum(n for *_, n in dups)
        want = sum(n - 1 for n in e["dups"].values())
        J.check("streaming.uniqueness",
                top == e["dups"] and n_dup == want,
                f"{len(top)} duplicated keys / {n_dup} arrivals vs "
                f"{len(e['dups'])} / {want}")
        return J

    def probes(self, tracer) -> dict:
        from validify_spark import validate_json_payload

        with tracer.span("engine.plan", "engine"):
            _, viol = validate_json_payload(
                self.spark.read.parquet(self.events_dir), "payload",
                inputs.PAYLOAD_SCHEMA, self._ruleset(),
                key_cols=["event_id"])
        with tracer.span("engine.scan", "engine"):
            viol.write.format("noop").mode("overwrite").save()
        return {}


# -- corpus_clean --------------------------------------------------------------

class CorpusClean(Workload):
    """``clean_corpus`` over a generated corpus with an eval set: only
    the pipeline layer works; engine, compiler and io do nothing."""

    name = "corpus_clean"
    unit = "docs"
    N_DOCS = 700
    THRESHOLD = 0.8

    def generate(self, dst: str) -> None:
        inputs.write_corpus(dst, self.N_DOCS, self.seed)

    def prepare(self, src: str) -> None:
        self.docs = self.spark.read.parquet(f"{src}/docs")
        self.eval = self.spark.read.parquet(f"{src}/eval")
        self.expect = oracle.corpus(src)

    def job(self, tracer) -> Job:
        from validify_spark.pipeline import clean_corpus

        J = Job(tracer, self.name)
        t0 = time.perf_counter()
        with tracer.span("corpus_job", "job"):
            kept = J.op("pipeline.clean_corpus", "pipeline", lambda:
                        clean_corpus(self.docs, benchmark=self.eval,
                                     jaccard_threshold=self.THRESHOLD)
                        .select("doc_id", "n_redactions").collect())
        J.seconds = time.perf_counter() - t0
        J.latencies_ms.append(J.seconds * 1e3)
        e = self.expect
        J.items = e["n_docs"]
        ids = sorted(r[0] for r in kept)
        red = sum(r[1] for r in kept)
        J.check("pipeline.clean_corpus",
                ids == e["survivors"] and red == e["redactions"],
                f"{len(ids)} survivors vs {len(e['survivors'])}, "
                f"{red} redactions vs {e['redactions']}")
        return J

    def probes(self, tracer) -> dict:
        return pipeline_probes(tracer, self.docs, self.eval, self.THRESHOLD)


def pipeline_probes(tracer, docs, eval_df, threshold: float) -> dict:
    """Each stage of ``clean_corpus`` called on its own, in the order
    the composition runs them."""
    from pyspark.sql import functions as F
    from validify_spark import pipeline as P

    def run(name, df):
        with tracer.span(f"pipeline.{name}", "pipeline") as s:
            df.write.format("noop").mode("overwrite").save()
        return s.seconds

    red = P.redact_pii(docs).select(
        "doc_id", F.col("clean_text").alias("text"))
    out = {"pipeline.redact_s": run("redact", red),
           "pipeline.quality_s": run("quality", P.quality_score(red)),
           "pipeline.lang_s": run("lang", P.lang_id(red)),
           "pipeline.decontaminate_s": run(
               "decontaminate", P.decontaminate(red, eval_df)),
           "pipeline.exact_s": run("exact", P.exact_duplicates(red))}
    with tracer.span("pipeline.jaccard", "pipeline") as s:
        pairs = P.jaccard_pairs(red, threshold=0.0).localCheckpoint()
    out["pipeline.jaccard_s"] = s.seconds
    near = pairs.filter(F.col("jaccard") >= threshold)
    out["pipeline.clusters_s"] = run("clusters", P.duplicate_clusters(near))
    n_cand = pairs.count()
    out["pipeline.candidate_pairs"] = n_cand
    out["pipeline.pair_precision"] = near.count() / n_cand if n_cand else 0.0
    return out


WORKLOADS = {w.name: w for w in (NightlyAudit, StreamIngest, CorpusClean)}
