"""Checkpointed, resumable validation runs with per-partition lineage
and metrics.

The input is validated in commit batches of partition groups (a
partition expression over e.g. bucket(conv_id) or date(ts)). A batch
writes its violations under ``violations/<run_id>/partition_id=<p>/``,
appends one audit row per group, then writes one atomic JSON marker per
group (``os.replace``; maps onto object-store conditional puts). On
restart, groups with a marker are skipped and the rest run again;
dynamic partition overwrite makes the re-run idempotent.

The default partitioning hashes the engine's first key column (conv_id
for transcripts), so every conversation is whole within its group and
conversation-level checks run correctly per group. A custom
``partition_expr`` that splits conversations (e.g. ``date(ts)``) keeps
only row-level rules correct.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile
import time
from concurrent.futures import Future, wait
from typing import Optional, Sequence

from pyspark import InheritableThread
from pyspark.sql import (Column, DataFrame, Observation, SparkSession,
                         functions as F)
from pyspark.sql.window import Window

from ..engine import ValidationEngine
from ..session import literal_frame

AUDIT_SCHEMA = ("run_id string, partition_id string, n_rows long, "
                "n_failed_rows long, n_violations long, passed boolean, "
                "ruleset string, started_at string, finished_at string, "
                "wall_sec double, n_conv_violations long")


def _has_data_files(spark: SparkSession, d: str) -> bool:
    """True if the tree under ``d`` holds a ``part-*`` file. Listed by
    the Hadoop FileSystem API (no Spark job; resolves ``d`` as Spark
    does, unlike a local os.walk on HDFS/S3); under Spark Connect, by
    the binaryFile source, where a missing path raises: no files."""
    if getattr(spark, "_jsc", None) is not None:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(d)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return False
        it = fs.listFiles(path, True)
        while it.hasNext():
            if it.next().getPath().getName().startswith("part-"):
                return True
        return False
    from pyspark.errors import AnalysisException
    try:
        return not (spark.read.format("binaryFile")
                    .option("pathGlobFilter", "part-*")
                    .option("recursiveFileLookup", "true")
                    .load(d)
                    .select("path")
                    .isEmpty())
    except AnalysisException:
        return False


# characters Spark writes as %XX in a partition directory name
_PATH_ESCAPE = (frozenset(map(chr, range(0x20)))
                | frozenset('"#%\'*/:=?\\\x7f{[]^'))


def _group_dir(base: str, pid: str) -> str:
    """Where ``partitionBy("partition_id")`` puts group ``pid``."""
    return f"{base}/partition_id=" + "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in pid)


def _group_counts(pid: Column, pids: list) -> list:
    """Per-group counts of non-null ``pid`` as Observation metrics,
    which are ungrouped aggregates: one conditional count per group,
    named by its index."""
    return [F.count_if(pid == p).alias(str(i)) for i, p in enumerate(pids)]


def _observed(obs: Observation, pids: list) -> dict:
    return dict(zip(pids, obs.get.values()))  # metrics in pids order


def _in_background(spark: SparkSession, fn, *args) -> Future:
    """``fn(*args)`` on a thread that inherits the caller's Spark job
    properties (job group, scheduler pool)."""
    fut = Future()

    def body():
        try:
            fut.set_result(fn(*args))
        except BaseException as e:  # noqa: BLE001 — re-raised by result()
            fut.set_exception(e)

    InheritableThread(target=body, session=spark).start()
    return fut


def _atomic_write_json(path: str, payload: dict) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)  # atomic on POSIX


class AuditedValidationRun:
    """Drive a ValidationEngine over an input in resumable partition
    groups."""

    def __init__(self, engine: ValidationEngine, out_dir: str,
                 run_id: str = "run1",
                 partition_expr: Optional[Column] = None,
                 n_buckets: int = 16,
                 audit_table: Optional[str] = None,
                 partition_domain: Optional[Sequence[str]] = None,
                 conv_agg_rules: Optional[Sequence] = None):
        """``audit_table``: optional Iceberg table identifier
        (``catalog.db.audit``) — lineage + metrics rows append there
        via the sources abstraction instead of the default parquet
        path under ``out_dir``.

        ``partition_domain``: with a custom ``partition_expr``, the
        explicit list of group values to plan (e.g. the date range of
        the run). Without it, planning a custom expression is a
        ``distinct()`` scan of the input, so callers at scale should
        supply it (hash buckets are enumerated without a scan).

        ``conv_agg_rules``: optional whole-conversation aggregate rules
        (``(code, boolean aggregate Column)`` pairs, the
        ``conversation_rules(agg_rules=...)`` contract) over the
        engine's first key column as conv_id. Their violations land
        under ``out_dir/conv_violations/``, their count in the marker
        (``n_conv_violations``), and a group passes only when both
        counts are zero. A custom ``partition_expr`` could split a
        conversation across groups, so that combination raises."""
        if conv_agg_rules and partition_expr is not None:
            raise ValueError(
                "conv_agg_rules requires the default conv-hash partitioning:"
                " a custom partition_expr can split a conversation")
        self.engine = engine
        self.out_dir = out_dir.rstrip("/")
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.partition_expr = partition_expr
        self.audit_table = audit_table
        self.partition_domain = (sorted(str(p) for p in partition_domain)
                                 if partition_domain is not None else None)
        self.conv_agg_rules = list(conv_agg_rules or [])
        os.makedirs(self._marker_dir, exist_ok=True)

    # -- layout -----------------------------------------------------------
    @property
    def _marker_dir(self) -> str:
        return f"{self.out_dir}/markers/{self.run_id}"

    @property
    def violations_dir(self) -> str:
        return f"{self.out_dir}/violations/{self.run_id}"

    @property
    def conv_violations_dir(self) -> str:
        return f"{self.out_dir}/conv_violations/{self.run_id}"

    @property
    def audit_path(self) -> str:
        return f"{self.out_dir}/audit/{self.run_id}"

    def _partition_col(self) -> Column:
        if self.partition_expr is not None:
            return self.partition_expr
        key = self.engine.key_cols[0]
        return (F.abs(F.xxhash64(F.col(key))) % self.n_buckets) \
            .cast("string")

    # -- progress ---------------------------------------------------------
    def completed_partitions(self) -> set:
        if not os.path.isdir(self._marker_dir):
            return set()
        return {f[:-5] for f in os.listdir(self._marker_dir)
                if f.endswith(".json")}

    def planned_partitions(self, df: DataFrame) -> list:
        # hash buckets need no scan: every id in [0, n_buckets) is a
        # group (empty ones commit trivially)
        if self.partition_expr is None:
            return sorted(str(i) for i in range(self.n_buckets))
        if self.partition_domain is not None:
            return list(self.partition_domain)
        # fallback: a full pass over the input (pass partition_domain
        # at scale)
        return sorted(
            r["p"] for r in
            df.select(self._partition_col().alias("p")).distinct()
              .collect())

    def pending_partitions(self, df: DataFrame) -> list:
        done = self.completed_partitions()
        return [p for p in self.planned_partitions(df) if p not in done]

    # -- execution ----------------------------------------------------------
    def run(self, df: DataFrame,
            max_partitions: Optional[int] = None,
            chunk_size: Optional[int] = None) -> list:
        """Validate all pending partition groups; returns the marker
        payloads written this call.

        Work is per commit batch of groups, never per group: whatever
        its size, a batch runs at most 6 Spark jobs: the violations
        write (one job, both engine phases in its result stage), the
        ``n_rows`` group-by and the conversation-violations write (each
        a shuffle: a map-stage job and a result job under AQE), and
        the audit append.
        ``chunk_size`` bounds the groups per batch:
        finer-grained restart for more scans. Each group adds one
        conditional count per observed write, so batches of thousands
        of groups should be bounded. Default: one batch.
        ``max_partitions`` limits total work (used by the resume test
        to simulate a crash).
        """
        pending = self.pending_partitions(df)
        if max_partitions is not None:
            pending = pending[:max_partitions]
        if not pending:
            return []
        step = chunk_size or len(pending)
        written = []
        for i in range(0, len(pending), step):
            written += self._run_batch(df, pending[i:i + step])
        return written

    def _run_batch(self, df: DataFrame, pids: list) -> list:
        """Commit one batch: the violations and conversation-violations
        writes (run concurrently), the audit rows, then the markers. A
        crash before the last marker runs the batch again.

        Each marker count comes from the write that commits it, by an
        Observation in that write's result stage, whose task updates
        Spark applies once: ``n_failed_rows`` over the phase-2 rows
        (one per phase-1 capture; both engine phases run in the
        violations write's one stage, and with ``engine.dedup`` in the
        map stage before the dedup exchange), ``n_violations`` and
        ``n_conv_violations`` over the committed rows. ``n_rows`` is an
        exact group-by that reads only ``__pid``'s inputs, not an
        Observation on the phase-1 scan: with ``engine.dedup`` that is
        a map stage, which Spark may re-run and count twice, and AQE
        drops an Observation above an exchange it has proven empty.

        A group counted 0 wrote nothing, so dynamic overwrite left its
        directory as it was; a data file there would contradict a
        ``passed=true`` marker that resume never revisits, so a
        job-free listing fails the batch instead.

        The audit rows are one JSON literal parsed in the JVM
        (``session.literal_frame``) and append as one file; no step of
        the batch starts a Python worker. ``createDataFrame`` of the
        rows as a Python list ran one Python task per core and wrote
        as many files.
        """
        spark = df.sparkSession
        started = dt.datetime.now(dt.timezone.utc)
        t0 = time.perf_counter()
        # __pid is computed on the RAW input, before modifiers run:
        # planned_partitions/pending_partitions plan on the raw df, and
        # a modifier touching a column referenced by partition_expr
        # (e.g. trim on a category key) would otherwise shift rows into
        # groups no planned marker ever commits
        raw = (df.withColumn("__pid", self._partition_col())
                 .filter(F.col("__pid").isin(pids)))
        src = self.engine.normalize(raw)

        conv = None
        if self.conv_agg_rules:
            from ..checks.convrules import conversation_rules
            cv = (conversation_rules(src.drop("__pid"),
                                     agg_rules=self.conv_agg_rules,
                                     conv_col=self.engine.key_cols[0])
                  # partition id is a pure function of conv_id, so it
                  # is recomputable from the group output itself
                  .withColumn("partition_id", self._partition_col()))
            # shares no stage with the violations write, so the two
            # run side by side and fill the cores the other leaves idle
            conv = _in_background(spark, self._commit, cv, pids,
                                  self.conv_violations_dir)
        try:
            failed_obs = Observation()
            viols = self.engine._violations(
                src, pre_normalized=True, extra_cols=["__pid"],
                observe_rows=lambda rows, failed: rows.observe(
                    failed_obs, *_group_counts(
                        F.when(failed, F.col("__pid")), pids)))
            n_viol = self._commit(
                viols.withColumnRenamed("__pid", "partition_id"), pids,
                self.violations_dir)
            n_failed = _observed(failed_obs, pids)
            n_rows = dict(raw.groupBy("__pid").count().collect())
        finally:
            if conv is not None:
                wait([conv])  # no write outlives a failed batch
        n_conv = conv.result() if conv else dict.fromkeys(pids, 0)

        sinks = [(self.violations_dir, n_viol)]
        if conv is not None:
            sinks.append((self.conv_violations_dir, n_conv))
        for d, counts in sinks:
            stale = [p for p in pids if not counts[p]
                     and _has_data_files(spark, _group_dir(d, p))]
            if stale:
                raise RuntimeError(
                    f"groups {stale} committed no rows in this batch "
                    f"but {d} holds data files for them")

        finished = dt.datetime.now(dt.timezone.utc)
        wall = round(time.perf_counter() - t0, 3)
        payloads = [{
            "run_id": self.run_id, "partition_id": p,
            "n_rows": n_rows.get(p, 0), "n_failed_rows": n_failed[p],
            "n_violations": n_viol[p],
            "passed": n_viol[p] == 0 and n_conv[p] == 0,
            "ruleset": self.engine.ruleset.name,
            "started_at": started.isoformat(),
            "finished_at": finished.isoformat(),
            # wall time of the commit batch containing this group
            "wall_sec": wall,
            "n_conv_violations": n_conv[p],
        } for p in pids]
        from .sources import write_table
        write_table(literal_frame(spark, payloads, AUDIT_SCHEMA),
                    self.audit_table or self.audit_path, mode="append")
        for p in payloads:
            _atomic_write_json(
                f"{self._marker_dir}/{p['partition_id']}.json", p)
        return payloads

    @staticmethod
    def _commit(df: DataFrame, pids: list, path: str) -> dict:
        """Write ``df`` partitioned by ``partition_id``; dynamic
        overwrite replaces only the groups it writes (an idempotent
        re-run). Returns the rows it committed per group."""
        obs = Observation()
        (df.observe(obs, *_group_counts(F.col("partition_id"), pids))
           .write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy("partition_id")
           .parquet(path))
        return _observed(obs, pids)

    def violations(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.violations_dir)


def read_audit_log(spark: SparkSession, out_dir: str,
                   run_id: str = "run1") -> DataFrame:
    """One row per (run_id, partition_id), the latest: a crash between
    the audit append and the markers appends a batch's rows twice."""
    w = Window.partitionBy("run_id", "partition_id") \
        .orderBy(F.col("finished_at").desc())
    return (spark.read.parquet(f"{out_dir.rstrip('/')}/audit/{run_id}")
            .withColumn("__n", F.row_number().over(w))
            .filter("__n = 1").drop("__n"))
