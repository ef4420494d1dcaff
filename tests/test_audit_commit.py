"""The audited commit batch: marker counts come from the committing
writes, a crash at any step of a commit resumes to the same files,
markers and audit log, and a batch runs a bounded number of Spark
jobs."""

import datetime as dt
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import validify_spark as vs
from validify_spark.data import (generate_turns,
                                 standard_conversation_rules,
                                 standard_turns_ruleset)
from validify_spark.engine import (_CHUNK_WEIGHT, ValidationEngine,
                                   _chunk_by_weight)
from validify_spark.io import AuditedValidationRun, read_audit_log
from validify_spark.io import audit as audit_mod
from validify_spark.io import sources

KEYS = ["conv_id", "turn_idx"]
# per-batch fields: they differ between any two runs
VOLATILE = ("started_at", "finished_at", "wall_sec")


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="validify_commit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def turns(spark):
    df = generate_turns(spark, 1500, seed=7).persist()
    yield df
    df.unpersist()


def _run(out, run_id="c", **kw):
    eng = ValidationEngine(standard_turns_ruleset(), key_cols=KEYS)
    return AuditedValidationRun(
        eng, out, run_id=run_id, n_buckets=4,
        conv_agg_rules=standard_conversation_rules(), **kw)


def _stable(payload):
    return {k: v for k, v in payload.items() if k not in VOLATILE}


def _markers(run):
    out = {}
    for f in sorted(os.listdir(run._marker_dir)):
        with open(os.path.join(run._marker_dir, f)) as fh:
            out[f] = _stable(json.load(fh))
    return out


def _audit(spark, out, run_id):
    return sorted((_stable(r.asDict())
                   for r in read_audit_log(spark, out, run_id).collect()),
                  key=lambda r: r["partition_id"])


def _same_rows(a, b):
    def comparable(df):  # set operations reject map columns
        return df.select(*[
            F.to_json(F.array_sort(F.map_entries(f.name))).alias(f.name)
            if f.dataType.typeName() == "map" else F.col(f.name)
            for f in df.schema.fields])
    a, b = comparable(a), comparable(b)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


class _Crash(Exception):
    pass


def _crash_after(monkeypatch, owner, name, when=lambda *a, **k: True):
    """Let ``owner.name`` do its work, then raise once ``when`` holds."""
    real = getattr(owner, name)

    def step(*args, **kwargs):
        out = real(*args, **kwargs)
        if when(*args, **kwargs):
            raise _Crash(name)
        return out

    monkeypatch.setattr(owner, name, step)


@pytest.fixture(scope="module")
def reference(turns):
    """The uncrashed run every crash case must resume to."""
    d = tempfile.mkdtemp(prefix="validify_commit_ref_")
    run = _run(d)
    run.run(turns)
    yield run
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("step", ["violations_write", "conv_write",
                                  "audit_append", "first_marker"])
def test_crash_at_each_commit_step_resumes_identically(
        spark, turns, reference, tmpdir, monkeypatch, step):
    ref, out = reference, tmpdir
    crashed = _run(out)
    if step == "violations_write":
        _crash_after(monkeypatch, DataFrameWriter, "parquet",
                     lambda w, path, *a, **k:
                     path == crashed.violations_dir)
    elif step == "conv_write":
        _crash_after(monkeypatch, DataFrameWriter, "parquet",
                     lambda w, path, *a, **k:
                     path == crashed.conv_violations_dir)
    elif step == "audit_append":
        _crash_after(monkeypatch, sources, "write_table")
    else:
        _crash_after(monkeypatch, audit_mod, "_atomic_write_json")
    with pytest.raises(_Crash):
        crashed.run(turns)
    monkeypatch.undo()
    assert len(crashed.completed_partitions()) == (
        1 if step == "first_marker" else 0)

    resumed = _run(out)
    resumed.run(turns)

    assert _same_rows(spark.read.parquet(resumed.violations_dir),
                      spark.read.parquet(ref.violations_dir))
    assert _same_rows(spark.read.parquet(resumed.conv_violations_dir),
                      spark.read.parquet(ref.conv_violations_dir))
    assert _markers(resumed) == _markers(ref)
    assert (_audit(spark, out, "c")
            == _audit(spark, ref.out_dir, "c")
            == sorted(_markers(ref).values(),
                      key=lambda r: r["partition_id"]))


def test_read_audit_log_keeps_latest_row_per_group(spark, tmpdir):
    rows = [("r", "0", 5, 1, 2, False, "t", "s", f, 1.0, 0)
            for f in ("2026-01-01T00:00:00", "2026-01-02T00:00:00")]
    rows[1] = rows[1][:2] + (7,) + rows[1][3:]
    spark.createDataFrame(rows, audit_mod.AUDIT_SCHEMA) \
        .write.parquet(f"{tmpdir}/audit/r")
    got = read_audit_log(spark, tmpdir, "r").collect()
    assert [(r["n_rows"], r["finished_at"]) for r in got] == [
        (7, "2026-01-02T00:00:00")]


# ---------------------------------------------------------------------------
# marker counts against engine.partition_report and the committed files
# ---------------------------------------------------------------------------


def _assert_marker_counts(spark, run, df, payloads, partition_col):
    report = {r["partition_id"]: (r["n_rows"], r["n_failed_rows"])
              for r in run.engine.partition_report(df, partition_col)
              .collect()}
    has_files = any(f.startswith("part-")
                    for _, _, fs in os.walk(run.violations_dir) for f in fs)
    committed = {str(r["partition_id"]): r["count"]
                 for r in spark.read.parquet(run.violations_dir)
                 .groupBy("partition_id").count().collect()
                 } if has_files else {}
    assert payloads and {p["partition_id"] for p in payloads} \
        >= set(report)
    for p in payloads:
        n_rows, n_failed = report.get(p["partition_id"], (0, 0))
        assert (p["n_rows"], p["n_failed_rows"]) == (n_rows, n_failed), p
        assert p["n_violations"] == committed.get(p["partition_id"], 0), p
        assert p["passed"] == (p["n_violations"] == 0)


def _bucket(n):
    return (F.abs(F.xxhash64(F.col("conv_id"))) % n).cast("string")


def test_marker_counts_all_rows_pass(spark, tmpdir):
    clean = spark.createDataFrame(
        [(f"c{i}", i, "hello") for i in range(40)],
        "conv_id string, turn_idx int, text string")
    eng = ValidationEngine(
        vs.RuleSet(rules=[vs.length("text", min=1, max=50)]),
        key_cols=KEYS)
    run = AuditedValidationRun(eng, tmpdir, run_id="pass", n_buckets=4)
    done = run.run(clean)
    assert all(p["passed"] and p["n_failed_rows"] == 0 for p in done)
    _assert_marker_counts(spark, run, clean, done, _bucket(4))


def test_marker_counts_multi_chunk_ruleset(spark, turns, tmpdir):
    """Rows that fail only a rule of the second chunk still count as
    failed: no single union branch sees all of a row's violations."""
    base = standard_turns_ruleset()
    since = [vs.time("ts", op="after", target=dt.datetime(2000, 1, 1))
             for _ in range(3)]
    rs = vs.RuleSet(
        rules=([vs.required("conv_id", stage="presence")] + base.rules
               + since + [vs.range_("turn_idx", min=0, max=20)]),
        modifiers=base.modifiers, name="heavy")
    chunks = _chunk_by_weight(rs.main_rules, _CHUNK_WEIGHT)
    assert len(chunks) > 1 and chunks[-1][-1].kind == "range"
    eng = ValidationEngine(rs, key_cols=KEYS)
    run = AuditedValidationRun(eng, tmpdir, run_id="heavy", n_buckets=4)
    done = run.run(turns, chunk_size=2)
    assert any(p["n_failed_rows"] for p in done)
    _assert_marker_counts(spark, run, turns, done, _bucket(4))


def test_marker_counts_custom_partition_expr(spark, turns, tmpdir):
    parity = F.when(F.col("turn_idx") % 2 == 0, "even=0") \
        .otherwise("odd/1")
    run = AuditedValidationRun(
        ValidationEngine(standard_turns_ruleset(), key_cols=KEYS),
        tmpdir, run_id="custom", partition_expr=parity,
        partition_domain=["even=0", "odd/1", "none:2"])
    done = run.run(turns)
    assert {p["partition_id"] for p in done} == {"even=0", "odd/1",
                                                 "none:2"}
    _assert_marker_counts(spark, run, turns, done, parity)


def test_stale_file_in_escaped_empty_group_fails_batch(spark, turns,
                                                       tmpdir):
    """A group counted 0 keeps whatever its directory held; a data file
    there fails the batch, also when the group id needs path
    escaping."""
    run = AuditedValidationRun(
        ValidationEngine(standard_turns_ruleset(), key_cols=KEYS),
        tmpdir, run_id="stale", partition_expr=F.lit("none:2"),
        partition_domain=["none:2"])
    stale = f"{run.violations_dir}/partition_id=none%3A2"
    os.makedirs(stale)
    with open(f"{stale}/part-00000-old.parquet", "wb") as f:
        f.write(b"left over")
    with pytest.raises(RuntimeError, match="none:2"):
        run.run(turns.filter(F.lit(False)))
    assert run.completed_partitions() == set()


# ---------------------------------------------------------------------------
# Spark jobs per commit batch
# ---------------------------------------------------------------------------


def test_commit_batch_runs_at_most_seven_spark_jobs(spark, turns,
                                                    tmpdir):
    """One batch = the violations write (phase-1 map stage + result
    stage), the n_rows group-by (2), the conversation write (2) and the
    audit append (1). The count does not depend on the host's speed."""
    run = _run(tmpdir, run_id="jobs")
    sc = spark.sparkContext
    group = "audit-commit-job-count"
    sc.setJobGroup(group, "one audited commit batch")
    try:
        assert len(run.run(turns)) == 4
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7
