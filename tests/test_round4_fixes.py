"""Round-4 regression tests: Janino codegen-overflow fix (the r3
headline defect), presence gating of phase 2, storage-backed
duplicate_clusters, and the merged driver-window queries."""

import glob
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
import validify_spark as vs  # noqa: E402


def _codegen_units(df):
    """(line_count, body) per whole-stage-codegen unit of df's plan.
    AQE hides units until execution, so callers disable it."""
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    out = []
    for i in range(seq.size()):
        body = seq.apply(i)._2()
        if not isinstance(body, str):
            body = body.body()
        out.append((body.count("\n"), body))
    return out


def test_flagship_codegen_units_stay_compilable(spark):
    """r3's scale killer: the 8-rule flagship generated a 17k-line
    processNext() (modifier trim-chains substituted into every rule
    predicate + the size(_v)>0 filter pushed into phase 1) that
    overflowed Janino's 64 KB method limit — 3 failed multi-second
    compiles per fresh JVM, then interpreted eval. Guard the fix with
    a hard size bound: the observed compile limit was ~14k lines, the
    fixed plan generates ~2k; 8000 leaves headroom without letting the
    regression back in."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        E._load(spark, "/root/testdata/sf0.001", "lineitem")
        turns = spark.sql(E.DERIVE_TURNS_SQL).localCheckpoint(eager=True)
        eng = vs.ValidationEngine(E._turns_ruleset(),
                                  key_cols=["conv_id", "turn_idx"],
                                  run_ts=E._RUN_TS)
        units = _codegen_units(eng.violations(turns))
        assert units, "expected whole-stage-codegen units"
        sizes = [n for n, _ in units]
        assert max(sizes) < 8000, (
            f"codegen unit sizes {sizes}: a unit this large risks the "
            "Janino 64 KB overflow -> interpreted eval at scale")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_trim_modifier_is_single_expression(spark):
    """The trim modifier must stay ONE btrim expression: an
    expression-chain implementation multiplies into the generated code
    of whatever operator evaluates it. It once bloated phase 1 to 20k
    generated lines, when Catalyst still substituted the modifier into
    every phase-1 predicate on its column; phase 1 now evaluates each
    modifier once (test_lowering.test_phase1_evaluates_each_modifier_once)."""
    from validify_spark.modifiers import _WS_CHARS, _trim_unicode
    expr = str(_trim_unicode(F.col("c"))._jc)
    assert "btrim" in expr
    assert "startswith" not in expr.lower()
    # semantics spot-check stays exact (Unicode set, ZWSP untouched)
    df = spark.createDataFrame(
        [("　 a\xa0",), ("​z​",), (None,)], "s string")
    got = [r.t for r in df.select(
        _trim_unicode(F.col("s")).alias("t")).collect()]
    assert got == ["a", "​z​", None]
    assert "　" in _WS_CHARS


def _canon(row):
    return tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v
                 for v in row)


def test_emits_presence_violations_once(spark):
    """Presence rules gate every main rule but their own violation
    rows appear exactly once."""
    df = spark.createDataFrame(
        [(1, None, "x"), (2, "ok", None), (3, "ok", "y")],
        "id int, a string, b string")
    rs = vs.RuleSet(rules=[
        vs.required("a"), vs.length("b", min=2, max=10),
        vs.regex("b", "y"), vs.contains("b", "y"),
    ])
    eng = vs.ValidationEngine(rs, key_cols=["id"])
    rows = eng.violations(df).collect()
    required_rows = [r for r in rows if r.code == "required"]
    assert len(required_rows) == 1 and required_rows[0].id == 1


def test_with_presence_schema_and_missing_columns(spark):
    """The full gating matrix: presence rules gate the main and schema
    rules, and a rule naming an absent column emits per-row
    `required`."""
    df = spark.createDataFrame(
        [(1, "p", "abc", 5), (2, None, "abc", 5), (3, "p", "x", 50)],
        "id int, pay string, s string, n int")
    rules = [
        vs.required("pay", stage="presence"),
        vs.length("s", min=2, max=10),
        vs.range_("n", min=0, max=10),
        vs.regex("s", "a"),
        vs.contains("s", "b"),
        vs.schema_rule("NOT (n > 40 AND s = 'x')", code="combo"),
        vs.length("ghost", min=1),  # absent column -> required
    ]
    eng = vs.ValidationEngine(vs.RuleSet(rules=rules), key_cols=["id"])
    got = {_canon(r) for r in eng.violations(df).collect()}
    # presence-failing row 2 must carry ONLY its presence violation
    # (presence failure suppresses later-stage rules for the row)
    row2 = [c for c in got if c[0] == 2]
    assert len(row2) == 1
    # id 3: schema rule fired exactly once
    assert sum(1 for c in got
               if c[0] == 3 and "combo" in c) == 1


def test_duplicate_clusters_checkpoint_dir(spark, tmp_path):
    """Storage-backed label rounds: same clusters as the default
    localCheckpoint path, and per-round parquet actually written (the
    lineage-recovery evidence — a lost executor replays at most one
    round from storage)."""
    from validify_spark.pipeline import duplicate_clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)]      # one 13-node chain
        + [(100, 101), (102, 101)],          # plus a small component
        "id_a long, id_b long")
    ckpt = str(tmp_path / "cc")
    stored = {(r.doc_id, r.cluster_id) for r in
              duplicate_clusters(pairs, checkpoint_dir=ckpt).collect()}
    default = {(r.doc_id, r.cluster_id) for r in
               duplicate_clusters(pairs).collect()}
    assert stored == default
    assert {c for _, c in stored} == {0, 100}
    round_dirs = glob.glob(os.path.join(ckpt, "clusters_*_r*"))
    assert round_dirs, "expected per-round parquet label checkpoints"
    # round files are namespaced per invocation (r4 ADVICE): a second
    # run sharing the dir must not overwrite the first run's files
    # (the first run's returned DF lazily re-reads its final round)
    again = duplicate_clusters(pairs, checkpoint_dir=ckpt)
    tokens = {os.path.basename(p).split("_")[1]
              for p in glob.glob(os.path.join(ckpt, "clusters_*_r*"))}
    assert len(tokens) == 2, f"expected two run tokens, got {tokens}"
    assert {(r.doc_id, r.cluster_id) for r in again.collect()} == stored


def test_nested_time_rule_parses_string_target(spark):
    """A time rule nested in iter/map_values with a string-typed
    (top-level) target_column must use the same runtime parse-with-
    format path as at top level — not compare against the raw string
    (r3 ADVICE: schema wasn't threaded into the nested ok_and_params,
    so '09/30/2001' as a raw string would spuriously compare
    lexicographically)."""
    df = spark.createDataFrame(
        [(1, ["2001-01-01 00:00:00"], "09/30/2001"),
         (2, ["2001-12-31 00:00:00"], "09/30/2001"),
         (3, ["2001-01-01 00:00:00"], "garbage")],
        "id int, ts_arr array<string>, deadline string")
    df = df.withColumn(
        "ts_arr", F.transform("ts_arr", lambda x: x.cast("timestamp")))
    inner = vs.time("", op="before", target_column="deadline",
                    format="MM/dd/yyyy")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.iter_("ts_arr", inner)]), key_cols=["id"])
    failed = {r.id for r in eng.violations(df).collect()}
    # row 1: Jan 1 < Sep 30 parsed -> pass. Raw-string comparison
    # would FAIL it ('2001-01-01…' > '09/30/2001' lexicographically).
    # row 2: Dec 31 > deadline -> violation.
    # row 3: unparseable target is never proven ok -> violation.
    assert failed == {2, 3}


def test_merged_queries_cover_both_parts(spark):
    sf = "/root/testdata/sf0.001"
    ip = E.q_ip(spark, sf)
    srcs = {r.src for r in ip.select("src").distinct().collect()}
    assert srcs == {"synth_v4", "truth_table"}
    drift = E.q_drift(spark, sf)
    fams = {r.family for r in drift.select("family").collect()}
    assert fams == {"categorical", "text_length", "ks_numeric",
                    "wasserstein", "cramer_von_mises"}
    mm = E.q_multimodal_decode(spark, sf)
    assert {"width", "height", "checksum", "resized_checksum"} <= set(
        mm.columns)
