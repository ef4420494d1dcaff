"""Round-3 regression tests: ADVICE fixes (gated schema rules in phase
2, audit __pid vs modifiers, jaccard max_df default, audit read-back
hardening, streaming chunk-boundary sort) and VERDICT items (scalable
cosine_topk, auto-scaled LSH planes, pure-SQL phone and ip, storage-backed
simhash fingerprints, runtime time-target parse errors, Iceberg write
contract)."""

import math
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import validify_spark as vs
from validify_spark.engine import ValidationEngine
from validify_spark.io import AuditedValidationRun
from validify_spark.pipeline import (
    cosine_topk, jaccard_pairs, simhash_pairs,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="validify_r3_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# ADVICE 1: gated schema rules keep their gate in phase 2
# ---------------------------------------------------------------------------


def test_gated_schema_rule_stays_gated_in_phase2(spark):
    """A row of variant 'b' that reaches phase 2 by failing b's range
    rule must NOT collect variant a's schema violation."""
    df = spark.createDataFrame(
        [(1, "a", 500.0),   # fails a's schema rule only
         (2, "b", 500.0),   # fails b's range rule only
         (3, "a", 50.0),    # passes
         (4, "b", 5.0)],    # passes
        "id long, kind string, amount double")
    rules = vs.variant_rules("kind", {
        "a": [vs.schema_rule("amount < 100", code="a_schema")],
        "b": [vs.range_("amount", min=0, max=10)],
    })
    eng = ValidationEngine(vs.RuleSet(rules=rules), key_cols=["id"])
    got = {(r["id"], r["code"]) for r in eng.violations(df).collect()}
    assert got == {(1, "a_schema"), (2, "range")}


# ---------------------------------------------------------------------------
# ADVICE 2: audit __pid computed on the RAW df (pre-modifier)
# ---------------------------------------------------------------------------


def test_audit_pid_unaffected_by_modifiers(spark, tmpdir):
    """A trim modifier on the partition-key column must not shift rows
    out of their planned groups (pre-fix: normalized pids differed from
    planned pids and every row was silently dropped)."""
    df = spark.createDataFrame(
        [(f"c{i}", 0, " a" if i % 2 else "b ") for i in range(20)],
        "conv_id string, turn_idx int, cat string")
    eng = ValidationEngine(
        vs.RuleSet(rules=[vs.length("cat", min=1, max=10)],
                   modifiers=[vs.trim("cat")]),
        key_cols=["conv_id", "turn_idx"])
    run = AuditedValidationRun(
        eng, tmpdir, run_id="pid", partition_expr=F.col("cat"),
        partition_domain=[" a", "b "])  # no-scan custom-expr planning
    assert run.planned_partitions(df) == [" a", "b "]
    done = run.run(df)
    assert {p["partition_id"] for p in done} == {" a", "b "}
    assert sum(p["n_rows"] for p in done) == 20


# ---------------------------------------------------------------------------
# ADVICE 4 / VERDICT 6: corrupted violations dir fails the batch
# ---------------------------------------------------------------------------


def test_corrupt_violations_dir_fails_batch(spark, tmpdir):
    clean = spark.createDataFrame(
        [(f"c{i}", 0, "hello") for i in range(10)],
        "conv_id string, turn_idx int, text string")
    eng = ValidationEngine(
        vs.RuleSet(rules=[vs.length("text", min=1, max=50)]),
        key_cols=["conv_id", "turn_idx"])
    run = AuditedValidationRun(eng, tmpdir, run_id="corrupt",
                               n_buckets=2)
    # plant a garbage data file where the read-back will find it
    import os
    pdir = f"{run.violations_dir}/partition_id=0"
    os.makedirs(pdir, exist_ok=True)
    with open(f"{pdir}/part-00000-bogus.parquet", "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        run.run(clean)
    # no passed=true marker was minted for the broken batch
    assert run.completed_partitions() == set()


# ---------------------------------------------------------------------------
# ADVICE 3: jaccard default is exact; capping keeps ratios consistent
# ---------------------------------------------------------------------------


def test_jaccard_default_keeps_hot_clusters(spark):
    docs = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    # default (exact): the 8-doc clone cluster surfaces in full
    assert jaccard_pairs(df, threshold=0.9).count() == 8 * 7 // 2
    # opt-in cap below the cluster size drops it (documented trade)
    assert jaccard_pairs(df, threshold=0.9, max_df=3).count() == 0


def test_jaccard_capped_sizes_are_consistent(spark):
    """Under max_df, sizes and intersections use the same surviving
    shingle universe — two docs identical outside the hot shingles get
    jaccard 1.0, not a downward-biased ratio."""
    common = "alpha beta gamma delta epsilon zeta"
    rows = []
    for i in range(10):
        tail = ("shared tail words equal here" if i < 2
                else f"unique{i} tokens number {i} only")
        rows.append((i, common + " " + tail))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r["id_a"], r["id_b"]): r
             for r in jaccard_pairs(df, threshold=0.99,
                                    max_df=5).collect()}
    assert (0, 1) in pairs
    p = pairs[(0, 1)]
    assert p["jaccard"] == 1.0
    assert p["intersection"] == p["size_a"] == p["size_b"]


def test_duplicate_clusters_long_chain_converges(spark):
    """Pointer jumping: a 31-node chain (diameter 30) must converge to
    ONE component within the default max_iter (hash-min alone walks one
    hop per round and would split it)."""
    from validify_spark.pipeline import duplicate_clusters
    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_cosine_topk_null_embedding_not_ranked(spark):
    """NULL cosine (NULL embedding) must not occupy a rank — struct
    sort would otherwise put it at rank 1."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (3, None)],
        "vec_id int, embedding array<double>")
    queries = spark.createDataFrame([(0, [1.0, 0.0])],
                                    "query_id int, embedding array<double>")
    rows = cosine_topk(corpus, queries, k=2).collect()
    assert [r["vec_id"] for r in rows] == [0, 1]
    assert all(r["cosine"] is not None for r in rows)


def test_time_date_timestamp_target_column_truncates(spark):
    """A timestamp-typed target_column against a date column gets the
    same whole-day truncation as literal/string targets."""
    df = spark.createDataFrame(
        [(1, "2024-01-05", "2024-01-05 10:00:00")],
        "id long, d_s string, t_s string").selectExpr(
        "id", "CAST(d_s AS DATE) AS d", "CAST(t_s AS TIMESTAMP) AS t")
    rule = vs.time("d", op="before", target_column="t")
    eng = ValidationEngine(vs.RuleSet(rules=[rule]), key_cols=["id"])
    # d == target date ⇒ NOT before (whole-day): one violation, and
    # phase-1/phase-2 agree (the row must actually surface)
    assert [r["id"] for r in eng.violations(df).collect()] == [1]


def test_now_ops_reject_targets():
    """Now-relative ops take no target — rejected at build time so the
    two evaluation phases can never disagree about it."""
    import pytest as _pytest

    from validify_spark.rules import RuleSpecError
    with _pytest.raises(RuleSpecError):
        vs.RuleSet(rules=[vs.time("ts", op="before_from_now", hours=1,
                                  target_column="note")])
    with _pytest.raises(RuleSpecError):
        vs.RuleSet(rules=[vs.time("ts", op="after_now",
                                  target="2024-01-01 00:00:00",
                                  format="%Y-%m-%d %H:%M:%S")])


def test_duplicate_clusters_components(spark):
    """Hash-min label propagation finds each component's min id,
    including multi-hop chains."""
    from validify_spark.pipeline import duplicate_clusters
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5),       # chain 1-2-3-4-5
         (10, 11),                             # pair
         (20, 21), (21, 22), (20, 22)],        # triangle
        "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


# ---------------------------------------------------------------------------
# VERDICT 1: cosine_topk = partial top-k per partition + merge
# ---------------------------------------------------------------------------


def _toy_embeddings(spark, n=200, dim=8, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)]
    return rows, spark.createDataFrame(
        rows, "vec_id int, embedding array<double>")


def test_cosine_topk_matches_bruteforce_and_has_no_window(spark):
    rows, corpus = _toy_embeddings(spark)
    corpus = corpus.repartition(8)
    queries = (corpus.filter("vec_id < 4")
               .selectExpr("vec_id AS query_id", "embedding"))
    out = cosine_topk(corpus, queries, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no single-partition-per-key reduce

    vecs = dict(rows)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b)))

    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
           for r in out.collect()}
    for q in range(4):
        scored = sorted(((cos(vecs[q], v), -i) for i, v in vecs.items()),
                        reverse=True)
        for rank, (c, negi) in enumerate(scored[:10], start=1):
            vid, cval = got[(q, rank)]
            assert vid == -negi
            assert abs(cval - round(c, 6)) < 1e-6


def test_lsh_ann_topk_partial_merge_shape(spark):
    from validify_spark.pipeline import lsh_ann_topk
    _rows, corpus = _toy_embeddings(spark, n=300, dim=16, seed=3)
    queries = (corpus.filter("vec_id < 3")
               .selectExpr("vec_id AS query_id", "embedding"))
    out = lsh_ann_topk(corpus, queries, k=5, dim=16, n_planes=2,
                       n_tables=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = out.collect()
    assert len(rows) > 0
    assert all(1 <= r["rank"] <= 5 for r in rows)


# ---------------------------------------------------------------------------
# VERDICT 3: auto-scaled LSH planes
# ---------------------------------------------------------------------------


def test_resolve_n_planes_two_corpus_sizes():
    from validify_spark.pipeline.similarity import _resolve_n_planes
    assert _resolve_n_planes(None, 8, None) == 8        # explicit wins
    assert _resolve_n_planes(None, None, 1 << 20) == 12
    assert _resolve_n_planes(None, None, 10 ** 9) == 22


def test_ann_recall_with_auto_planes(spark):
    from validify_spark.pipeline import ann_recall_at_k
    _rows, corpus = _toy_embeddings(spark, n=400, dim=16, seed=11)
    queries = (corpus.filter("vec_id < 5")
               .selectExpr("vec_id AS query_id", "embedding"))
    rec = ann_recall_at_k(corpus, queries, k=5, dim=16,
                          n_tables=4).collect()  # n_planes auto
    assert len(rec) == 5
    assert min(r["recall_at_k"] for r in rec) >= 0.9


# ---------------------------------------------------------------------------
# VERDICT 4: phone and ip run as pure SQL
# ---------------------------------------------------------------------------


def test_phone_gate_correct_and_in_plan(spark):
    df = spark.createDataFrame(
        [(1, "+14152370800"), (2, "14152370800"), (3, "0642926829"),
         (4, "A012"), (5, None), (6, "+385991234567")],
        "id long, p string")
    eng = ValidationEngine(vs.RuleSet(rules=[vs.phone("p")]),
                           key_cols=["id"])
    bad = {r["id"] for r in eng.violations(df).collect()}
    assert bad == {2, 3, 4}  # NULL passes; both '+' numbers valid
    # phone and ip (any, v6) need no Python evaluation in either phase
    eng = ValidationEngine(vs.RuleSet(rules=[
        vs.phone("p"), vs.ip("p"), vs.ip("p", format="v6")]),
        key_cols=["id"])
    for out in (eng.with_valid_flag(df), eng.violations(df)):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# VERDICT 5: storage-backed simhash fingerprints
# ---------------------------------------------------------------------------


def test_simhash_checkpoint_dir_equivalent(spark, tmpdir):
    docs = [(i, f"some shared prefix words here tail{i % 3}")
            for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    default = {(r["id_a"], r["id_b"], r["hamming"])
               for r in simhash_pairs(df).collect()}
    stored = {(r["id_a"], r["id_b"], r["hamming"])
              for r in simhash_pairs(
                  df, checkpoint_dir=tmpdir).collect()}
    assert default == stored and len(stored) > 0


# ---------------------------------------------------------------------------
# VERDICT 7: runtime parse errors for string time targets
# ---------------------------------------------------------------------------


def test_time_string_target_runtime_parse(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-06-01 00:00:00"),  # ok
         (2, "2024-12-01 00:00:00", "2024-06-01 00:00:00"),  # late
         (3, "2024-01-01 00:00:00", "not a date"),           # unparseable
         (4, "2024-01-01 00:00:00", None),                   # NULL target
         (5, None, "garbage")],                              # NULL value
        "id long, ts_s string, deadline string") \
        .selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts", "deadline")
    rule = vs.time("ts", op="before", target_column="deadline",
                   format="yyyy-MM-dd HH:mm:ss")
    eng = ValidationEngine(vs.RuleSet(rules=[rule]), key_cols=["id"])
    viol = {r["id"]: r for r in eng.violations(df).collect()}
    assert set(viol) == {2, 3, 4}  # 1 passes; 5 NULL value passes
    # comparison failure carries actual+target
    assert viol[2]["code"] == "before"
    assert set(viol[2]["params"]) == {"actual", "target"}
    # parse failure carries actual+format (tokens.rs:740-747 parity)
    for i in (3, 4):
        assert viol[i]["code"] == "before"
        assert viol[i]["params"]["format"] == "yyyy-MM-dd HH:mm:ss"
        assert "actual" in viol[i]["params"]
        assert "target" not in viol[i]["params"]


def test_time_string_target_in_period(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00", "2024-01-01 00:00:00"),  # inside
         (2, "2024-03-01 00:00:00", "2024-01-01 00:00:00"),  # outside
         (3, "2024-01-05 00:00:00", "xx")],                  # unparseable
        "id long, ts_s string, start_s string") \
        .selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts", "start_s")
    rule = vs.time("ts", op="in_period", target_column="start_s",
                   format="yyyy-MM-dd HH:mm:ss", days=30)
    eng = ValidationEngine(vs.RuleSet(rules=[rule]), key_cols=["id"])
    viol = {r["id"]: r for r in eng.violations(df).collect()}
    assert set(viol) == {2, 3}
    assert set(viol[2]["params"]) == {"actual", "from", "to"}
    assert set(viol[3]["params"]) == {"actual", "format"}


# ---------------------------------------------------------------------------
# date-typed columns: the reference's *_today / *_date whole-day
# variants (time.rs:13-21, 51-61, 78-87), selected from the column type
# ---------------------------------------------------------------------------


def test_time_date_column_whole_day_semantics(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, "2024-01-10"), (2, "2024-01-09"), (3, "2024-01-08"),
         (4, "2024-01-11")],
        "id long, d_s string").selectExpr("id", "CAST(d_s AS DATE) AS d")
    run = dt.datetime(2024, 1, 10, 12, 0, 0)  # midday: the trap case
    rules = [
        vs.time("d", op="before_now"),               # before_today
        vs.time("d", op="before_from_now", hours=36),  # *_from_now_date
        vs.time("d", op="in_period", target=dt.date(2024, 1, 8),
                hours=36),                           # in_period_date
    ]
    eng = ValidationEngine(vs.RuleSet(rules=rules), key_cols=["id"],
                           run_ts=run)
    got = {}
    for r in eng.violations(df).collect():
        got.setdefault(r["code"], set()).add(r["id"])
    # before_today: d == today is NOT before (a timestamp comparison
    # would wrongly pass midnight < 12:00)
    assert got["before_now"] == {1, 4}
    # (today - d) >= 36h needs a 2-day gap: only 2024-01-08 passes
    assert got["before_from_now"] == {1, 2, 4}
    # checked_add_signed drops sub-day parts: period = [01-08, 01-09]
    assert got["in_period"] == {1, 4}


def test_custom_rule_params_and_field_override(spark):
    """ValidationError::with_param + new_field_named
    (derive_tests/tests/custom.rs field-override case)."""
    df = spark.createDataFrame([(1, 5), (2, 50)], "id long, v long")
    r = vs.custom("v", lambda c: c < 10, code="meh",
                  params={"limit": 10, "double": lambda c: c * 2},
                  display_name="overriden")
    eng = ValidationEngine(vs.RuleSet(rules=[r]), key_cols=["id"])
    viol = eng.violations(df).collect()
    assert len(viol) == 1
    v = viol[0]
    assert v["id"] == 2 and v["code"] == "meh"
    assert v["field"] == "overriden" and v["location"] == "/overriden"
    assert v["params"]["limit"] == "10"
    assert v["params"]["double"] == "100"
    assert v["params"]["actual"] == "50"


# ---------------------------------------------------------------------------
# ADVICE 5: streaming ordering sorts the whole group, not per chunk
# ---------------------------------------------------------------------------


def test_stream_ordering_multi_chunk_group(spark, tmpdir):
    """A conversation larger than one Arrow batch must not produce
    false violations from unsorted chunk boundaries."""
    from validify_spark.streaming import stream_ordering_violations

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rng = random.Random(5)
        rows = [("c1", i, f"2024-01-01T00:{i:02d}:00") for i in range(50)]
        rng.shuffle(rows)  # arrival order is arbitrary
        df = (spark.createDataFrame(
                  rows, "conv_id string, turn_idx int, ts_s string")
              .selectExpr("conv_id", "turn_idx",
                          "CAST(ts_s AS TIMESTAMP) AS ts"))
        src = f"{tmpdir}/src"
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = (stream_ordering_violations(stream)
             .writeStream.format("memory").queryName("ord_chunks")
             .option("checkpointLocation", f"{tmpdir}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.sql("SELECT * FROM ord_chunks").collect()
        assert got == []  # in-order conversation ⇒ no violations
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _multi_chunk_case(op):
    """(batches of (key, idx, text, ts) rows, stateful operator, column
    names of its output, expected output rows) for one state kernel,
    each batch a group larger than one 7-row Arrow chunk."""
    from validify_spark.streaming import (stream_conversation_shape,
                                          stream_simhash_pairs,
                                          stream_uniqueness_violations)
    ts = [f"2024-01-01T00:{i:02d}:00" for i in range(30)]
    if op == "shape":
        # alternating roles except 'user' at turn 15 (repeats at 15
        # and 16); the far-future flush batch moves the watermark past
        # c1's session gap
        rows = [("c1", i, "user" if i % 2 == 0 or i == 15 else
                 "assistant", ts[i]) for i in range(30)]
        flush = [("zz", 0, "user", "2024-02-01T00:00:00")]
        return ([rows, flush],
                lambda s: stream_conversation_shape(
                    s.withColumnRenamed("text", "role"), alternate=True),
                ["conv_id", "turn_idx", "code"],
                [("c1", 15, "role_repeat"), ("c1", 16, "role_repeat")])
    if op == "uniqueness":
        rows = [("k", 1, "x", ts[i]) for i in range(20)]
        return ([rows],
                lambda s: stream_uniqueness_violations(
                    s, ["conv_id", "turn_idx"], ts_col="ts"),
                ["conv_id", "turn_idx", "dup_count"],
                [("k", 1, n) for n in range(2, 21)])
    text = "the same near duplicate document text for every id here"
    rows = [("d", i, text, ts[i]) for i in range(1, 21)]
    return ([rows],
            lambda s: stream_simhash_pairs(
                s.withColumnRenamed("turn_idx", "doc_id"), ts_col="ts"),
            ["id_a", "id_b", "hamming"],
            [(a, b, 0) for a in range(1, 21) for b in range(a + 1, 21)])


@pytest.mark.parametrize("op", ["shape", "uniqueness", "simhash"])
def test_stream_kernel_multi_chunk_group(spark, tmpdir, op):
    """Every state kernel sees a group's Arrow chunks joined: a group
    of 20-30 shuffled rows split into 7-row chunks gives the output of
    one whole group (no lost turns, counts or pairs, no false
    violations at chunk boundaries)."""
    import time as _time

    batches, operator, cols, want = _multi_chunk_case(op)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        src = f"{tmpdir}/src"
        schema = None
        for rows in batches:
            rows = list(rows)
            random.Random(5).shuffle(rows)  # arrival order is arbitrary
            df = (spark.createDataFrame(
                      rows, "conv_id string, turn_idx long, text string, "
                            "ts_s string")
                  .selectExpr("conv_id", "turn_idx", "text",
                              "CAST(ts_s AS TIMESTAMP) AS ts"))
            schema = df.schema
            df.coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)  # distinct mtimes => file source batch order
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        name = f"kernel_chunks_{op}"
        q = (operator(stream)
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", f"{tmpdir}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = [tuple(r[c] for c in cols)
               for r in spark.sql(f"SELECT * FROM {name}").collect()]
        assert sorted(got) == sorted(want)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)


# ---------------------------------------------------------------------------
# model plug-in seams for lang_id / quality_score (pandas_udf, like the
# phone validator — the documented path to fastText/perplexity models)
# ---------------------------------------------------------------------------


def test_redact_pii_each_class(spark):
    from validify_spark.pipeline import redact_pii
    df = spark.createDataFrame(
        [(1, "mail bob@site.example.com ok"),
         (2, "host 192.168.0.17 down"),
         (3, "dial +1 (415) 555-0100 now"),
         (4, "card 4111111111111111 used"),
         (5, "clean text with no pii"),
         (6, None)],
        "doc_id int, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["clean_text"] == "mail <EMAIL> ok"
    assert got[2]["clean_text"] == "host <IP> down"
    assert got[3]["clean_text"] == "dial <PHONE> now"
    assert got[4]["clean_text"] == "card <NUMBER> used"
    assert got[5]["clean_text"] == "clean text with no pii"
    assert got[6]["clean_text"] is None and got[6]["n_redactions"] == 0
    assert all(got[i]["n_redactions"] == 1 for i in (1, 2, 3, 4))
    assert got[5]["n_redactions"] == 0


def test_redact_pii_count_edge_cases(spark):
    from validify_spark.pipeline import redact_pii
    df = spark.createDataFrame(
        [(1, "already scrubbed <EMAIL> stays"),   # pre-existing token
         (2, "raised +1 000 000 in funding"),     # 7 digits: not a phone
         (3, "a@b.example and c@d.example")],     # two redactions
        "doc_id int, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    # pre-existing placeholder text is NOT counted as a redaction
    assert got[1]["n_redactions"] == 0
    assert got[1]["clean_text"] == "already scrubbed <EMAIL> stays"
    # digit-counted phone bound: 7 digits is not E.164
    assert got[2]["clean_text"] == "raised +1 000 000 in funding"
    assert got[3]["n_redactions"] == 2
    # shared tokens across custom patterns don't multi-count
    shared = [("a", r"aaa", "<PII>"), ("b", r"bbb", "<PII>")]
    out = redact_pii(
        spark.createDataFrame([(1, "x aaa y")], "doc_id int, text string"),
        patterns=shared).collect()[0]
    assert out["n_redactions"] == 1 and out["clean_text"] == "x <PII> y"


def test_compression_ratio_signal(spark):
    from validify_spark.pipeline import compression_ratio
    rep = "spam " * 200
    prose = ("the committee reviewed seventeen distinct proposals "
             "regarding watershed management before adjourning early "
             "because several members raised unrelated procedural "
             "objections about quorum rules and travel budgets")
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, None)], "doc_id int, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert got[1]["compression_ratio"] < got[2]["compression_ratio"]
    assert got[1]["compression_ratio"] < 0.1   # boilerplate crushes
    assert got[2]["compression_ratio"] > 0.5   # prose doesn't
    assert got[3]["n_bytes"] is None
    assert got[1]["n_bytes"] == len(rep.encode())


def test_clean_corpus_end_to_end(spark):
    """Composition: redact → quality/lang filter → exact dedup →
    near-dup cluster → one representative per cluster."""
    from validify_spark.pipeline import clean_corpus

    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks back home to rest for a while in the warm sun")
    near = good + " extra tail words appended here"
    rows = [
        (1, good + " mail me a@b.example now"),  # survives (redacted)
        (2, good),                                # near-dup of 1 -> drop
        (3, near),                                # near-dup cluster -> drop
        (4, "zz"),                                # junk quality -> drop
        (5, good.upper()),                        # exact dup of 2 (norm)
        (6, "der hund und die katze sind nicht in dem haus heute und "
            "das ist ein gutes zeichen für die familie und die kinder"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = clean_corpus(df, quality_min=0.3, lang_allow=["en"],
                       jaccard_threshold=0.5)
    got = {r["doc_id"]: r for r in out.collect()}
    # 4 fails quality; 6 fails lang; 5 is an exact dup (case-normalized)
    # of 2; 1/2/3 form one near-dup cluster -> only min id 1 survives
    assert set(got) == {1}
    assert "<EMAIL>" in got[1]["text"]
    assert got[1]["n_redactions"] == 1
    assert got[1]["pred_lang"] == "en"

    # with a benchmark overlapping doc 1's text, decontamination drops
    # the whole near-dup cluster's would-be representative BEFORE
    # dedup — nothing survives from that cluster, proving stage order
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy")],
        "doc_id int, text string")
    out2 = clean_corpus(df, quality_min=0.3, lang_allow=["en"],
                        jaccard_threshold=0.5, benchmark=bench,
                        decontam_n=5)
    assert {r["doc_id"] for r in out2.collect()} == set()


def test_text_model_plugin_seams(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from validify_spark.pipeline import lang_id, quality_score

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "der hund und die katze")],
        "doc_id int, text string")

    @pandas_udf("struct<pred_lang:string, lang_hits:bigint>")
    def fake_model(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({
            "pred_lang": ["xx"] * len(s),
            "lang_hits": [int(len(t or "")) for t in s]})

    got = {r["doc_id"]: (r["pred_lang"], r["lang_hits"])
           for r in lang_id(df, classifier=fake_model).collect()}
    assert got[1] == ("xx", 22) and got[2][0] == "xx"

    @pandas_udf("double")
    def fake_quality(s: pd.Series) -> pd.Series:
        return pd.Series([0.5] * len(s))

    q = quality_score(df, model_score=fake_quality).collect()
    assert all(r["quality"] == 0.5 for r in q)
    assert all(r["alpha_ratio"] > 0 for r in q)  # components remain


# ---------------------------------------------------------------------------
# streaming exact dedup (watermark-bounded first-occurrence-wins)
# ---------------------------------------------------------------------------


def test_stream_exact_dedup_across_batches(spark, tmpdir):
    import time as _time

    from validify_spark.streaming import stream_exact_dedup

    ddl = "doc_id int, text string, ts_s string"

    def mk(rows):
        return (spark.createDataFrame(rows, ddl)
                .selectExpr("doc_id", "text",
                            "CAST(ts_s AS TIMESTAMP) AS ts"))

    b1 = [(1, "hello world", "2024-01-01T00:00:00"),
          (2, "  Hello   WORLD ", "2024-01-01T00:01:00"),  # dup of 1
          (3, "unique one", "2024-01-01T00:02:00")]
    b2 = [(4, "hello world", "2024-01-01T00:10:00"),       # dup, batch 2
          (5, "another", "2024-01-01T00:11:00")]
    src = f"{tmpdir}/src"
    mk(b1).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    mk(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(mk(b1).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_exact_dedup(stream, ts_col="ts", watermark="1 hour")
         .writeStream.format("memory").queryName("dedup_stream")
         .option("checkpointLocation", f"{tmpdir}/ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    kept = {r["doc_id"]
            for r in spark.sql("SELECT * FROM dedup_stream").collect()}
    # first occurrence of each normalized text survives; 2 (same batch)
    # and 4 (next batch, inside watermark) are dropped
    assert 1 in kept and 3 in kept and 5 in kept
    assert 2 not in kept and 4 not in kept


# ---------------------------------------------------------------------------
# VERDICT 10: Iceberg write/read contract (no jar in sandbox — the
# branch is exercised against the writeTo/read.table seam)
# ---------------------------------------------------------------------------


def test_iceberg_branch_contract():
    from validify_spark.io.sources import (_is_iceberg_ref, read_table,
                                           write_table)
    assert _is_iceberg_ref("cat.db.audit")
    assert not _is_iceberg_ref("/tmp/x/y")
    assert not _is_iceberg_ref("relative_dir")

    calls = []

    class FakeWriter:
        def append(self):
            calls.append("append")

        def createOrReplace(self):
            calls.append("createOrReplace")

    class FakeDF:
        def writeTo(self, ref):
            calls.append(("writeTo", ref))
            return FakeWriter()

    write_table(FakeDF(), "cat.db.audit", mode="append")
    write_table(FakeDF(), "cat.db.audit", mode="overwrite")
    assert calls == [("writeTo", "cat.db.audit"), "append",
                     ("writeTo", "cat.db.audit"), "createOrReplace"]

    class FakeReader:
        def table(self, ref):
            calls.append(("read.table", ref))
            return "df"

    class FakeSpark:
        read = FakeReader()

    assert read_table(FakeSpark(), "cat.db.turns") == "df"
    assert calls[-1] == ("read.table", "cat.db.turns")
