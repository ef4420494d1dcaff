"""Conversation-shape, transcript-diff, and exact-KS checks, each
cross-checked against a DuckDB SQL oracle on the same rows."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from validify_spark.checks import (
    conversation_shape_violations, ks_statistic, transcript_diff,
    wasserstein_distance,
)


TURNS = [
    # conv a: clean 0-based user/assistant alternation ending assistant
    ("a", 0, "user", "hi", 100),
    ("a", 1, "assistant", "hello", 101),
    # conv b: starts at 1 (lost head), opener is assistant, ends user
    ("b", 1, "assistant", "hm", 100),
    ("b", 2, "user", "?", 101),
    # conv c: role repeat at idx 2 (two user turns in a row)
    ("c", 0, "user", "x", 100),
    ("c", 1, "assistant", "y", 101),
    ("c", 2, "user", "z", 102),
    ("c", 3, "user", "zz", 103),
    ("c", 4, "assistant", "end", 104),
    # conv d: too many turns (max_turns=4), otherwise clean
    ("d", 0, "user", "1", 100),
    ("d", 1, "assistant", "2", 101),
    ("d", 2, "user", "3", 102),
    ("d", 3, "assistant", "4", 103),
    ("d", 4, "user", "5", 104),
    ("d", 5, "assistant", "6", 105),
    # conv e: single turn, user opener+closer mismatch on last_role
    ("e", 0, "user", "solo", 100),
]
SCHEMA = "conv_id string, turn_idx int, role string, text string, ts long"


def _turns(spark):
    return spark.createDataFrame(TURNS, SCHEMA)


def test_conversation_shape_codes(spark):
    out = conversation_shape_violations(
        _turns(spark), ts_col="ts", zero_based=True,
        first_role="user", last_role="assistant",
        alternate=True, max_turns=4)
    got = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in out.collect()}
    assert got == {
        ("b", 1, "first_idx_not_zero"),
        ("b", 1, "first_role"),
        ("b", 2, "last_role"),
        ("c", 3, "role_repeat"),
        ("c", None, "too_many_turns"),  # c has 5 turns > 4
        ("d", None, "too_many_turns"),
        ("e", 0, "last_role"),
    }


def test_conversation_shape_duckdb_oracle(spark):
    out = conversation_shape_violations(
        _turns(spark), ts_col="ts", zero_based=True,
        first_role="user", last_role="assistant",
        alternate=True, max_turns=4)
    got = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in out.collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        TURNS, columns=["conv_id", "turn_idx", "role", "text", "ts"]))
    exp = con.execute("""
      WITH s AS (
        SELECT conv_id, turn_idx, role,
               row_number() OVER w AS rn,
               count(*)    OVER (PARTITION BY conv_id) AS n,
               lag(role)   OVER w AS prev_role,
               first_value(role) OVER w AS f_role,
               first_value(turn_idx) OVER w AS f_idx,
               last_value(role) OVER (PARTITION BY conv_id
                 ORDER BY turn_idx, ts
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS l_role,
               last_value(turn_idx) OVER (PARTITION BY conv_id
                 ORDER BY turn_idx, ts
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS l_idx
        FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
      )
      SELECT conv_id, f_idx AS turn_idx, 'first_idx_not_zero' AS code
        FROM s WHERE rn = 1 AND f_idx != 0
      UNION ALL
      SELECT conv_id, f_idx, 'first_role' FROM s
        WHERE rn = 1 AND f_role IS DISTINCT FROM 'user'
      UNION ALL
      SELECT conv_id, l_idx, 'last_role' FROM s
        WHERE rn = 1 AND l_role IS DISTINCT FROM 'assistant'
      UNION ALL
      SELECT conv_id, turn_idx, 'role_repeat' FROM s
        WHERE prev_role IS NOT DISTINCT FROM role
          AND prev_role IS NOT NULL
      UNION ALL
      SELECT conv_id, NULL, 'too_many_turns' FROM s
        WHERE rn = 1 AND n > 4
    """).fetchall()
    assert got == set(exp)


def test_transcript_diff(spark):
    left = _turns(spark)
    right = (left
             .filter("NOT (conv_id = 'c' AND turn_idx = 3)")  # dropped
             .withColumn("text", F.when(
                 (F.col("conv_id") == "a") & (F.col("turn_idx") == 1),
                 F.lit("MUTATED")).otherwise(F.col("text"))))
    extra = spark.createDataFrame(
        [("z", 0, "user", "ghost", 100)], SCHEMA)
    right = right.unionByName(extra)
    got = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in transcript_diff(left, right).collect()}
    assert got == {
        ("c", 3, "missing_in_right"),
        ("z", 0, "missing_in_left"),
        ("a", 1, "text_mismatch"),
    }
    # digest=False compares raw text — identical verdicts
    raw = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in transcript_diff(left, right, digest=False).collect()}
    assert raw == got


def test_transcript_diff_null_text(spark):
    l = spark.createDataFrame(
        [("a", 0, None), ("a", 1, None), ("a", 2, "t")],
        "conv_id string, turn_idx int, text string")
    r = spark.createDataFrame(
        [("a", 0, None), ("a", 1, "t"), ("a", 2, None)],
        "conv_id string, turn_idx int, text string")
    got = {(x["turn_idx"], x["code"])
           for x in transcript_diff(l, r).collect()}
    # both-NULL (idx 0) equal; NULL vs value mismatches both ways
    assert got == {(1, "text_mismatch"), (2, "text_mismatch")}


def test_ks_statistic_vs_duckdb(spark):
    import numpy as np
    rng = np.random.default_rng(7)
    a = rng.normal(0.0, 1.0, 4000).round(3)
    b = rng.normal(0.25, 1.1, 3000).round(3)  # shifted: real drift
    la = spark.createDataFrame(pd.DataFrame({"v": a}))
    lb = spark.createDataFrame(pd.DataFrame({"x": b}))
    row = ks_statistic(la, "v", lb, "x", num_partitions=8).collect()[0]
    con = duckdb.connect()
    con.register("ta", pd.DataFrame({"v": a}))
    con.register("tb", pd.DataFrame({"v": b}))
    exp = con.execute("""
      WITH u AS (SELECT v, 0 AS s FROM ta UNION ALL
                 SELECT v, 1 FROM tb),
      c AS (SELECT v,
              count(*) FILTER (s = 0) AS n0,
              count(*) FILTER (s = 1) AS n1
            FROM u GROUP BY v),
      cdf AS (SELECT v,
                sum(n0) OVER (ORDER BY v) AS c0,
                sum(n1) OVER (ORDER BY v) AS c1
              FROM c)
      SELECT round(max(abs(c0 / 4000.0 - c1 / 3000.0)), 6) FROM cdf
    """).fetchone()[0]
    assert row["n_left"] == 4000 and row["n_right"] == 3000
    assert row["d"] == pytest.approx(exp, abs=1e-9)
    # scipy-free sanity: the shift must register but stay < 1
    assert 0.05 < row["d"] < 0.5


def test_ks_statistic_identical_is_zero(spark):
    df = spark.range(500).selectExpr("CAST(id AS DOUBLE) AS v")
    row = ks_statistic(df, "v", df, "v", num_partitions=4).collect()[0]
    assert row["d"] == 0.0


def test_ks_ties_across_batches(spark):
    # heavy ties: value 5.0 repeated 2000x on one side only — the
    # CDF must be read AFTER the whole tie group, not mid-group; the
    # window's RANGE frame spans the group, so all its rows read the
    # same CDF
    import numpy as np
    a = np.concatenate([np.full(2000, 5.0), np.arange(100)])
    b = np.arange(100).astype(float)
    la = spark.createDataFrame(pd.DataFrame({"v": a}))
    lb = spark.createDataFrame(pd.DataFrame({"v": b}))
    row = ks_statistic(la, "v", lb, "v", num_partitions=3).collect()[0]
    con = duckdb.connect()
    con.register("ta", pd.DataFrame({"v": a}))
    con.register("tb", pd.DataFrame({"v": b}))
    exp = con.execute("""
      WITH u AS (SELECT v, 0 AS s FROM ta UNION ALL
                 SELECT v, 1 FROM tb),
      c AS (SELECT v, count(*) FILTER (s = 0) AS n0,
                   count(*) FILTER (s = 1) AS n1 FROM u GROUP BY v),
      cdf AS (SELECT sum(n0) OVER (ORDER BY v) AS c0,
                     sum(n1) OVER (ORDER BY v) AS c1 FROM c)
      SELECT round(max(abs(c0 / 2100.0 - c1 / 100.0)), 6) FROM cdf
    """).fetchone()[0]
    assert row["d"] == pytest.approx(exp, abs=1e-9)


def test_ks_empty_side_raises(spark):
    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS v")
    empty = df.filter("v < 0")
    with pytest.raises(ValueError, match="no non-null"):
        ks_statistic(df, "v", empty, "v")


_W1_ORACLE = """
  WITH u AS (SELECT v, 0 AS s FROM ta UNION ALL
             SELECT v, 1 FROM tb),
  c AS (SELECT v, count(*) FILTER (s = 0) AS n0,
               count(*) FILTER (s = 1) AS n1 FROM u GROUP BY v),
  cdf AS (SELECT v,
            sum(n0) OVER (ORDER BY v) / {t0} AS f0,
            sum(n1) OVER (ORDER BY v) / {t1} AS f1,
            lead(v) OVER (ORDER BY v) AS nv
          FROM c)
  SELECT round(sum(abs(f0 - f1) * (nv - v)), 6)
  FROM cdf WHERE nv IS NOT NULL
"""


def _w1_oracle(a, b):
    con = duckdb.connect()
    con.register("ta", pd.DataFrame({"v": a}))
    con.register("tb", pd.DataFrame({"v": b}))
    return con.execute(
        _W1_ORACLE.format(t0=f"{len(a)}.0", t1=f"{len(b)}.0")
    ).fetchone()[0]


def test_wasserstein_point_masses(spark):
    # all mass at 0 vs all mass at 1: move everything distance 1
    a = spark.range(100).selectExpr("CAST(0 AS DOUBLE) AS v")
    b = spark.range(50).selectExpr("CAST(1 AS DOUBLE) AS v")
    row = wasserstein_distance(a, "v", b, "v",
                               num_partitions=4).collect()[0]
    assert row["w1"] == 1.0
    assert (row["n_left"], row["n_right"]) == (100, 50)


def test_wasserstein_shift_is_exact_shift(spark):
    # X and X + c have W1 = c exactly
    a = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    b = spark.range(1000).selectExpr("CAST(id + 7.5 AS DOUBLE) AS v")
    row = wasserstein_distance(a, "v", b, "v",
                               num_partitions=8).collect()[0]
    assert row["w1"] == pytest.approx(7.5, abs=1e-6)


def test_wasserstein_vs_duckdb_random(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    a = rng.normal(0.0, 1.0, 3000).round(2)   # rounding forces ties
    b = rng.normal(0.4, 1.3, 2000).round(2)
    la = spark.createDataFrame(pd.DataFrame({"v": a}))
    lb = spark.createDataFrame(pd.DataFrame({"x": b}))
    row = wasserstein_distance(la, "v", lb, "x",
                               num_partitions=8).collect()[0]
    assert row["w1"] == pytest.approx(_w1_oracle(a, b), abs=1e-6)
    assert 0.2 < row["w1"] < 1.0  # the 0.4 shift dominates


def test_wasserstein_chunk_seams(spark):
    """Heavy ties over several buckets, with a tiny Arrow batch size
    set (the statistics run no Arrow pass, so it must change nothing):
    each bucket's last width reaches the next bucket's minimum, and
    the sum over buckets must equal the global window oracle."""
    import numpy as np
    a = np.repeat(np.arange(50, dtype=float), 20)   # heavy ties
    b = np.repeat(np.arange(25, 75, dtype=float), 8)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "7")
    try:
        la = spark.createDataFrame(pd.DataFrame({"v": a}))
        lb = spark.createDataFrame(pd.DataFrame({"v": b}))
        row = wasserstein_distance(la, "v", lb, "v",
                                   num_partitions=5).collect()[0]
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert row["w1"] == pytest.approx(_w1_oracle(a, b), abs=1e-6)


def test_cdf_drift_fused_equals_wrappers(spark):
    from validify_spark.checks import cdf_drift, cvm_statistic
    a = spark.range(800).selectExpr("CAST(id % 37 AS DOUBLE) AS v")
    b = spark.range(600).selectExpr("CAST((id + 9) % 41 AS DOUBLE) AS v")
    fused = cdf_drift(a, "v", b, "v", num_partitions=6).collect()[0]
    ks = ks_statistic(a, "v", b, "v", num_partitions=6).collect()[0]
    w1 = wasserstein_distance(a, "v", b, "v",
                              num_partitions=6).collect()[0]
    cvm = cvm_statistic(a, "v", b, "v", num_partitions=6).collect()[0]
    assert fused["d"] == ks["d"] and fused["w1"] == w1["w1"]
    assert fused["cvm"] == cvm["cvm"] and cvm["cvm"] > 0
    assert fused["n_left"] == 800 and fused["n_right"] == 600


def test_cvm_point_masses_and_identical(spark):
    from validify_spark.checks import cvm_statistic
    # 100 rows at 0 vs 50 rows at 1: group v=0 has |F diff| = 1 over
    # 100 pooled rows, group v=1 has 0 => sum = 100;
    # T = 100*50/150^2 * 100 = 22.222222
    a = spark.range(100).selectExpr("CAST(0 AS DOUBLE) v")
    b = spark.range(50).selectExpr("CAST(1 AS DOUBLE) v")
    row = cvm_statistic(a, "v", b, "v", num_partitions=3).collect()[0]
    assert row["cvm"] == pytest.approx(100 * 50 / 150.0**2 * 100,
                                       abs=1e-6)
    df = spark.range(400).selectExpr("CAST(id % 13 AS DOUBLE) v")
    same = cvm_statistic(df, "v", df, "v",
                         num_partitions=4).collect()[0]
    assert same["cvm"] == 0.0


def test_wasserstein_identical_zero_and_empty_raises(spark):
    df = spark.range(300).selectExpr("CAST(id % 17 AS DOUBLE) AS v")
    row = wasserstein_distance(df, "v", df, "v",
                               num_partitions=4).collect()[0]
    assert row["w1"] == 0.0
    with pytest.raises(ValueError, match="no non-null"):
        wasserstein_distance(df, "v", df.filter("v < 0"), "v")


def test_cdf_drift_runs_no_python(spark, monkeypatch):
    """The CDF family is one SQL window query: no pandas pass, and no
    Python or Arrow operator in the executed plan."""
    from validify_spark.checks import cdf_drift
    a = spark.range(500).selectExpr("CAST(id % 23 AS DOUBLE) AS v")
    b = spark.range(400).selectExpr("CAST(id % 29 AS DOUBLE) AS v")

    def boom(*args, **kwargs):
        raise AssertionError("cdf_drift started a Python worker")

    monkeypatch.setattr(type(a), "mapInPandas", boom)
    monkeypatch.setattr(type(a.groupBy("v")), "applyInPandas", boom)
    out = cdf_drift(a, "v", b, "v", num_partitions=4)
    row = out.collect()[0]
    assert row["d"] > 0 and (row["n_left"], row["n_right"]) == (500, 400)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not any(w in plan for w in ("Python", "Arrow", "Pandas")), plan
