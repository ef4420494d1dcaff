"""Seeded fuzzer for the transcript-level checks: random transcripts x
random check configs, each trial cross-checked against a mechanical
DuckDB oracle (conversation shape, transcript diff) or against the
batch twin (streaming conversation shape). Style mirrors
tests/test_fuzz_parity.py: deterministic seeds, every trial asserts
full violation-set equality."""

import random
import time as _time

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from validify_spark.checks import (
    conversation_shape_violations, transcript_diff,
)
from validify_spark.streaming import stream_conversation_shape

ROLES = ["user", "assistant", "system", "tool"]
SCHEMA = "conv_id string, turn_idx int, role string, text string, ts long"


def _gen_turns(rng: random.Random):
    """Random transcripts with seeded shape poisons: shifted starts,
    wrong openers/closers, role repeats, NULL roles, runaway lengths.
    turn_idx is never NULL and (idx, ts) never ties (the batch check's
    struct sort and an ORDER BY idx, ts oracle agree trivially then —
    NULL-idx ordering divergence is out of contract, same as the fixed
    tests)."""
    rows = []
    for c in range(rng.randint(3, 9)):
        conv = f"c{c}"
        n = rng.randint(1, 9)
        start = rng.choice([0, 0, 0, 1, rng.randint(0, 3)])
        opener = rng.choice(ROLES[:3])
        ts = rng.randint(0, 1000)
        role_prev = None
        for k in range(n):
            role = (ROLES[(ROLES.index(opener) + k) % 2]
                    if opener in ROLES[:2] else rng.choice(ROLES))
            if rng.random() < 0.15 and role_prev is not None:
                role = role_prev  # forced repeat
            if rng.random() < 0.08:
                role = None  # NULL role
            rows.append((conv, start + k, role, f"t{c}_{k}", ts))
            ts += rng.randint(1, 9)
            role_prev = role
    return rows


def _gen_config(rng: random.Random):
    cfg = dict(
        zero_based=rng.random() < 0.7,
        first_role=rng.choice([None, "user", "system"]),
        last_role=rng.choice([None, "assistant"]),
        alternate=rng.random() < 0.5,
        max_turns=rng.choice([None, None, 3, 4, 6]),
    )
    if not any(cfg.values()):
        cfg["zero_based"] = True
    return cfg


def _shape_oracle_sql(cfg) -> str:
    arms = []
    if cfg["zero_based"]:
        arms.append("""
          SELECT conv_id, f_idx AS turn_idx,
                 'first_idx_not_zero' AS code
          FROM s WHERE rn = 1 AND f_idx != 0""")
    if cfg["first_role"] is not None:
        arms.append(f"""
          SELECT conv_id, f_idx, 'first_role' FROM s
          WHERE rn = 1 AND f_role IS DISTINCT FROM '{cfg["first_role"]}'""")
    if cfg["last_role"] is not None:
        arms.append(f"""
          SELECT conv_id, l_idx, 'last_role' FROM s
          WHERE rn = 1 AND l_role IS DISTINCT FROM '{cfg["last_role"]}'""")
    if cfg["max_turns"] is not None:
        arms.append(f"""
          SELECT conv_id, NULL, 'too_many_turns' FROM s
          WHERE rn = 1 AND n > {cfg["max_turns"]}""")
    if cfg["alternate"]:
        arms.append("""
          SELECT conv_id, turn_idx, 'role_repeat' FROM s
          WHERE rn > 1 AND prev_role IS NOT DISTINCT FROM role""")
    return """
      WITH s AS (
        SELECT conv_id, turn_idx, role,
               row_number() OVER w AS rn,
               count(*)    OVER (PARTITION BY conv_id) AS n,
               lag(role)   OVER w AS prev_role,
               first_value(role) OVER w AS f_role,
               first_value(turn_idx) OVER w AS f_idx,
               last_value(role) OVER w2 AS l_role,
               last_value(turn_idx) OVER w2 AS l_idx
        FROM t WINDOW
          w AS (PARTITION BY conv_id ORDER BY turn_idx, ts),
          w2 AS (PARTITION BY conv_id ORDER BY turn_idx, ts
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
      )""" + " UNION ALL ".join(arms)


@pytest.mark.parametrize("seed", range(30))
def test_fuzz_conversation_shape_vs_duckdb(spark, seed):
    rng = random.Random(1000 + seed)
    rows, cfg = _gen_turns(rng), _gen_config(rng)
    got = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in conversation_shape_violations(
               spark.createDataFrame(rows, SCHEMA),
               ts_col="ts", **cfg).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "ts"]))
    exp = set(map(tuple, con.execute(_shape_oracle_sql(cfg)).fetchall()))
    assert got == exp, f"seed={seed} cfg={cfg}\n got={sorted(got, key=str)}\n exp={sorted(exp, key=str)}"


@pytest.mark.parametrize("seed", range(20))
def test_fuzz_transcript_diff_vs_duckdb(spark, seed):
    rng = random.Random(2000 + seed)
    left = _gen_turns(rng)
    right, ghosts = [], []
    for conv, idx, role, text, ts in left:
        p = rng.random()
        if p < 0.10:
            continue                       # dropped turn
        if p < 0.20:
            text = rng.choice(["MUT_" + text, None])  # mutated / nulled
        elif text is not None and rng.random() < 0.05:
            text = None
        right.append((conv, idx, role, text, ts))
    for g in range(rng.randint(0, 3)):     # ghost turns
        ghosts.append((f"ghost{g}", g, "user", "boo", 0))
    right += ghosts
    # NULL text on the left too (both-NULL must compare equal)
    left = [(c, i, r, None if rng.random() < 0.07 else t, ts)
            for c, i, r, t, ts in left]

    l_df = spark.createDataFrame(left, SCHEMA)
    r_df = spark.createDataFrame(right, SCHEMA)
    use_digest = seed % 2 == 0
    got = {(r["conv_id"], r["turn_idx"], r["code"])
           for r in transcript_diff(l_df, r_df,
                                    digest=use_digest).collect()}
    con = duckdb.connect()
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    con.register("l", pd.DataFrame(left, columns=cols))
    con.register("r", pd.DataFrame(right, columns=cols))
    exp = set(map(tuple, con.execute("""
      SELECT coalesce(l.conv_id, r.conv_id),
             coalesce(l.turn_idx, r.turn_idx),
             CASE WHEN r.conv_id IS NULL THEN 'missing_in_right'
                  WHEN l.conv_id IS NULL THEN 'missing_in_left'
                  WHEN l.text IS DISTINCT FROM r.text
                       THEN 'text_mismatch' END
      FROM l FULL OUTER JOIN r
        ON l.conv_id = r.conv_id AND l.turn_idx = r.turn_idx
      WHERE (r.conv_id IS NULL) OR (l.conv_id IS NULL)
         OR (l.text IS DISTINCT FROM r.text)
    """).fetchall()))
    assert got == exp, f"seed={seed} digest={use_digest}"


@pytest.mark.parametrize("seed", range(13))
def test_fuzz_cdf_drift_vs_duckdb(spark, seed):
    """Random two-sample shapes (mixtures, heavy ties, signed zeros,
    NULL/NaN pollution, unequal sizes) — cdf_drift's KS, W1 and CvM
    must each match the DuckDB window-CDF oracle exactly."""
    import numpy as np
    from validify_spark.checks import cdf_drift

    rng = np.random.default_rng(4000 + seed)
    def sample(n):
        kind = rng.integers(0, 4)
        if kind == 0:
            v = rng.normal(rng.uniform(-2, 2), rng.uniform(0.5, 3), n)
        elif kind == 1:
            v = rng.exponential(rng.uniform(0.5, 5), n)
        elif kind == 2:   # heavy ties: few distinct values
            v = rng.choice(rng.normal(0, 10, 7), n)
        else:             # mixture with a point mass
            v = np.where(rng.random(n) < 0.4, 3.25,
                         rng.uniform(-5, 5, n))
        return np.round(v, 2)

    a = sample(int(rng.integers(50, 3000)))
    b = sample(int(rng.integers(50, 3000)))
    if seed >= 10:
        # -0.0 mixed with 0.0: one tie group, so the whole left side
        # falls in one bucket; a quarter of the right side ties with it
        a = rng.choice([-0.0, 0.0], len(a))
        b[: len(b) // 4] = rng.choice([-0.0, 0.0], len(b) // 4)
    # pollute with NULL/NaN — both must be excluded
    a_l = [float(x) for x in a] + [None] * int(rng.integers(0, 5)) \
        + [float("nan")] * int(rng.integers(0, 5))
    la = spark.createDataFrame([(x,) for x in a_l], "v double")
    lb = spark.createDataFrame([(float(x),) for x in b], "v double")
    row = cdf_drift(la, "v", lb, "v",
                    num_partitions=int(rng.integers(1, 9))).collect()[0]

    con = duckdb.connect()
    con.register("ta", pd.DataFrame({"v": a}))
    con.register("tb", pd.DataFrame({"v": b}))
    scale = len(a) * len(b) / float(len(a) + len(b)) ** 2
    d_exp, w1_exp, cvm_exp = con.execute(f"""
      WITH u AS (SELECT v, 0 AS s FROM ta UNION ALL
                 SELECT v, 1 FROM tb),
      c AS (SELECT v, count(*) FILTER (s = 0) AS n0,
                   count(*) FILTER (s = 1) AS n1 FROM u GROUP BY v),
      cdf AS (SELECT v, n0 + n1 AS cnt,
                sum(n0) OVER (ORDER BY v) / {len(a)}.0 AS f0,
                sum(n1) OVER (ORDER BY v) / {len(b)}.0 AS f1,
                lead(v) OVER (ORDER BY v) AS nv
              FROM c)
      SELECT round(max(abs(f0 - f1)), 6),
             round(coalesce(sum(CASE WHEN nv IS NOT NULL
                   THEN abs(f0 - f1) * (nv - v) END), 0), 6),
             round(sum(cnt * (f0 - f1) * (f0 - f1)) * {scale!r}, 6)
      FROM cdf""").fetchone()
    assert row["d"] == pytest.approx(d_exp, abs=1e-9), f"seed={seed}"
    assert row["w1"] == pytest.approx(w1_exp, abs=1e-6), f"seed={seed}"
    assert row["cvm"] == pytest.approx(cvm_exp, abs=1e-6), f"seed={seed}"
    assert (row["n_left"], row["n_right"]) == (len(a), len(b))


def _convrule_specs(rng: random.Random):
    """Random whole-conversation rule parameters. Each spec compiles
    to all three tiers (agg Column, seq builder, pandas fn) AND a
    DuckDB HAVING arm written as NOT coalesce(<ok>, FALSE) — the
    mechanical encoding of the NULL-verdict-is-failure convention.
    Roles are coalesced to '0' wherever a NULL role could otherwise
    make tier semantics diverge (text is never NULL in _gen_turns)."""
    budget = rng.randint(10, 60)
    req = rng.choice(ROLES)
    closer = rng.choice(ROLES[:2])
    r1, r2 = rng.sample(ROLES, 2)
    specs = {
        "has_req": (
            F.max(F.col("role") == req),
            lambda t: F.exists(t, lambda x: x["role"] == F.lit(req)),
            lambda p: (p["role"] == req).any(),
            f"bool_or(role = '{req}')"),
        "budget": (
            F.sum(F.length("text")) <= budget,
            lambda t: F.aggregate(
                t, F.lit(0), lambda a, x: a + F.length(x["text"]))
            <= budget,
            lambda p: p["text"].str.len().sum() <= budget,
            f"sum(length(text)) <= {budget}"),
        # coalesce INSIDE the arg-max on both engines: DuckDB's arg_max
        # skips NULL args while Spark's max_by returns them — feeding
        # both a non-NULL sentinel makes the semantics identical
        "closer": (
            F.max_by(F.coalesce(F.col("role"), F.lit("0")),
                     F.col("turn_idx")) == closer,
            lambda t: F.coalesce(F.element_at(t, -1)["role"],
                                 F.lit("0")) == closer,
            lambda p: p["role"].fillna("0").iloc[-1] == closer,
            f"arg_max(coalesce(role, '0'), turn_idx) = '{closer}'"),
        "r1_after_r2": (
            F.min(F.when(F.col("role") == r1, F.col("turn_idx"))).isNull()
            | (F.min(F.when(F.col("role") == r2,
                            F.col("turn_idx"))).isNotNull()
               & (F.min(F.when(F.col("role") == r2, F.col("turn_idx")))
                  < F.min(F.when(F.col("role") == r1,
                                 F.col("turn_idx"))))),
            lambda t: F.aggregate(
                t, F.struct(F.lit(True).alias("ok"),
                            F.lit(False).alias("seen")),
                lambda acc, x: F.struct(
                    (acc["ok"] & ~((F.coalesce(x["role"], F.lit("0"))
                                    == r1) & ~acc["seen"])).alias("ok"),
                    (acc["seen"] | (F.coalesce(x["role"], F.lit("0"))
                                    == r2)).alias("seen")),
                lambda acc: acc["ok"]),
            lambda p: all(
                (p["role"][:i] == r2).any()
                for i in p.index[p["role"] == r1]),
            f"(min(CASE WHEN role = '{r1}' THEN turn_idx END) IS NULL)"
            f" OR (min(CASE WHEN role = '{r2}' THEN turn_idx END)"
            f" IS NOT NULL AND"
            f" min(CASE WHEN role = '{r2}' THEN turn_idx END) <"
            f" min(CASE WHEN role = '{r1}' THEN turn_idx END))"),
    }
    picked = rng.sample(sorted(specs), rng.randint(2, 4))
    return {k: specs[k] for k in picked}


@pytest.mark.parametrize("seed", range(15))
def test_fuzz_conversation_rules_three_tiers_vs_duckdb(spark, seed):
    """Random transcripts x random rule subsets: agg tier, seq tier and
    pandas tier must produce identical violation sets, and all three
    must match a DuckDB GROUP BY oracle with the NULL-verdict
    convention encoded as NOT coalesce(ok, FALSE)."""
    from validify_spark.checks import conversation_rules

    rng = random.Random(5000 + seed)
    rows = _gen_turns(rng)
    specs = _convrule_specs(rng)
    df = spark.createDataFrame(rows, SCHEMA)

    agg = {(r["conv_id"], r["code"]) for r in conversation_rules(
        df, agg_rules=[(k, v[0]) for k, v in specs.items()]).collect()}
    seq = {(r["conv_id"], r["code"]) for r in conversation_rules(
        df, rules=[(k, v[1]) for k, v in specs.items()]).collect()}
    pan = {(r["conv_id"], r["code"]) for r in conversation_rules(
        df, pandas_rules=[(k, v[2]) for k, v in specs.items()]
        ).collect()}

    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "ts"]))
    arms = [f"""SELECT conv_id, '{k}' AS code FROM t GROUP BY conv_id
                HAVING NOT coalesce({ok_sql}, FALSE)"""
            for k, (_, _, _, ok_sql) in specs.items()]
    exp = set(map(tuple,
                  con.execute(" UNION ALL ".join(arms)).fetchall()))
    assert agg == seq == pan == exp, (
        f"seed={seed} rules={sorted(specs)}\n agg={sorted(agg)}\n "
        f"seq={sorted(seq)}\n pan={sorted(pan)}\n exp={sorted(exp)}")


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_stream_shape_equals_batch(spark, tmpdir, seed):
    """Random transcripts split into random micro-batches: the
    streaming check's finalized violations equal the batch check's on
    the union (ts kept tight vs the session gap, watermark wide, so
    neither late-drop nor fragmentation perturbs the comparison)."""
    rng = random.Random(3000 + seed)
    rows = _gen_turns(rng)
    cfg = _gen_config(rng)
    n_batches = rng.randint(2, 3)
    batches = [[] for _ in range(n_batches)]
    for row in rows:
        batches[rng.randrange(n_batches)].append(row)
    batches = [b for b in batches if b]
    batches.append([("zz_flush", 0, "user", "f", 10**9)])

    src_dir = f"{tmpdir}/fz{seed}_src"
    for b in batches:
        (spark.createDataFrame(b, SCHEMA)
         .select("conv_id", "turn_idx", "role",
                 F.col("ts").cast("timestamp").alias("ts"))
         .coalesce(1).write.mode("append").parquet(src_dir))
        _time.sleep(1.1)
    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_conversation_shape(
            stream, ts_col="ts", watermark="365 days",
            session_gap="365 days", **cfg)
         .writeStream.format("memory").queryName(f"fz{seed}")
         .option("checkpointLocation", f"{tmpdir}/fz{seed}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r.conv_id, r.turn_idx, r.code)
           for r in spark.sql(f"SELECT * FROM fz{seed}").collect()}

    batch = {(r["conv_id"], r["turn_idx"], r["code"])
             for r in conversation_shape_violations(
                 spark.createDataFrame(rows, SCHEMA)
                 .select("conv_id", "turn_idx", "role",
                         F.col("ts").cast("timestamp").alias("ts")),
                 ts_col="ts", **cfg).collect()}
    assert got == batch, f"seed={seed} cfg={cfg}"


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_stream_convrules_equals_batch(spark, tmpdir, seed):
    """Random transcripts split into random micro-batches through
    stream_conversation_rules: the finalized violations equal the
    batch pandas tier on the union (wide watermark/gap so neither
    late-drop nor fragmentation perturbs the comparison). Rules are
    NULL-robust (fillna) so batch/stream dtype differences are moot."""
    from validify_spark.checks import conversation_rules
    from validify_spark.streaming import stream_conversation_rules

    prules = [
        ("has_assistant",
         lambda p: (p["role"].fillna("0") == "assistant").any()),
        ("even_turns", lambda p: len(p) % 2 == 0),
        ("closer_not_user",
         lambda p: p["role"].fillna("0").iloc[-1] != "user"),
    ]
    rng = random.Random(6000 + seed)
    rows = _gen_turns(rng)
    n_batches = rng.randint(2, 3)
    batches = [[] for _ in range(n_batches)]
    for row in rows:
        batches[rng.randrange(n_batches)].append(row)
    batches = [b for b in batches if b]
    batches.append([("zz_flush", 0, "user", "f", 10**9)])

    src_dir = f"{tmpdir}/cr{seed}_src"
    for b in batches:
        (spark.createDataFrame(b, SCHEMA)
         .select("conv_id", "turn_idx", "role", "text",
                 F.col("ts").cast("timestamp").alias("ts"))
         .coalesce(1).write.mode("append").parquet(src_dir))
        _time.sleep(1.1)
    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_conversation_rules(
            stream, prules, ts_col="ts", watermark="365 days",
            session_gap="365 days")
         .writeStream.format("memory").queryName(f"cr{seed}")
         .option("checkpointLocation", f"{tmpdir}/cr{seed}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r.conv_id, r.code)
           for r in spark.sql(f"SELECT * FROM cr{seed}").collect()}

    batch = {(r["conv_id"], r["code"])
             for r in conversation_rules(
                 spark.createDataFrame(rows, SCHEMA)
                 .select("conv_id", "turn_idx", "role", "text",
                         F.col("ts").cast("timestamp").alias("ts")),
                 pandas_rules=prules).collect()}
    assert got == batch, f"seed={seed}"
