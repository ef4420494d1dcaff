"""User-defined whole-conversation rules (checks/convrules.py) — the
conversation-level analog of the reference's schema_validation
(derive_tests/tests/schema.rs:183-212: every rule runs, errors merged,
no short-circuit). Column tier cross-checked against a DuckDB oracle;
pandas tier asserted identical to the column tier on the same rules.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from validify_spark.checks import conversation_rules


TURNS = [
    # conv a: user/assistant, 2 turns, text fits budget
    ("a", 0, "user", "hi", 100),
    ("a", 1, "assistant", "hello there", 101),
    # conv b: no assistant turn at all; ends on user; odd turn count
    ("b", 0, "user", "anyone?", 100),
    ("b", 1, "user", "hello??", 101),
    ("b", 2, "user", "bye", 102),
    # conv c: over the 20-char total text budget; ends on user
    ("c", 0, "user", "please write a poem", 100),
    ("c", 1, "assistant", "here is a very long poem indeed", 101),
    ("c", 2, "user", "thanks", 102),
    # conv d: tool turn BEFORE any assistant turn (bad agent trace)
    ("d", 0, "user", "run it", 100),
    ("d", 1, "tool", "{}", 101),
    ("d", 2, "assistant", "done", 102),
    # conv e: clean agent trace: assistant before tool
    ("e", 0, "user", "go", 100),
    ("e", 1, "assistant", "calling", 101),
    ("e", 2, "tool", "{}", 102),
    ("e", 3, "assistant", "ok", 103),
]
SCHEMA = "conv_id string, turn_idx int, role string, text string, ts long"

# column-tier rules: each builder maps the sorted
# array<struct<turn_idx, ts, role, text>> Column to a boolean Column
RULES = [
    ("has_assistant",
     lambda t: F.exists(t, lambda x: x["role"] == F.lit("assistant"))),
    ("text_budget_20",
     lambda t: F.aggregate(t, F.lit(0),
                           lambda a, x: a + F.length(x["text"])) <= 20),
    ("ends_assistant",
     lambda t: F.element_at(t, -1)["role"] == F.lit("assistant")),
    # running-state rule: ok iff no 'tool' turn arrives while the
    # seen-assistant flag is still false (agent traces must show the
    # assistant requesting the tool call first)
    ("tool_after_assistant",
     lambda t: F.aggregate(
         t, F.struct(F.lit(True).alias("ok"), F.lit(False).alias("seen")),
         lambda acc, x: F.struct(
             (acc["ok"] & ~((x["role"] == "tool") & ~acc["seen"]))
             .alias("ok"),
             (acc["seen"] | (x["role"] == "assistant")).alias("seen")),
         lambda acc: acc["ok"])),
]

EXPECTED = {
    ("b", "has_assistant"),
    ("c", "text_budget_20"),          # 19 + 31 + 6 = 56 > 20
    ("b", "ends_assistant"),
    ("c", "ends_assistant"),
    ("d", "tool_after_assistant"),
}


def _turns(spark):
    return spark.createDataFrame(TURNS, SCHEMA)


def test_column_tier_vs_duckdb_oracle(spark):
    got = {(r["conv_id"], r["code"])
           for r in conversation_rules(_turns(spark), RULES).collect()}
    assert got == EXPECTED

    # independent oracle: the same four rules in DuckDB SQL
    # (turn_idx is unique per conv here, so it alone orders the turns)
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        TURNS, columns=["conv_id", "turn_idx", "role", "text", "ts"]))
    oracle = con.execute("""
        SELECT conv_id, 'has_assistant' AS code FROM t GROUP BY conv_id
        HAVING count(*) FILTER (WHERE role = 'assistant') = 0
        UNION ALL
        SELECT conv_id, 'text_budget_20' FROM t GROUP BY conv_id
        HAVING sum(length(text)) > 20
        UNION ALL
        SELECT conv_id, 'ends_assistant' FROM (
          SELECT conv_id, arg_max(role, turn_idx) AS last_role
          FROM t GROUP BY conv_id) WHERE last_role != 'assistant'
        UNION ALL
        SELECT DISTINCT a.conv_id, 'tool_after_assistant' FROM t a
        WHERE a.role = 'tool' AND NOT EXISTS (
          SELECT 1 FROM t b WHERE b.conv_id = a.conv_id
            AND b.role = 'assistant' AND b.turn_idx < a.turn_idx)
    """).fetchall()
    assert {(c, k) for c, k in oracle} == got


def _agg_rules():
    return [
      ("has_assistant", F.max(F.col("role") == "assistant")),
    ("text_budget_20", F.sum(F.length("text")) <= 20),
    ("ends_assistant", F.max_by("role", "turn_idx") == "assistant"),
    ("tool_after_assistant",
     F.min(F.when(F.col("role") == "tool", F.col("turn_idx"))).isNull()
     | (F.min(F.when(F.col("role") == "assistant",
                     F.col("turn_idx"))).isNotNull()
        & (F.min(F.when(F.col("role") == "assistant", F.col("turn_idx")))
           < F.min(F.when(F.col("role") == "tool", F.col("turn_idx")))))),
    ]


def test_agg_tier_parity_and_plan(spark):
    # same four rules as declarative aggregates: identical verdicts,
    # but the plan collects NO array and partially aggregates map-side
    q = conversation_rules(_turns(spark), agg_rules=_agg_rules())
    got = {(r["conv_id"], r["code"]) for r in q.collect()}
    assert got == EXPECTED
    phys = q._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in phys
    assert "partial_" in phys or "HashAggregate" in phys


def test_agg_and_seq_share_one_aggregate(spark):
    q = conversation_rules(_turns(spark), rules=RULES[:1],
                           agg_rules=_agg_rules()[1:2])
    got = {(r["conv_id"], r["code"]) for r in q.collect()}
    assert got == {("b", "has_assistant"), ("c", "text_budget_20")}
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1


def test_agg_rule_callable_form(spark):
    q = conversation_rules(
        _turns(spark),
        agg_rules=[("text_budget_20",
                    lambda: F.sum(F.length("text")) <= 20)])
    assert {(r["conv_id"], r["code"]) for r in q.collect()} == \
        {("c", "text_budget_20")}


def test_agg_rule_bad_spec(spark):
    with pytest.raises(ValueError, match="Column or a 0-arg callable"):
        conversation_rules(_turns(spark),
                           agg_rules=[("x", "not a column")])


def test_pandas_tier_parity(spark):
    prules = [
        ("has_assistant", lambda p: (p["role"] == "assistant").any()),
        ("text_budget_20", lambda p: p["text"].str.len().sum() <= 20),
        ("ends_assistant", lambda p: p["role"].iloc[-1] == "assistant"),
        ("tool_after_assistant",
         lambda p: all((p["role"][:i] == "assistant").any()
                       for i in p.index[p["role"] == "tool"])),
    ]
    col = {(r["conv_id"], r["code"])
           for r in conversation_rules(_turns(spark), RULES).collect()}
    pan = {(r["conv_id"], r["code"])
           for r in conversation_rules(
               _turns(spark), pandas_rules=prules).collect()}
    assert pan == col == EXPECTED


def test_mixed_tiers_union(spark):
    out = conversation_rules(
        _turns(spark), rules=RULES[:1],
        pandas_rules=[("even_turns", lambda p: len(p) % 2 == 0)])
    got = {(r["conv_id"], r["code"]) for r in out.collect()}
    assert got == {("b", "has_assistant"),
                   ("b", "even_turns"), ("c", "even_turns"),
                   ("d", "even_turns")}


def test_null_predicate_is_failure(spark):
    # NULL text makes the budget aggregate NULL -> unknown -> violation,
    # matching the engine's schema-rule convention (compiler.lower)
    df = spark.createDataFrame([("n", 0, "user", None, 100)], SCHEMA)
    got = {(r["conv_id"], r["code"])
           for r in conversation_rules(df, [RULES[1]]).collect()}
    assert got == {("n", "text_budget_20")}


def test_sort_order_respects_ts_tiebreak(spark):
    # duplicate turn_idx: ts breaks the tie, so 'assistant' (later ts)
    # is the final turn and ends_assistant passes
    df = spark.createDataFrame(
        [("z", 0, "user", "a", 100),
         ("z", 1, "assistant", "b", 102),
         ("z", 1, "user", "c", 101)], SCHEMA)
    assert conversation_rules(df, [RULES[2]]).collect() == []


def test_no_ts_column(spark):
    df = spark.createDataFrame(
        [("q", 0, "user", "hey")],
        "conv_id string, turn_idx int, role string, text string")
    got = {(r["conv_id"], r["code"])
           for r in conversation_rules(df, RULES[:1]).collect()}
    assert got == {("q", "has_assistant")}


def test_bad_specs_raise(spark):
    df = _turns(spark)
    with pytest.raises(ValueError, match="no conversation rules"):
        conversation_rules(df, [])
    with pytest.raises(ValueError, match="code must be"):
        conversation_rules(df, [(7, lambda t: F.lit(True))])
    with pytest.raises(ValueError, match="must be callable"):
        conversation_rules(df, [("x", "not a fn")])


def test_one_aggregate_no_join_no_window(spark):
    plan = (conversation_rules(_turns(spark), RULES)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("Aggregate") == 1 and "Join" not in plan \
        and "Window" not in plan
