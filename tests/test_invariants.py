"""Cross-cutting invariants from BASELINE.json input_hint:
"per-turn text equality under stable (conv_id, turn_idx) ordering" —
normalization must be a deterministic, partitioning-independent function
of each row; plus date-typed time ops and property-based rule parity.
"""

import datetime as dt

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from validify_spark import RuleSet, ValidationEngine, length, range_, time
from validify_spark.data import generate_turns, standard_turns_ruleset


def test_per_turn_text_equality_under_repartitioning(spark):
    """The normalized text for a given (conv_id, turn_idx) must be
    identical regardless of physical partitioning (the engine is a pure
    per-row function — no order-dependent state)."""
    turns = generate_turns(spark, 4000, seed=42)
    eng = ValidationEngine(standard_turns_ruleset(),
                           key_cols=["conv_id", "turn_idx"])
    a = (eng.normalize(turns.repartition(3))
         .orderBy("conv_id", "turn_idx", "text").collect())
    b = (eng.normalize(turns.repartition(17, "conv_id"))
         .orderBy("conv_id", "turn_idx", "text").collect())
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in a] == \
           [(r["conv_id"], r["turn_idx"], r["text"]) for r in b]


def test_violations_partitioning_independent(spark):
    # persist: validating the raw generator expression tree would push
    # the generator into every predicate and blow the 64 KB codegen
    # limit (interpreted fallback, ~30x slower)
    turns = generate_turns(spark, 2000, seed=42).persist()
    turns.count()
    eng = ValidationEngine(standard_turns_ruleset(),
                           key_cols=["conv_id", "turn_idx"])
    key = ["conv_id", "turn_idx", "location", "code"]
    a = eng.violations(turns.repartition(2)).select(key)
    b = eng.violations(turns.repartition(13, "conv_id")).select(key)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    turns.unpersist()


def test_time_ops_on_date_columns(spark):
    # fx_time: DATE column comparisons (time.rs date forms 13-16)
    rows = [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 6, 1)),
            (3, None)]
    df = spark.createDataFrame(rows, "id int, d date")
    eng = ValidationEngine(
        RuleSet(rules=[time("d", op="before",
                            target=dt.date(2024, 3, 1))]),
        key_cols=["id"])
    v = eng.violations(df).collect()
    assert [r["id"] for r in v] == [2]  # null passes, 2024-06 fails


# ---------------------------------------------------------------------------
# property-based parity: engine verdicts == python reference semantics
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def prop_engine(spark):
    """One engine + reusable runner for property tests."""
    def run(values, rule, ddl="v string"):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], f"id int, {ddl}")
        eng = ValidationEngine(RuleSet(rules=[rule]), key_cols=["id"])
        failed = {r["id"] for r in eng.violations(df).collect()}
        return [i not in failed for i in range(len(values))]
    return run


@settings(max_examples=6, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=30)),
                min_size=1, max_size=20),
       st.integers(0, 5), st.integers(5, 20))
def test_length_rule_matches_python(prop_engine, values, mn, mx):
    got = prop_engine(values, length("v", min=mn, max=mx))
    # reference: char count, inclusive bounds, None passes
    # (traits.rs:26-42; fields.rs:355-396)
    want = [v is None or (mn <= len(v) <= mx) for v in values]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.floats(-1e6, 1e6, allow_nan=False)),
                min_size=1, max_size=20),
       st.floats(-100, 0), st.floats(0, 100))
def test_range_rule_matches_python(prop_engine, values, mn, mx):
    got = prop_engine(values, range_("v", min=mn, max=mx), ddl="v double")
    want = [v is None or (mn <= v <= mx) for v in values]
    assert got == want
