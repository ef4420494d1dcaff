"""One lowering per rule (``compiler.lower``) serves both phases. Callers
that need only the pass verdict must build no violation structs, and
their verdicts must agree with ``violations()``."""

import datetime as dt
from collections import Counter

import validify_spark as vs
from validify_spark import compiler as C
from validify_spark.data import generate_turns, standard_turns_ruleset
from validify_spark.rules import Rule


def _frame(spark):
    t = dt.datetime(2001, 1, 1)
    rows = [
        (1, "a", "bob", ["xx"], ["u@x.com"], t, "09/30/2001", "u@x.com"),
        (2, "a", "alice", ["xx"], [], t, "09/30/2001", "u@x.com"),
        (3, "b", "bo", ["xx"], [], t, "09/30/2001", None),
        (4, "a", None, ["x"], [], t, "09/30/2001", "bad"),
        (5, "a", "bo", ["xx", "y"], ["nope"], t, "09/30/2001", None),
        (6, "a", "bo", None, None, t, "garbage", None),
        (7, "a", "bo", [], [], t, "09/30/2001", "not-an-email"),
        (200, "a", "bo", [], [], t, "09/30/2001", None),
        (9, "a", "bo", [], [], dt.datetime(2002, 1, 1), "09/30/2001",
         None),
        (10, None, "bo", [], [], None, None, None),
    ]
    return spark.createDataFrame(
        rows, "id int, kind string, name string, tags array<string>, "
              "mails array<string>, ts timestamp, deadline string, "
              "contact string")


RULES = [
    vs.required("name", stage="presence"),
    # gated rules; variant "b" names a column the frame lacks
    *vs.variant_rules("kind", {"a": [vs.length("name", max=3)],
                               "b": [vs.required("nickname")]}),
    vs.schema_rule("id < 100", code="id_small"),
    vs.iter_("tags", Rule(kind="length", column=None,
                          params={"min": 2, "max": None, "equal": None})),
    vs.iter_("mails", Rule(kind="email", column=None)),
    vs.time("ts", op="before", target_column="deadline",
            format="MM/dd/yyyy"),
    vs.email("contact"),
]


def test_pass_verdicts_build_no_violation_structs(spark, monkeypatch):
    df = _frame(spark)
    eng = vs.ValidationEngine(vs.RuleSet(rules=RULES, name="guard"),
                              key_cols=["id"])
    viols = eng.violations(df).collect()
    bad = {r.id for r in viols}
    kinds = dict(df.select("id", "kind").collect())
    per_rule = Counter(rid for rid, _ in {(r.rule_id, r.id) for r in viols})
    # every rule fires somewhere, so no rule can hide in a zero count
    assert set(per_rule) == {r.rule_id for r in eng.ruleset.rules}

    def no_structs(*a, **k):
        raise AssertionError("a pass verdict built a violation struct")

    monkeypatch.setattr(C, "make_violation", no_structs)

    flags = dict(eng.with_valid_flag(df).select("id", "is_valid").collect())
    assert {i for i, ok in flags.items() if not ok} == bad

    report = {r.partition_id: (r.n_rows, r.n_failed_rows)
              for r in eng.partition_report(df, "kind").collect()}
    assert report == {
        k: (sum(1 for v in kinds.values() if v == k),
            sum(1 for i in bad if kinds[i] == k))
        for k in set(kinds.values())}

    coverage = {r.rule_id: r.n_failed
                for r in eng.coverage_report(df).collect()}
    assert coverage == dict(per_rule)


def _plan_nodes(plan):
    """(node name, node string) for every node of a JVM plan."""
    out = [(plan.nodeName(), plan.simpleString(1 << 20))]
    children = plan.children()
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i))
    return out


def test_phase1_evaluates_each_modifier_once(spark):
    """Phase 1 filters on its screen computed in a one-row Generate.
    A Filter on the normalized frame itself is pushed below the
    modifier projection with each modifier substituted into every rule
    predicate on its column (5 trim(text) and 3 lower(role) for this
    ruleset), and whole-stage codegen does no subexpression elimination
    inside a Filter. The last input runs with InferFiltersFromGenerate
    enabled, as in a session not built by get_spark: a plain explode of
    phase 2's array would gain a size(_v) > 0 filter below the anchor
    with the whole violations array substituted in."""
    turns = generate_turns(spark, 200, seed=7).localCheckpoint(eager=True)
    eng = vs.ValidationEngine(standard_turns_ruleset(),
                              key_cols=["conv_id", "turn_idx"])
    conf = "spark.sql.optimizer.excludedRules"
    old = spark.conf.get(conf)
    for excluded in (old, ""):
        spark.conf.set(conf, excluded)
        try:
            nodes = _plan_nodes(eng.violations(turns)
                                ._jdf.queryExecution().optimizedPlan())
        finally:
            spark.conf.set(conf, old)
        for name, s in nodes:
            if name in ("Filter", "Generate"):
                assert (s.count("trim("), s.count("lower(")) == (0, 0), \
                    name
        assert any(name == "Generate" and "explode(array(" in s
                   for name, s in nodes)
        projected = [s for name, s in nodes if name == "Project"
                     and "trim(" in s]
        assert len(projected) == 1
        assert projected[0].count("trim(text") == 1
        assert projected[0].count("lower(role") == 1
