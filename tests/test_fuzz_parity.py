"""Ruleset fuzzer vs the DuckDB oracle (r4 verdict task #1).

The 50 driver-checked queries each exercise one operator shape; the
compiler's remaining risk is COMBINATORIAL — gates x presence gating x
modifiers on the same column x iter nesting interacting.
Each fuzz trial uses a seeded RNG to generate a random valid RuleSet
(modifier chains, presence rules, gated main rules, ghost columns,
iter-nested inners) over a real sf0.001 table, then lowers the SAME
ruleset two independent ways:

  1. the engine (``ValidationEngine.violations``), and
  2. a mechanical translation to ANSI SQL run on DuckDB

and asserts multiset equality of (key, location, code) violation rows.
Every trial also asserts that the rows ``with_valid_flag`` marks
invalid are exactly the rows with violations. Mirrors the combinatorial breadth of
the reference's derive_tests/ (30 files of attribute mixes, e.g.
complex.rs, validify.rs:422-559).

Failures print the seed; rerun one with
``SPARK_GRAFT_FUZZ_SEEDS=<seed> pytest tests/test_fuzz_parity.py``.
Trial count: SPARK_GRAFT_FUZZ_N (default 200).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import pytest
from pyspark.sql import functions as F

import validify_spark as vs
from validify_spark.rules import Rule, RuleSet

SF_DIR = "/root/testdata/sf0.001"

# Unicode White_Space set the trim modifier uses (modifiers.py)
WS = ("\t\n\x0b\x0c\r \x85\xa0 "
      + "".join(chr(c) for c in range(0x2000, 0x200B))
      + "    　")

TABLES = {
    "customer": dict(
        key="c_custkey",
        strs=["c_name", "c_mktsegment"],
        nums=["c_acctbal", "c_nationkey"],
        ts=[],
        gates=["c_custkey % 3 = 1", "c_acctbal > 5000.0",
               "c_nationkey <= 12", "c_custkey % 2 = 0"],
        schema_preds=["c_acctbal + c_nationkey > 10.0",
                      "c_custkey % 7 != 0",
                      "c_nationkey < 20 OR c_acctbal < 0"],
        contains={"c_name": ["Customer", "000", "xyz"],
                  "c_mktsegment": ["BUILD", "build", "ZZZ", "MACH"]},
        is_in={"c_name": [["Customer#000000001", "nobody"]],
               "c_mktsegment": [["BUILDING", "MACHINERY"],
                                ["AUTOMOBILE", "HOUSEHOLD", "FURNITURE"],
                                ["building", "machinery"]]},
    ),
    "orders": dict(
        key="o_orderkey",
        strs=["o_orderstatus", "o_orderpriority"],
        nums=["o_totalprice", "o_custkey"],
        ts=["o_orderdate"],
        gates=["o_orderkey % 5 < 2", "o_totalprice > 150000.0",
               "o_custkey % 2 = 1"],
        schema_preds=["o_totalprice > 1000.0",
                      "o_orderkey % 11 != 3",
                      "o_custkey < o_orderkey"],
        contains={"o_orderstatus": ["O", "F", "x"],
                  "o_orderpriority": ["URGENT", "LOW", "1-", "zz"]},
        is_in={"o_orderstatus": [["O", "F"], ["P"], ["o", "f"]],
               "o_orderpriority": [["1-URGENT", "5-LOW"],
                                   ["2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED"]]},
    ),
}

REGEX_POOL = ["[0-9]{2}", "Customer", "BUILD|AUTO", "[A-Z]{5,}",
              "^Cus", "t$", "e.g?"]

# ---------------------------------------------------------------------------
# UDF-tier kinds (email/url/ip/phone/credit_card): a deterministic
# synthetic column built from a pool of reference-truth-table values
# with HARD-CODED verdicts (email.rs:83-133, urls.rs, ip.rs:36-126,
# phone.rs + numbering-plan cases, cards.rs — the same cases
# test_truth_tables.py pins), so the DuckDB oracle needs no Python
# validator — it just reads the expected boolean by pool index. Rows
# get deterministic space padding (left key%3, right key%2) so the
# trim-modifier x two-tier-dispatch ordering is exercised: trimmed ⇒
# base verdict; untrimmed padded ⇒ False for every kind EXCEPT phone
# (whose validator strips Python's [\s().-] itself,
# sql_builders.PHONE_STRIP_RE).
# ---------------------------------------------------------------------------

UDF_COL = "udf_val"
# (value, email, url, ip_any, ip_v4, ip_v6, phone, credit_card)
UDF_POOL = [
    ("email@here.com",           1, 0, 0, 0, 0, 0, 0),
    ("email@[2001:dB8::1]",      1, 0, 0, 0, 0, 0, 0),  # ipv6-literal slow path
    ("user@faß.de",              1, 0, 0, 0, 0, 0, 0),  # IDN slow path
    ("something@@somewhere.com", 0, 0, 0, 0, 0, 0, 0),
    ("abc@bar",                  1, 0, 0, 0, 0, 0, 0),
    ("a @x.cz",                  0, 0, 0, 0, 0, 0, 0),
    ("https://google.com",       0, 1, 0, 0, 0, 0, 0),
    ("ftp://localhost:80",       0, 1, 0, 0, 0, 0, 0),
    ("http",                     0, 0, 0, 0, 0, 0, 0),
    ("mailto:alice@b.com",       0, 1, 0, 0, 0, 0, 0),  # opaque-scheme slow path
    ("http://10.0.0.1:70000",    0, 0, 0, 0, 0, 0, 0),  # bad-port slow path
    ("1.1.1.1",                  0, 0, 1, 1, 0, 0, 0),
    ("256.1.1.1",                0, 0, 0, 0, 0, 0, 0),
    # NB: a bare ipv6 string IS a valid WHATWG URL — "fe80:" parses as
    # a (non-special) scheme with an opaque path, same as url::Url
    ("fe80::223:6cff:fe8a:2e8a", 0, 1, 1, 0, 1, 0, 0),
    ("1::2::3::4",               0, 0, 0, 0, 0, 0, 0),
    ("::ffff:254.42.16.14",      0, 0, 1, 0, 1, 0, 0),
    ("+14152370800",             0, 0, 0, 0, 0, 1, 0),
    ("+1 (415) 237-0800",        0, 0, 0, 0, 0, 1, 0),
    ("14152370800",              0, 0, 0, 0, 0, 0, 0),
    ("+999 12345678",            0, 0, 0, 0, 0, 0, 0),  # no such calling code
    ("+86 13912345678",          0, 0, 0, 0, 0, 1, 0),  # CN mobile plan
    ("4539571147647251",         0, 0, 0, 0, 0, 0, 1),
    ("343380440754432",          0, 0, 0, 0, 0, 0, 1),
    ("5236313877109141",         0, 0, 0, 0, 0, 0, 0),  # brand ok, Luhn fails
    ("zduhefljsdfKJKJZHUI",      0, 0, 0, 0, 0, 0, 0),
    (None,                       None, None, None, None, None, None, None),
]
UDF_VALUES = [p[0] for p in UDF_POOL]
_KNAMES = ("email", "url", "ip_any", "ip_v4", "ip_v6", "phone",
           "credit_card")
UDF_VERDICTS = {k: [None if p[i + 1] is None else bool(p[i + 1])
                    for p in UDF_POOL]
                for i, k in enumerate(_KNAMES)}
UDF_RULE_KINDS = {"email", "url", "ip", "phone", "credit_card"}
MOD_KINDS = ["trim", "lowercase", "uppercase", "capitalize"]
TS_TARGETS = [dt.datetime(1993, 6, 1), dt.datetime(1995, 1, 1),
              dt.datetime(1997, 12, 31)]
GHOST = "ghost_col"
# string-typed time target column (orders only): value parity is built
# by IDENTICAL derivations both sides (date_format vs strftime), with
# 1/13 rows unparseable to exercise the runtime-parse violation flavor
TSTR_COL = "o_date_str"
TSTR_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TSTR_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# oracle-side SQL builders (mechanical mirrors of compiler.py semantics)
# ---------------------------------------------------------------------------


def sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def mod_sql(expr: str, kind: str) -> str:
    if kind == "trim":
        return f"trim({expr}, {sql_quote(WS)})"
    if kind == "lowercase":
        return f"lower({expr})"
    if kind == "uppercase":
        return f"upper({expr})"
    if kind == "capitalize":
        # first char upper, REST UNTOUCHED (modifiers._cap — not initcap)
        return (f"CASE WHEN {expr} IS NULL THEN NULL ELSE "
                f"upper(substr({expr}, 1, 1)) || substr({expr}, 2) END")
    raise AssertionError(kind)


def fail_sql(rule: Rule, m: str, other_m: str = None) -> str:
    """DuckDB predicate: True ⇔ ``rule`` VIOLATES on the modified
    column expression ``m``. Option semantics included (NULL passes
    everything but required, compiler.lower fields.rs:355-396)."""
    p = rule.params
    k = rule.kind
    if k == "required":
        return f"({m} IS NULL)"
    nn = f"{m} IS NOT NULL AND "
    if k == "length":
        if p.get("equal") is not None:
            return f"({nn}NOT (length({m}) = {p['equal']}))"
        parts = []
        if p.get("min") is not None:
            parts.append(f"length({m}) >= {p['min']}")
        if p.get("max") is not None:
            parts.append(f"length({m}) <= {p['max']}")
        return f"({nn}NOT ({' AND '.join(parts)}))"
    if k == "range":
        parts = []
        if p.get("min") is not None:
            parts.append(f"CAST({m} AS DOUBLE) >= {float(p['min'])!r}")
        if p.get("max") is not None:
            parts.append(f"CAST({m} AS DOUBLE) <= {float(p['max'])!r}")
        return f"({nn}NOT ({' AND '.join(parts)}))"
    if k == "regex":
        return f"({nn}NOT regexp_matches({m}, {sql_quote(p['pattern'])}))"
    if k == "non_control_char":
        return f"({nn}regexp_matches({m}, '[\\x00-\\x1F\\x7F-\\x9F]'))"
    if k == "contains":
        return f"({nn}NOT contains({m}, {sql_quote(p['value'])}))"
    if k == "contains_not":
        return f"({nn}contains({m}, {sql_quote(p['value'])}))"
    if k == "is_in":
        vals = ", ".join(sql_quote(v) for v in p["values"])
        return f"({nn}{m} NOT IN ({vals}))"
    if k == "not_in":
        vals = ", ".join(sql_quote(v) for v in p["values"])
        return f"({nn}{m} IN ({vals}))"
    if k == "must_match":
        return f"({nn}{m} IS DISTINCT FROM {other_m})"
    if k == "time":
        op = p["op"]
        inc = bool(p.get("inclusive"))
        if p.get("target_column"):
            # string target parsed per row: parse failure OR failed
            # comparison both violate with the op's code, so one arm
            # covers both flavors (compiler.Lowered)
            parsed = (f"try_strptime(r_{p['target_column']}, "
                      f"'{TSTR_FMT_DUCK}')")
            if op == "in_period":
                d = int(p.get("interval_seconds", 0)) // 86400
                cmp_ok = (f"{m} BETWEEN {parsed} AND "
                          f"({parsed} + to_days({d}))")
            else:
                c_ = {("before", False): "<", ("before", True): "<=",
                      ("after", False): ">",
                      ("after", True): ">="}[(op, inc)]
                cmp_ok = f"{m} {c_} {parsed}"
            return (f"({nn}({parsed} IS NULL OR NOT ({cmp_ok})))")
        t = p["target"]
        if op == "in_period":
            dur = dt.timedelta(seconds=p.get("interval_seconds", 0))
            lo, hi = ((t, t + dur) if dur >= dt.timedelta(0)
                      else (t + dur, t))
            return (f"({nn}NOT ({m} BETWEEN TIMESTAMP "
                    f"'{lo.strftime('%Y-%m-%d %H:%M:%S')}' AND "
                    f"TIMESTAMP '{hi.strftime('%Y-%m-%d %H:%M:%S')}'))")
        ts = f"TIMESTAMP '{t.strftime('%Y-%m-%d %H:%M:%S')}'"
        cmp_ = {("before", False): "<", ("before", True): "<=",
                ("after", False): ">", ("after", True): ">="}[(op, inc)]
        return f"({nn}NOT ({m} {cmp_} {ts}))"
    raise AssertionError(k)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def _gen_inner(rng, spec):
    """Scalar inner rule (column=None) for iter/map_values nesting."""
    inner_kind = rng.choice(["length", "contains", "regex"])
    if inner_kind == "length":
        return vs.length(None, min=rng.randint(0, 3),
                         max=rng.randint(5, 20))
    if inner_kind == "contains":
        c0 = spec["strs"][0]
        return vs.contains(None, rng.choice(spec["contains"][c0]))
    return vs.regex(None, rng.choice(REGEX_POOL))


def gen_rule(rng, spec, allow_ghost=True, with_udf=True):
    """One (Rule, oracle-info) pair for a random column/kind."""
    kind_of_col = []
    for c in spec["strs"]:
        kind_of_col += [(c, k) for k in
                        ("length", "regex", "contains", "contains_not",
                         "is_in", "not_in", "required",
                         "non_control_char", "must_match")]
    # nested struct fields (st = struct(a=strs[0], b=strs[1]) in the
    # fixture): dotted-path rules with /st/<field> locations
    for path in (f"st.{f}" for f in ("a", "b")):
        kind_of_col += [(path, k) for k in
                        ("length", "regex", "required")]
    for c in spec["nums"]:
        kind_of_col += [(c, k) for k in ("range", "required")]
    # UDF-tier kinds over the synthetic truth-table column (+ generic
    # kinds on the same column for cross-kind interplay). Arrow-exec
    # rules cost ~3-4s/trial, so only 1 in 3 seeds draws them — still
    # ~67 UDF-tier rulesets across the default 200.
    if with_udf:
        kind_of_col += [(UDF_COL, k) for k in
                        ("email", "url", "ip_any", "ip_v4", "ip_v6",
                         "phone", "credit_card", "required", "length")]
    for c in spec["ts"]:
        # time is weighted up: it has the most flavors to cover
        # (literal before/after/in_period, string-target-column parse)
        kind_of_col += [(c, k) for k in
                        ("time", "time", "time", "time", "required")]
    if allow_ghost and rng.random() < 0.08:
        col, kind = GHOST, rng.choice(["length", "required", "range"])
    else:
        col, kind = rng.choice(kind_of_col)

    other = None
    if kind == "length":
        if rng.random() < 0.25:
            r = vs.length(col, equal=rng.randint(1, 25))
        else:
            mn = rng.choice([None, rng.randint(0, 10)])
            mx = rng.randint(10, 30)
            r = vs.length(col, min=mn, max=mx)
    elif kind == "range":
        mn = rng.choice([None, float(rng.randint(-100, 500))])
        mx = float(rng.randint(500, 200000))
        r = vs.range_(col, min=mn, max=mx)
    elif kind == "regex":
        r = vs.regex(col, rng.choice(REGEX_POOL))
    elif kind == "contains":
        r = vs.contains(col, rng.choice(spec["contains"][col]))
    elif kind == "contains_not":
        r = vs.contains_not(col, rng.choice(spec["contains"][col]))
    elif kind == "is_in":
        r = vs.is_in(col, rng.choice(spec["is_in"][col]))
    elif kind == "not_in":
        r = vs.not_in(col, rng.choice(spec["is_in"][col]))
    elif kind == "email":
        r = vs.email(col)
    elif kind == "url":
        r = vs.url(col)
    elif kind == "ip_any":
        r = vs.ip(col)
    elif kind == "ip_v4":
        r = vs.ip(col, format="v4")
    elif kind == "ip_v6":
        r = vs.ip(col, format="v6")
    elif kind == "phone":
        r = vs.phone(col)
    elif kind == "credit_card":
        r = vs.credit_card(col)
    elif kind == "required":
        r = vs.required(col)
    elif kind == "non_control_char":
        r = vs.non_control_char(col)
    elif kind == "must_match":
        other = rng.choice([c for c in spec["strs"] if c != col]
                           or [col])
        r = vs.must_match(col, other=other)
    elif kind == "time":
        pick = rng.random()
        if pick < 0.4:
            op = rng.choice(["before", "after"])
            r = vs.time(col, op, target=rng.choice(TS_TARGETS),
                        inclusive=rng.random() < 0.5)
        elif pick < 0.6:
            r = vs.time(col, "in_period",
                        target=rng.choice(TS_TARGETS),
                        days=rng.choice([-3, 2, 7]))
        else:
            # string-typed target column, parsed per row (1/13 rows
            # unparseable — exercises the parse-violation flavor)
            op = rng.choice(["before", "after", "in_period"])
            kw = dict(target_column=TSTR_COL, format=TSTR_FMT_SPARK)
            if op == "in_period":
                r = vs.time(col, op, days=rng.choice([1, 3, 10]), **kw)
            else:
                r = vs.time(col, op, inclusive=rng.random() < 0.5, **kw)
    else:
        raise AssertionError(kind)

    if rng.random() < 0.35:
        r = vs.Rule(kind=r.kind, column=r.column,
                    params={**r.params, "_gate": rng.choice(spec["gates"])},
                    stage=r.stage)
    return r, other


def gen_ruleset(rng, spec, with_udf=True):
    """(RuleSet, modifier-chains, iter-specs). Combinatorial on
    purpose: presence rules (possibly ghost/gated), 2-12 main rules,
    modifiers on the very columns rules read, sometimes an iter rule
    over an array built from two string columns."""
    mods, chains = [], {}
    for c in spec["strs"]:
        if rng.random() < 0.5:
            chain = [rng.choice(MOD_KINDS)
                     for _ in range(rng.randint(1, 3))]
            chains[c] = chain
            mods.extend(vs.Modifier(m, c) for m in chain)
    # udf_val only ever gets `trim` (case modifiers would change the
    # hard-coded truth-table verdicts); with it the padded rows recover
    # their base verdicts, without it they fail everything but phone
    if with_udf and rng.random() < 0.5:
        chains[UDF_COL] = ["trim"]
        mods.append(vs.Modifier("trim", UDF_COL))

    rules = []
    if rng.random() < 0.45:
        for _ in range(rng.randint(1, 2)):
            col = (GHOST if rng.random() < 0.15
                   else rng.choice(spec["strs"] + spec["nums"]
                                   + ([UDF_COL] if with_udf else [])))
            pr = vs.required(col, stage="presence")
            if rng.random() < 0.3:
                pr = vs.Rule(kind="required", column=col,
                             params={"_gate": rng.choice(spec["gates"])},
                             stage="presence")
            rules.append(pr)

    iter_specs = []
    n_main = rng.randint(2, 12)
    for _ in range(n_main):
        if len(spec["strs"]) >= 2 and rng.random() < 0.08:
            # map_values over a 2-key map of the two string columns
            inner = _gen_inner(rng, spec)
            r = vs.map_values_("mp", inner)
            if rng.random() < 0.3:
                r = vs.Rule(kind="map_values", column="mp",
                            params={**r.params,
                                    "_gate": rng.choice(spec["gates"])})
            rules.append(r)
            continue
        if spec["strs"] and len(spec["strs"]) >= 2 and rng.random() < 0.12:
            # iter over a 2-element array of the two string columns
            inner = _gen_inner(rng, spec)
            r = vs.iter_("arr", inner)
            if rng.random() < 0.3:
                r = vs.Rule(kind="iter", column="arr",
                            params={**r.params,
                                    "_gate": rng.choice(spec["gates"])})
            rules.append(r)
            iter_specs.append((r, inner))
        else:
            r, _other = gen_rule(rng, spec, with_udf=with_udf)
            rules.append(r)
    if rng.random() < 0.3:
        sr = vs.schema_rule(rng.choice(spec["schema_preds"]))
        if rng.random() < 0.3:
            sr = vs.Rule(kind="schema", column=None,
                         params={**sr.params,
                                 "_gate": rng.choice(spec["gates"])},
                         code="schema")
        rules.append(sr)
    return RuleSet(rules=rules, modifiers=mods, name="fuzz"), chains


# ---------------------------------------------------------------------------
# oracle assembly
# ---------------------------------------------------------------------------


def build_oracle_sql(table, spec, ruleset, chains):
    key = spec["key"]
    all_cols = spec["strs"] + spec["nums"] + spec["ts"]
    sel = [key] + [c for c in all_cols if c != key]
    mod_exprs = {}
    for c in all_cols:
        e = c
        for kind in chains.get(c, []):
            e = mod_sql(e, kind)
        mod_exprs[c] = f"({e})"
    # m_<c> = modified view (what scalar rules see); r_<c> = raw (what
    # the pre-normalization 'arr' column carries, so iter arms use it);
    # raw numeric/key columns carried as-is for gate predicates.
    aux = []
    if spec["ts"]:
        # same derivation as the Spark-side fixture column, DuckDB form
        aux.append(
            f"CASE WHEN {key} % 13 = 0 THEN 'not-a-date' "
            f"ELSE strftime({spec['ts'][0]} + "
            f"to_days(CAST({key} % 7 - 3 AS INT)), "
            f"'{TSTR_FMT_DUCK}') END AS r_{TSTR_COL}")
    # synthetic UDF-tier column: pool value by key index + deterministic
    # space padding, the exact mirror of the Spark-side fixture
    P = len(UDF_VALUES)
    vals_sql = ", ".join("NULL" if v is None else sql_quote(v)
                         for v in UDF_VALUES)
    udf_raw = (f"(repeat(' ', CAST({key} % 3 AS INT)) || "
               f"list_extract([{vals_sql}], CAST({key} % {P} AS INT) + 1)"
               f" || repeat(' ', CAST({key} % 2 AS INT)))")
    e = udf_raw
    for kind in chains.get(UDF_COL, []):
        e = mod_sql(e, kind)
    aux.append(f"({e}) AS m_{UDF_COL}")
    cte_cols = ", ".join(
        [key]
        + [f"{mod_exprs[c]} AS m_{c}" for c in sel if c != key]
        + [f"{c} AS r_{c}" for c in spec["strs"]]
        + sorted({c for c in spec["nums"] if c != key})
        + aux)
    cte = (f"WITH src AS (SELECT {cte_cols} FROM "
           f"'{SF_DIR}/{table}.parquet')")

    nested = {"st.a": spec["strs"][0], "st.b": spec["strs"][1]} \
        if len(spec["strs"]) >= 2 else {}

    def m(col):
        if col in nested:
            # struct fields carry the PRE-normalization values (the
            # struct is built before the engine's modifier pass)
            return f"r_{nested[col]}"
        return f"m_{col}" if col != key else key

    def rule_fail(r):
        if r.column == GHOST:
            pred = "TRUE"  # missing column ⇒ every row fails
        elif r.kind in UDF_RULE_KINDS:
            kname = (r.kind if r.kind != "ip" else
                     {"v4": "ip_v4", "v6": "ip_v6"}.get(
                         r.params.get("format"), "ip_any"))
            verd = ", ".join(
                "NULL" if b is None else ("TRUE" if b else "FALSE")
                for b in UDF_VERDICTS[kname])
            base = (f"list_extract([{verd}], "
                    f"CAST({key} % {len(UDF_VALUES)} AS INT) + 1)")
            if UDF_COL in chains or r.kind == "phone":
                exp = base  # trimmed (or phone, which strips \s itself)
            else:  # untrimmed: padded rows can never validate
                exp = (f"(CASE WHEN {key} % 3 = 0 AND {key} % 2 = 0 "
                       f"THEN {base} ELSE FALSE END)")
            pred = (f"(m_{UDF_COL} IS NOT NULL "
                    f"AND NOT COALESCE({exp}, FALSE))")
        elif r.kind == "must_match":
            pred = fail_sql(r, m(r.column), other_m=m(r.params["other"]))
        else:
            pred = fail_sql(r, m(r.column))
        g = r.params.get("_gate")
        if g is not None:
            # gates reference raw numeric/key columns; CTE carries them
            pred = f"COALESCE(({g}), FALSE) AND {pred}"
        return f"COALESCE({pred}, FALSE)"

    presence = ruleset.presence_rules
    presence_ok = ("NOT (" + " OR ".join(rule_fail(r) for r in presence)
                   + ")") if presence else "TRUE"

    arms = []
    for r in presence:
        loc = f"/{r.column}"
        code = "required"
        arms.append(f"SELECT {key} AS k, '{loc}' AS location, "
                    f"'{code}' AS code FROM src WHERE {rule_fail(r)}")
    for r in ruleset.main_rules:
        if r.kind == "map_values":
            inner = r.params["inner"]
            g = r.params.get("_gate")
            gate_sql = (f"COALESCE(({g}), FALSE) AND " if g else "")
            for mk, c in zip(("k1", "k2"), spec["strs"][:2]):
                pred = fail_sql(inner, f"r_{c}")
                arms.append(
                    f"SELECT {key} AS k, '/mp/{mk}' AS location, "
                    f"'{inner.effective_code}' AS code FROM src "
                    f"WHERE {gate_sql}({presence_ok}) "
                    f"AND COALESCE({pred}, FALSE)")
            continue
        if r.kind == "iter":
            inner = r.params["inner"]
            g = r.params.get("_gate")
            gate_sql = (f"COALESCE(({g}), FALSE) AND " if g else "")
            for idx, c in enumerate(spec["strs"][:2]):
                pred = fail_sql(inner, f"r_{c}")
                arms.append(
                    f"SELECT {key} AS k, '/arr/{idx}' AS location, "
                    f"'{inner.effective_code}' AS code FROM src "
                    f"WHERE {gate_sql}({presence_ok}) "
                    f"AND COALESCE({pred}, FALSE)")
            continue
        if r.kind == "schema":
            g = r.params.get("_gate")
            gate_sql = (f"COALESCE(({g}), FALSE) AND " if g else "")
            # NULL predicate result counts as failure (unknown ⇒ not
            # proven ok, compiler.lower)
            arms.append(
                f"SELECT {key} AS k, '/' AS location, "
                f"'{r.effective_code}' AS code FROM src "
                f"WHERE {gate_sql}({presence_ok}) "
                f"AND (({r.params['predicate']}) IS NOT TRUE)")
            continue
        loc = ("/" + GHOST) if r.column == GHOST else r.location
        code = "required" if r.column == GHOST else r.effective_code
        arms.append(f"SELECT {key} AS k, '{loc}' AS location, "
                    f"'{code}' AS code FROM src "
                    f"WHERE ({presence_ok}) AND {rule_fail(r)}")
    return cte + "\n" + "\nUNION ALL\n".join(arms)


# ---------------------------------------------------------------------------
# the test
# ---------------------------------------------------------------------------


def _seeds():
    env = os.environ.get("SPARK_GRAFT_FUZZ_SEEDS")
    if env:
        return [int(s) for s in env.split(",")]
    n = int(os.environ.get("SPARK_GRAFT_FUZZ_N", "200"))
    return list(range(n))


@pytest.fixture(scope="module")
def sources(spark):
    out = {}
    for t, spec in TABLES.items():
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        strs = spec["strs"]
        df = (df
              .withColumn("arr",
                          F.array(*[F.col(c) for c in strs[:2]]))
              .withColumn("mp", F.create_map(
                  F.lit("k1"), F.col(strs[0]),
                  F.lit("k2"), F.col(strs[1])))
              .withColumn("st", F.struct(
                  F.col(strs[0]).alias("a"),
                  F.col(strs[1]).alias("b"))))
        key = spec["key"]
        P = len(UDF_VALUES)
        vals_sql = ", ".join(
            "NULL" if v is None else "'" + v.replace("'", "''") + "'"
            for v in UDF_VALUES)
        df = df.withColumn(UDF_COL, F.expr(
            f"concat(repeat(' ', CAST({key} % 3 AS INT)), "
            f"element_at(array({vals_sql}), "
            f"CAST({key} % {P} AS INT) + 1), "
            f"repeat(' ', CAST({key} % 2 AS INT)))"))
        if spec["ts"]:
            key, ts0 = spec["key"], spec["ts"][0]
            df = df.withColumn(TSTR_COL, F.when(
                F.col(key) % 13 == 0, F.lit("not-a-date")
            ).otherwise(F.date_format(
                F.col(ts0) + F.make_interval(
                    days=(F.col(key) % 7 - 3).cast("int")),
                TSTR_FMT_SPARK)))
        out[t] = df.cache()
        out[t].count()
    yield out
    for df in out.values():
        df.unpersist()


def _run_trial(spark, con, sources, seed):
    rng = random.Random(seed)
    table = rng.choice(list(TABLES))
    spec = TABLES[table]
    ruleset, chains = gen_ruleset(rng, spec, with_udf=seed % 3 == 0)
    key = spec["key"]

    eng = vs.ValidationEngine(ruleset, key_cols=[key])
    full_cols = [key, "rule_id", "location", "code",
                 F.to_json("params").alias("p")]
    rows = sorted(
        tuple(str(x) for x in r)
        for r in eng.violations(sources[table])
                    .select(*full_cols).collect())

    # 1. engine == DuckDB oracle on (key, location, code)
    got = sorted((int(r[0]), r[2], r[3]) for r in rows)
    sql = build_oracle_sql(table, spec, ruleset, chains)
    exp = sorted((int(k), loc, code)
                 for k, loc, code in con.sql(sql).fetchall())
    assert got == exp, (
        f"seed={seed} table={table}: engine {len(got)} rows vs oracle "
        f"{len(exp)}; first diffs: "
        f"{[x for x in got if x not in exp][:5]} / "
        f"{[x for x in exp if x not in got][:5]}\nruleset: "
        f"{[(r.kind, r.column, r.stage, r.params.get('_gate')) for r in ruleset.rules]}"
        f"\nchains: {chains}\nSQL:\n{sql}")

    # 2. the two phases agree: the rows with_valid_flag marks invalid
    # are exactly the rows with violations (keys are primary keys)
    invalid = sorted(
        int(r[0]) for r in eng.with_valid_flag(sources[table], "__ok")
        .filter(~F.col("__ok")).select(key).collect())
    assert invalid == sorted({k for k, _, _ in got}), (
        f"seed={seed} table={table}: with_valid_flag marks "
        f"{len(invalid)} rows invalid, violations name "
        f"{len({k for k, _, _ in got})}")


@pytest.mark.parametrize("block", range(8))
def test_fuzz_ruleset_parity(spark, sources, block):
    """≥200 generated rulesets (8 blocks x 25), each checked engine-vs-
    DuckDB and violations-vs-with_valid_flag. Blocks keep pytest granularity sane
    while one seed failure pins the exact reproducer."""
    con = duckdb.connect()
    seeds = _seeds()
    per = max(1, (len(seeds) + 7) // 8)
    for seed in seeds[block * per:(block + 1) * per]:
        _run_trial(spark, con, sources, seed)


def _run_dedup_trial(spark, con, sources, seed):
    """dedup=True merge semantics, fuzzed: base rules with UNIQUE
    (column, kind) pairs (so distinct rules can never collide on the
    violation natural key), a random subset literally duplicated —
    the engine must collapse each duplicate back to one violation,
    i.e. equal the oracle over the unique rules only."""
    rng = random.Random(10_000 + seed)
    table = rng.choice(list(TABLES))
    spec = TABLES[table]
    key = spec["key"]

    seen, base = set(), []
    for _ in range(rng.randint(3, 8)):
        for _attempt in range(10):
            r, _ = gen_rule(rng, spec, allow_ghost=False,
                            with_udf=seed % 3 == 0)
            if r.kind in ("iter", "map_values"):
                continue
            if (r.column, r.kind) not in seen:
                seen.add((r.column, r.kind))
                base.append(r)
                break
    rules = list(base)
    for r in base:
        if rng.random() < 0.5:
            rules.append(r)  # identical copy (same gate, same params)
    rng.shuffle(rules)
    ruleset = RuleSet(rules=rules, name="fuzzdedup")

    eng = vs.ValidationEngine(ruleset, key_cols=[key], dedup=True)
    got = sorted(
        (int(r[0]), r[1], r[2])
        for r in eng.violations(sources[table])
                    .select(key, "location", "code").collect())
    oracle_rs = RuleSet(rules=base, name="fuzzdedup")
    sql = build_oracle_sql(table, spec, oracle_rs, chains={})
    exp = sorted((int(k), loc, code)
                 for k, loc, code in con.sql(sql).fetchall())
    assert got == exp, (
        f"dedup seed={seed} table={table}: {len(got)} vs {len(exp)}; "
        f"rules={[(r.kind, r.column) for r in rules]}")


@pytest.mark.parametrize("block", range(2))
def test_fuzz_dedup_merge(spark, sources, block):
    """40 fuzzed dedup=True trials (r4 verdict task #6 beyond the one
    oracle query): duplicated rules collapse on the natural key."""
    con = duckdb.connect()
    for seed in range(block * 20, block * 20 + 20):
        _run_dedup_trial(spark, con, sources, seed)
