"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship: validate a transcript table derived from
               sf0.001 lineitem with the standard ruleset; returns the
               violations DataFrame.
``queries``  — one entry per implemented operator (SURVEY.md §2 +
               training-data pipeline ops), each (spark, sf_dir) →
               DataFrame.
``oracle_sql`` — DuckDB-dialect SQL computing the same result over the
               pre-registered parquet views. Column names/types match
               the Spark outputs; value comparison is order-insensitive.

Where both sides must derive identical synthetic inputs (emails, urls,
turns...), the derivation is deterministic SQL over the shared tables —
never random, never wall-clock.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

import validify_spark as vs
from validify_spark.checks import (
    drift_report, categorical_histogram, ordering_violations,
    cdf_drift, conversation_rules, conversation_shape_violations,
    transcript_diff,
    referential_orphans, stats_profile_exact, uniqueness_violations,
)
from validify_spark.pipeline import (
    cosine_self_pairs, cosine_topk, exact_duplicates, fingerprint,
    jaccard_pairs, lang_id, minhash_signatures, quality_score,
    simhash_pairs, token_stats,
)
from validify_spark.rules import Rule

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, *names: str) -> dict:
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def _viol(res_df: DataFrame, *key_cols: str) -> DataFrame:
    """Project violations to oracle-comparable plain columns."""
    return res_df.select(*key_cols, "code", "location")


# ---------------------------------------------------------------------------
# shared turns derivation (dialect-neutral SQL — runs verbatim in Spark
# SQL and DuckDB). Deterministic function of lineitem.
# ---------------------------------------------------------------------------

DERIVE_TURNS_SQL = """
SELECT
  'c' || lpad(CAST(l_orderkey AS STRING), 10, '0') AS conv_id,
  CAST(l_linenumber - 1 AS INT) AS turn_idx,
  CASE WHEN l_orderkey % 97 = 0 THEN 'robot'
       WHEN l_orderkey % 89 = 0 AND l_linenumber = 1 THEN NULL
       ELSE CASE CAST((l_orderkey + l_linenumber) % 4 AS INT)
            WHEN 0 THEN 'system' WHEN 1 THEN 'user'
            WHEN 2 THEN 'assistant' ELSE 'tool' END END AS role,
  CASE WHEN l_orderkey % 31 = 0 THEN
         '   padded turn text ' || CAST(l_linenumber AS STRING) || '   '
       WHEN l_orderkey % 41 = 0 AND l_linenumber = 2 THEN ''
       WHEN l_orderkey % 53 = 0 THEN 'ctl' || chr(7) || 'char'
       ELSE 'turn text ' || l_returnflag || ' '
            || CAST(l_orderkey AS STRING) || ' '
            || CAST(l_linenumber AS STRING) END AS text,
  CASE WHEN l_orderkey % 61 = 0 THEN ''
       WHEN (l_orderkey + l_linenumber) % 4 = 3 THEN 'search'
       ELSE NULL END AS tool,
  l_shipdate AS ts
FROM lineitem
"""

_RUN_TS = dt.datetime(1998, 6, 1)

TURNS_RULESET_ORACLE = f"""
WITH turns AS ({DERIVE_TURNS_SQL}),
norm AS (
  SELECT conv_id, turn_idx, lower(role) AS role,
         trim(text) AS text, tool, ts
  FROM turns
)
SELECT conv_id, turn_idx, 'required' AS code, '/role' AS location
  FROM norm WHERE role IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'length', '/text'
  FROM norm WHERE text IS NOT NULL
   AND NOT (length(text) >= 1 AND length(text) <= 60)
UNION ALL
SELECT conv_id, turn_idx, 'in', '/role'
  FROM norm WHERE role IS NOT NULL
   AND role NOT IN ('system', 'user', 'assistant', 'tool')
UNION ALL
SELECT conv_id, turn_idx, 'not_in', '/tool'
  FROM norm WHERE tool IS NOT NULL AND tool IN ('', 'forbidden')
UNION ALL
SELECT conv_id, turn_idx, 'non_control_char', '/text'
  FROM norm WHERE text IS NOT NULL
   AND regexp_matches(text, '[\\x00-\\x1F\\x7F-\\x9F]')
UNION ALL
SELECT conv_id, turn_idx, 'range', '/turn_idx'
  FROM norm WHERE turn_idx IS NOT NULL
   AND NOT (CAST(turn_idx AS DOUBLE) >= 0.0
            AND CAST(turn_idx AS DOUBLE) <= 4.0)
UNION ALL
SELECT conv_id, turn_idx, 'before_or_equal', '/ts'
  FROM norm WHERE ts IS NOT NULL AND NOT (ts <= TIMESTAMP '1998-06-01')
UNION ALL
SELECT conv_id, turn_idx, 'regex', '/text'
  FROM norm WHERE text IS NOT NULL AND NOT regexp_matches(text, 'turn')
"""


def _turns_ruleset() -> vs.RuleSet:
    return vs.RuleSet(
        name="turns",
        rules=[
            vs.required("role"),
            vs.length("text", min=1, max=60),
            vs.is_in("role", ["system", "user", "assistant", "tool"]),
            vs.not_in("tool", ["", "forbidden"]),
            vs.non_control_char("text"),
            vs.range_("turn_idx", min=0, max=4),
            vs.time("ts", op="before", target=_RUN_TS, inclusive=True),
            vs.regex("text", "turn"),
        ],
        modifiers=[vs.trim("text"), vs.lowercase("role")],
    )


# derived-turns materializations, keyed (applicationId, sf_dir): the
# synthetic transcript table is deterministic INPUT (production would
# read it from an Iceberg table), so derive + checkpoint it ONCE per
# session and share the blocks across suite passes — repeated flagship
# runs then measure the validation engine, not input synthesis (r4
# verdict task #7). localCheckpoint blocks are executor-local, which
# is exactly right for a single-session bench cache.
_TURNS_CACHE: dict = {}


def _derived_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    turns = _TURNS_CACHE.get(key)
    if turns is None:
        _load(spark, sf_dir, "lineitem")
        # localCheckpoint: a materialization barrier so filter pushdown
        # cannot substitute the derivation CASE expressions into all 8
        # rule predicates (which would exceed Janino's 64 KB codegen
        # limit and fall back to ~10x-slower interpreted eval).
        # repartition first: the single-file lineitem scan yields ~3
        # partitions, so without it every downstream flagship pass ran
        # on 3 of 32 cores (measured: 5.3 s warm vs 1.8-2.2 s after —
        # the classic single-file-parquet pitfall, and most of r4's
        # 6 s flagship).
        turns = (spark.sql(DERIVE_TURNS_SQL)
                 .repartition(spark.sparkContext.defaultParallelism)
                 .localCheckpoint(eager=True))
        _TURNS_CACHE[key] = turns
    return turns


def q_turns_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: standard ruleset over the derived transcript table.
    Exercises modifiers (trim/lowercase), option semantics, and 8 rule
    kinds in one fused single-scan pass."""
    turns = _derived_turns(spark, sf_dir)
    eng = vs.ValidationEngine(_turns_ruleset(),
                              key_cols=["conv_id", "turn_idx"],
                              run_ts=_RUN_TS)
    return _viol(eng.violations(turns), "conv_id", "turn_idx")


# ---------------------------------------------------------------------------
# individual validator queries over the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_length(spark, sf_dir):
    """Tagged union: the plain length scan PLUS merge-dedup semantics
    (ValidationErrors::merge, error.rs:222-231). The dedup arm runs TWO
    identical length rules — without ``dedup=True`` every failing row
    would emit two violations (distinct rule_id, same natural key
    (key, location, code, params)) and the arm would return 2x the
    oracle's rows; dropDuplicates on the natural key collapses them to
    exactly the single-rule result the oracle computes."""
    t = _load(spark, sf_dir, "customer")["customer"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.length("c_name", min=1, max=17)]),
        key_cols=["c_custkey"])
    plain = (eng.violations(t)
             .select(F.lit("plain").alias("src"), "c_custkey", "code",
                     F.col("params")["actual"].alias("actual")))
    eng2 = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.length("c_name", min=1, max=17),
                          vs.length("c_name", min=1, max=17)]),
        key_cols=["c_custkey"], dedup=True)
    deduped = (eng2.violations(t)
               .select(F.lit("deduped").alias("src"), "c_custkey", "code",
                       F.col("params")["actual"].alias("actual")))
    return plain.unionByName(deduped)


def q_range(spark, sf_dir):
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.range_("l_quantity", min=1, max=25)]),
        key_cols=["l_orderkey", "l_linenumber"])
    return eng.violations(t).select(
        "l_orderkey", "l_linenumber", "code",
        F.col("params")["actual"].alias("actual"))


def q_is_in(spark, sf_dir):
    t = _load(spark, sf_dir, "orders")["orders"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.is_in("o_orderstatus", ["O", "F"])]),
        key_cols=["o_orderkey"])
    return eng.violations(t).select(
        "o_orderkey", "code", F.col("params")["actual"].alias("actual"))


def q_not_in(spark, sf_dir):
    t = _load(spark, sf_dir, "customer")["customer"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.not_in("c_mktsegment", ["MACHINERY"])]),
        key_cols=["c_custkey"])
    return eng.violations(t).select("c_custkey", "code")


def q_regex(spark, sf_dir):
    t = _load(spark, sf_dir, "part")["part"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.regex("p_type", "BRUSHED|POLISHED")]),
        key_cols=["p_partkey"])
    return eng.violations(t).select("p_partkey", "code",
                                    F.col("params")["actual"]
                                    .alias("actual"))


def q_must_match(spark, sf_dir):
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.must_match("l_returnflag",
                                        other="l_linestatus")]),
        key_cols=["l_orderkey", "l_linenumber"])
    return eng.violations(t).select(
        "l_orderkey", "l_linenumber", "code",
        F.col("params")["actual"].alias("actual"),
        F.col("params")["target"].alias("target"))


def q_time_ops(spark, sf_dir):
    # 2-row-group orders parquet = 2 scan tasks; the time-rule
    # predicates (parse, overflow and format branches) are the
    # expensive stage — shuffle the 2 needed columns, evaluate on
    # every core
    t = (_load(spark, sf_dir, "orders")["orders"]
         .select("o_orderkey", "o_orderdate")
         .repartition(spark.sparkContext.defaultParallelism))
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[
            vs.time("o_orderdate", op="before",
                    target=dt.datetime(1998, 1, 1), inclusive=True),
            vs.time("o_orderdate", op="after",
                    target=dt.datetime(1995, 1, 1)),
            vs.time("o_orderdate", op="in_period",
                    target=dt.datetime(1996, 1, 1), days=365),
        ]),
        key_cols=["o_orderkey"])
    return eng.violations(t).select("o_orderkey", "code")


def q_time_now_ops(spark, sf_dir):
    """The four *-now time ops + dynamic in_period(target_column),
    deterministic via pinned run_ts (time.rs:13-70 semantics; inclusive
    flag honored for before_now)."""
    _load(spark, sf_dir, "orders")
    t = spark.sql("""
      SELECT o_orderkey,
             CAST(o_orderdate AS TIMESTAMP) AS ts1,
             CAST(o_orderdate AS TIMESTAMP) - INTERVAL 2 YEAR AS ts2,
             timestampadd(DAY, CAST(o_orderkey % 730 AS INT) - 365,
                          CAST(o_orderdate AS TIMESTAMP)) AS anchor
      FROM orders""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[
            vs.time("ts1", op="before_now", inclusive=True),
            vs.time("ts2", op="after_now"),
            vs.time("ts1", op="before_from_now", days=365),
            vs.time("ts2", op="after_from_now", days=365),
            vs.time("ts1", op="in_period", target_column="anchor",
                    days=400),
        ]),
        key_cols=["o_orderkey"], run_ts=dt.datetime(1995, 6, 1))
    return eng.violations(t).select("o_orderkey", "code", "location")


def q_time_date(spark, sf_dir):
    """Date-typed column ⇒ the whole-day *_today/*_date variants
    (time.rs:13-21, 51-61, 78-87), selected from the column type like
    the reference's has_time=false macro branch. run_ts is midday so a
    timestamp comparison would give different answers (today's date is
    NOT before now.date(); a 36h from-now gap needs 2 whole days)."""
    _load(spark, sf_dir, "orders")
    t = spark.sql(
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[
            vs.time("d", op="before_now"),
            vs.time("d", op="before_from_now", hours=36),
            vs.time("d", op="in_period",
                    target=dt.date(1995, 1, 1), hours=60),
        ]),
        key_cols=["o_orderkey"], run_ts=dt.datetime(1995, 6, 1, 12, 0))
    return eng.violations(t).select("o_orderkey", "code")


def q_time_parse(spark, sf_dir):
    """String-typed time target parsed at RUNTIME per row
    (tokens.rs:740-747 + 900-914): unparseable/NULL targets emit a
    violation carrying actual+format params; parseable targets get the
    normal comparison with actual+target params."""
    _load(spark, sf_dir, "orders")
    t = spark.sql("""
      SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts,
        CASE WHEN o_orderkey % 11 = 0 THEN 'not a date'
             WHEN o_orderkey % 7 = 0 THEN NULL
             ELSE '1996-06-01 00:00:00' END AS deadline
      FROM orders""")
    rule = vs.time("ts", op="before", target_column="deadline",
                   format="yyyy-MM-dd HH:mm:ss")
    eng = vs.ValidationEngine(vs.RuleSet(rules=[rule]),
                              key_cols=["o_orderkey"])
    return eng.violations(t).selectExpr(
        "o_orderkey", "code",
        "params['format'] AS fmt", "params['target'] AS target",
        "params['actual'] AS actual")


def q_missing_column(spark, sf_dir):
    """Payload column-existence: a rule naming an absent column emits
    `required` per row instead of AnalysisException
    (derive_tests/tests/payload.rs:14-22)."""
    t = _load(spark, sf_dir, "customer")["customer"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.length("c_name", min=1),
                          vs.required("loyalty_tier")]),
        key_cols=["c_custkey"])
    return eng.violations(t).select("c_custkey", "code", "location",
                                    "field")


def q_variant_rules(spark, sf_dir):
    """Enum-variant analog (derive_tests/tests/enum.rs): per-variant
    price caps gated on o_orderstatus; unknown variants violate is_in."""
    _load(spark, sf_dir, "orders")
    t = spark.sql("""
      SELECT o_orderkey, o_orderstatus AS kind, o_totalprice
      FROM orders""")
    rules = vs.variant_rules("kind", {
        "O": [vs.range_("o_totalprice", min=0, max=200000)],
        "F": [vs.range_("o_totalprice", min=0, max=150000)],
    }, known_only=True)
    eng = vs.ValidationEngine(vs.RuleSet(rules=rules),
                              key_cols=["o_orderkey"])
    return eng.violations(t).select("o_orderkey", "code", "location")


def q_email(spark, sf_dir):
    """Email validation on a deterministically synthesized column —
    exercises the HTML5 fast path (email.rs:22-72 semantics)."""
    _load(spark, sf_dir, "customer")
    t = spark.sql("""
      SELECT c_custkey,
        CASE WHEN c_custkey % 13 = 0 THEN 'bad@@example.com'
             WHEN c_custkey % 11 = 0 THEN
               'user' || CAST(c_custkey AS STRING) || 'example.com'
             ELSE 'user' || CAST(c_custkey AS STRING) || '@example.com'
        END AS email
      FROM customer""").repartition(
        spark.sparkContext.defaultParallelism)
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.email("email")]), key_cols=["c_custkey"])
    return eng.violations(t).select("c_custkey", "code")


def q_ip_v4(spark, sf_dir):
    """IPv4 validation (strict Rust-std semantics) on synthesized IPs —
    pure SQL regex fast path on both sides."""
    _load(spark, sf_dir, "events")
    t = spark.sql("""
      SELECT event_id,
        CAST(user_id % 300 AS STRING) || '.0.0.'
          || CAST(event_id % 260 AS STRING) AS ip
      FROM events""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.ip("ip", format="v4")]),
        key_cols=["event_id"])
    return eng.violations(t).select("event_id", "code")


# The reference's ip truth table (validify/src/validation/ip.rs:31-139),
# verbatim: (case_id, kind, addr, expected). The oracle side is the
# EXPECTED column keyed by case_id; the Spark side computes the verdicts
# from the strings — a genuine cross-check of v4/v6/any semantics
# (zone-id rejection, embedded-v4 tails, unicode digits, whitespace).
_IP_TRUTH_TABLE = [
    (1, "any", "1.1.1.1", True),
    (2, "any", "255.0.0.0", True),
    (3, "any", "0.0.0.0", True),
    (4, "any", "256.1.1.1", False),
    (5, "any", "25.1.1.", False),
    (6, "any", "25,1,1,1", False),
    (7, "any", "fe80::223:6cff:fe8a:2e8a", True),
    (8, "any", "::ffff:254.42.16.14", True),
    (9, "any", "2a02::223:6cff :fe8a:2e8a", False),
    (10, "v4", "1.1.1.1", True),
    (11, "v4", "255.0.0.0", True),
    (12, "v4", "0.0.0.0", True),
    (13, "v4", "256.1.1.1", False),
    (14, "v4", "25.1.1.", False),
    (15, "v4", "25,1,1,1", False),
    (16, "v4", "25.1 .1.1", False),
    (17, "v4", "1.1.1.1\n", False),
    (18, "v4", "٧.2٥.3٣.243", False),
    (19, "v6", "fe80::223:6cff:fe8a:2e8a", True),
    (20, "v6", "2a02::223:6cff:fe8a:2e8a", True),
    (21, "v6", "1::2:3:4:5:6:7", True),
    (22, "v6", "::", True),
    (23, "v6", "::a", True),
    (24, "v6", "2::", True),
    (25, "v6", "::ffff:254.42.16.14", True),
    (26, "v6", "::ffff:0a0a:0a0a", True),
    (27, "v6", "::254.42.16.14", True),
    (28, "v6", "::0a0a:0a0a", True),
    (29, "v6", "foo", False),
    (30, "v6", "127.0.0.1", False),
    (31, "v6", "12345::", False),
    (32, "v6", "1::2::3::4", False),
    (33, "v6", "1::zzz", False),
    (34, "v6", "1:2", False),
    (35, "v6", "fe80::223: 6cff:fe8a:2e8a", False),
    (36, "v6", "2a02::223:6cff :fe8a:2e8a", False),
    (37, "v6", "::ffff:999.42.16.14", False),
    (38, "v6", "::ffff:zzzz:0a0a", False),
]


def q_ip_v6(spark, sf_dir):
    """The full reference ip truth table (v4 + v6 + any) as a fixture;
    one ip rule per format, gated by the case's kind column. Violations
    are exactly the expected=false cases — the oracle replays the
    reference's expected verdicts by case_id."""
    rows = [(cid, kind, addr) for cid, kind, addr, _e in _IP_TRUTH_TABLE]
    t = spark.createDataFrame(rows,
                              "case_id int, kind string, addr string")
    rules = vs.variant_rules("kind", {
        "any": [vs.ip("addr")],
        "v4": [vs.ip("addr", format="v4")],
        "v6": [vs.ip("addr", format="v6")],
    })
    eng = vs.ValidationEngine(vs.RuleSet(rules=rules),
                              key_cols=["case_id"])
    return eng.violations(t).select("case_id", "code")


def q_ip(spark, sf_dir):
    """Both ip checks in one oracle query (tagged union, so both stay
    inside the driver's 50-query window): the synthesized-v4 scan and
    the full 38-case reference truth table."""
    v4 = q_ip_v4(spark, sf_dir).select(
        F.lit("synth_v4").alias("src"),
        F.col("event_id").cast("long").alias("case_id"), "code")
    truth = q_ip_v6(spark, sf_dir).select(
        F.lit("truth_table").alias("src"),
        F.col("case_id").cast("long").alias("case_id"), "code")
    return v4.unionByName(truth)


def q_url(spark, sf_dir):
    """URL validation (WHATWG-parse UDF tier) on synthesized urls."""
    _load(spark, sf_dir, "events")
    t = spark.sql("""
      SELECT event_id,
        CASE WHEN event_id % 7 = 0 THEN 'http'
             WHEN event_id % 5 = 0 THEN 'ftp://localhost:80'
             ELSE 'https://example.com/p/'
                  || CAST(event_id AS STRING) END AS url
      FROM events""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.url("url")]), key_cols=["event_id"])
    return eng.violations(t).select("event_id", "code")


def q_phone(spark, sf_dir):
    """Phone validation (numbering-plan UDF tier) on synthesized
    numbers. Cases 3-5 exercise the r5 vendored plan metadata: a
    plan-invalid NANP exchange, an unassigned country code, and a
    valid UK range that a bare shape check can't tell apart."""
    _load(spark, sf_dir, "events")
    t = spark.sql("""
      SELECT event_id,
        CASE CAST(event_id % 6 AS INT)
          WHEN 0 THEN '+1 (415) 237-0800'
          WHEN 1 THEN '14152370800'
          WHEN 2 THEN '+33642926829'
          WHEN 3 THEN '+1 999 123 4567'
          WHEN 4 THEN '+999 12345678'
          ELSE '+44 300 000 0000' END AS phone
      FROM events""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.phone("phone")]), key_cols=["event_id"])
    return eng.violations(t).select("event_id", "code")


def q_iter_emails(spark, sf_dir):
    """Per-element (iter) validation with indexed locations."""
    _load(spark, sf_dir, "customer")
    t = spark.sql("""
      SELECT c_custkey, array(
        'ok' || CAST(c_custkey AS STRING) || '@example.com',
        CASE WHEN c_custkey % 9 = 0 THEN 'not an email'
             ELSE 'also' || CAST(c_custkey AS STRING) || '@example.com'
        END) AS emails
      FROM customer""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.iter_("emails", Rule(kind="email",
                                                  column=None))]),
        key_cols=["c_custkey"])
    return eng.violations(t).select("c_custkey", "code", "location")


def q_contains(spark, sf_dir):
    # needle 'red' splits the data (~13% of part names contain it), so
    # both pass and fail branches are exercised against the oracle
    t = _load(spark, sf_dir, "part")["part"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.contains("p_name", "red")]),
        key_cols=["p_partkey"])
    return eng.violations(t).select("p_partkey", "code")


def q_contains_not(spark, sf_dir):
    t = _load(spark, sf_dir, "customer")["customer"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.contains_not("c_name", "0000000")]),
        key_cols=["c_custkey"])
    return eng.violations(t).select("c_custkey", "code")


def q_custom_rule(spark, sf_dir):
    """Custom Column-builder rule (§2.9 preferred form — stays in
    Catalyst): l_extendedprice must be >= 900 * l_quantity... expressed
    as a cross-referencing builder."""
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.custom(
            "l_extendedprice",
            lambda c: c >= F.col("l_quantity") * 900.0,
            code="price_floor")]),
        key_cols=["l_orderkey", "l_linenumber"])
    return eng.violations(t).select("l_orderkey", "l_linenumber", "code")


def q_map_values(spark, sf_dir):
    """map_values rule: per-value check with map-key locations, over a
    map synthesized from order columns."""
    _load(spark, sf_dir, "orders")
    t = spark.sql("""
      SELECT o_orderkey,
             map('total', o_totalprice,
                 'half', o_totalprice / 2) AS amounts
      FROM orders""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.map_values_(
            "amounts",
            Rule(kind="range", column=None,
                 params={"min": 0.0, "max": 300000.0}))]),
        key_cols=["o_orderkey"])
    return eng.violations(t).select("o_orderkey", "code", "location")


def q_schema_rule(spark, sf_dir):
    t = _load(spark, sf_dir, "orders")["orders"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[
            vs.range_("o_totalprice", min=0, max=400000),
            vs.schema_rule(
                "NOT (o_orderstatus = 'F' AND o_totalprice > 350000)",
                code="fulfilled_price_cap"),
        ]),
        key_cols=["o_orderkey"])
    return eng.violations(t).select("o_orderkey", "code", "location")


def q_presence_gating(spark, sf_dir):
    """Tagged union of the two payload-semantics flows. Arm 'rules':
    presence failure suppresses main-stage rules (payload/impl.rs:17-53).
    Arm 'payload': the serialized-payload entry point — the
    ``T::validify_from(payload)`` analog (payload/impl.rs:36-53) — ONE
    codegen ``from_json`` with a corrupt-record column; whole-payload
    shape failures (malformed JSON / array / scalar where serde expects
    a struct) become code='payload' at location '/', parsed rows run
    the normal two-phase engine."""
    _load(spark, sf_dir, "orders")
    t = spark.sql("""
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN NULL
             WHEN o_orderkey % 7 = 0 THEN 'x'
             ELSE 'tool_' || CAST(o_orderkey % 3 AS STRING) END AS tool
      FROM orders""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[
            vs.required("tool", stage="presence"),
            vs.length("tool", min=2, max=32),
        ]),
        key_cols=["o_orderkey"])
    rules_arm = eng.violations(t).select(
        F.lit("rules").alias("src"), "o_orderkey", "code", "location")

    p = spark.sql("""
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 9 = 0 THEN 'not json {'
             WHEN o_orderkey % 9 = 1 THEN '[1,2,3]'
             WHEN o_orderkey % 9 = 2 THEN '42'
             WHEN o_orderkey % 9 = 3 THEN '{"role":"user"}'
             WHEN o_orderkey % 9 = 4 THEN '{"role":null,"text":"hi"}'
             WHEN o_orderkey % 9 = 5 THEN '{"role":"user","text":"x"}'
             ELSE '{"role":"user","text":"hello world"}'
        END AS payload
      FROM orders""")
    prs = vs.RuleSet(rules=[
        vs.required("role", stage="presence"),
        vs.required("text", stage="presence"),
        vs.length("text", min=2, max=64),
    ])
    _good, pv = vs.validate_json_payload(
        p, "payload", "role string, text string", prs,
        key_cols=["o_orderkey"])
    payload_arm = pv.select(
        F.lit("payload").alias("src"), "o_orderkey", "code", "location")
    return rules_arm.unionByName(payload_arm)


def q_modifiers(spark, sf_dir):
    """Modifier pipeline parity: trim → lowercase → capitalize
    (first-char-only, NOT initcap)."""
    _load(spark, sf_dir, "customer")
    t = spark.sql("""
      SELECT c_custkey, '  ' || c_mktsegment || '  ' AS seg
      FROM customer""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[], modifiers=[vs.trim("seg"),
                                        vs.lowercase("seg"),
                                        vs.capitalize("seg")]),
        key_cols=["c_custkey"])
    return eng.normalize(t).select("c_custkey", "seg")


def q_nested_modifiers(spark, sf_dir):
    """Modifiers on nested paths: struct subfield (trim+capitalize
    chain via withField), array<string> elements (per-element trim via
    transform), and a flat uppercase — the golden chain of
    modify.rs:89-126 lifted into nested shapes (fields.rs:400-434)."""
    _load(spark, sf_dir, "customer")
    t = spark.sql("""
      SELECT c_custkey,
        named_struct(
          'name', '  ' || lower(c_name) || ' ',
          'segs', array(' ' || c_mktsegment || ' ', 'KEEP ')) AS info,
        'mIxEd-' || lower(c_mktsegment) AS seg2
      FROM customer""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[], modifiers=[
            vs.trim("info.name"), vs.capitalize("info.name"),
            vs.trim("info.segs"), vs.uppercase("seg2")]),
        key_cols=["c_custkey"])
    return eng.normalize(t).selectExpr(
        "c_custkey", "info.name AS name",
        "info.segs[0] AS seg0", "info.segs[1] AS seg1", "seg2")


def q_variant_modifiers(spark, sf_dir):
    """Per-variant modifiers (derive_tests/tests/enum_validify.rs):
    'O' rows uppercase the comment, 'F' rows capitalize it (first char
    only), other variants untouched."""
    _load(spark, sf_dir, "orders")
    t = spark.sql("""
      SELECT o_orderkey, o_orderstatus,
             'order ' || lower(o_orderpriority) AS note
      FROM orders""")
    mods = vs.variant_modifiers("o_orderstatus", {
        "O": [vs.uppercase("note")],
        "F": [vs.capitalize("note")],
    })
    eng = vs.ValidationEngine(vs.RuleSet(rules=[], modifiers=mods),
                              key_cols=["o_orderkey"])
    return eng.normalize(t).select("o_orderkey", "note")


def q_rename_all(spark, sf_dir):
    """serde rename_all (with_serde.rs:55-79): violations carry the
    camelCase field name in both field and location."""
    t = (_load(spark, sf_dir, "customer")["customer"]
         .selectExpr("c_custkey", "c_name AS customer_name",
                     "c_acctbal AS account_balance"))
    rules = vs.rename_all(
        [vs.length("customer_name", min=1, max=17),
         vs.range_("account_balance", min=0, max=9000)], "camelCase")
    eng = vs.ValidationEngine(vs.RuleSet(rules=rules),
                              key_cols=["c_custkey"])
    return eng.violations(t).select("c_custkey", "code", "field",
                                    "location")


# ---------------------------------------------------------------------------
# distributed-only checks
# ---------------------------------------------------------------------------


def q_uniqueness(spark, sf_dir):
    t = _load(spark, sf_dir, "orders")["orders"]
    return uniqueness_violations(t, ["o_custkey"])


_CHILD_ORPHANS_SQL = """
SELECT CASE WHEN l_orderkey % 50 = 0 THEN -(l_partkey + 1)
       ELSE l_partkey END AS l_partkey
FROM lineitem
"""


def q_referential(spark, sf_dir):
    # synthesize orphans (negative keys never in part) on ~2% of rows so
    # the anti-join is exercised on both matched and orphan paths —
    # TPC-H alone has zero orphans, which made this check vacuous
    d = _load(spark, sf_dir, "lineitem", "part")
    child = spark.sql(_CHILD_ORPHANS_SQL)
    return referential_orphans(child, "l_partkey", d["part"],
                               "p_partkey", broadcast_parent=True)


def q_partition_report(spark, sf_dir):
    """Per-partition pass/fail verdicts (north_rule: 'matching the
    reference's per-partition pass/fail'): one row per partition with
    row/failed counts and the verdict."""
    t = _load(spark, sf_dir, "orders")["orders"]
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.range_("o_totalprice", min=0,
                                    max=300000)]),
        key_cols=["o_orderkey"])
    return eng.partition_report(t, "o_orderpriority")


def q_salted_agg(spark, sf_dir):
    """Skew family, tagged union: (a) 'salt:' — two-phase salted
    aggregation, bit-identical to a plain groupBy (exactly what the
    oracle replays) while bounding any single task's state on hot
    keys; (b) 'hot:' — heavy_hitters, the exact hot-key diagnosis that
    decides which keys NEED salting (top-10 l_suppkey by row count,
    ties broken by key; TakeOrderedAndProject, no global sort)."""
    from validify_spark.checks import heavy_hitters, salted_agg
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    salted = salted_agg(
        t, ["l_returnflag"],
        [F.count("*").alias("n"),
         F.sum("l_quantity").alias("qty")],
        [F.sum("n").alias("n_rows"),
         F.round(F.sum("qty"), 2).alias("sum_qty")],
        n_salts=16).select(
            F.concat(F.lit("salt:"), F.col("l_returnflag")).alias("key"),
            "n_rows", "sum_qty")
    hot = heavy_hitters(
        t, ["l_suppkey"], k=10,
        extra_aggs=[F.round(F.sum("l_quantity"), 2).alias("sum_qty")]
    ).select(
        F.concat(F.lit("hot:"), F.col("l_suppkey").cast("string"))
         .alias("key"),
        "n_rows", "sum_qty")
    return salted.unionByName(hot)


def q_stats_profile(spark, sf_dir):
    """Stats family, tagged union: (a) exact per-column profile rows;
    (b) an 'outlier:<col>' summary row from outliers_iqr over a
    deterministically skewed derived price (1/97 rows x8 — the natural
    TPC-H columns have zero Tukey outliers), mapped onto the profile
    schema as n_rows=#outliers, min/max_value=outlier extremes,
    q25/q50=the lo/hi fences (round_bounds=6 makes the violation set
    engine-reproducible; per-row output is pytest-covered)."""
    from validify_spark.checks import outliers_iqr
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    # project to the 3 profiled columns and repartition: the lineitem
    # parquet has 6 row groups (6 scan tasks of 32), and the exact
    # percentile + countDistinct aggregation is the expensive stage —
    # the shuffle moves 3 doubles/row, the aggregation then runs on
    # every core
    t3 = (t.select("l_quantity", "l_discount", "l_extendedprice")
          .repartition(spark.sparkContext.defaultParallelism))
    prof = stats_profile_exact(t3, ["l_quantity", "l_discount",
                                    "l_extendedprice"])
    # line-1 rows only: a uniform ~25% subset that still contains
    # every %97 order's scaled outlier at every SF. The outlier arm
    # exists to oracle-check the operator's exact mode; exact
    # interpolated percentiles are the oracle-parity path (the 100 TB
    # path is the GK sketch default), so the parity check runs on a
    # subset rather than paying a full-table exact sort per bench pass
    priced = (t.filter("l_linenumber = 1").selectExpr(
        "l_orderkey", "l_linenumber",
        "CASE WHEN l_orderkey % 97 = 0 THEN l_extendedprice * 8 "
        "ELSE l_extendedprice END AS price")
        .repartition(spark.sparkContext.defaultParallelism))
    out = outliers_iqr(priced, ["l_orderkey", "l_linenumber"],
                       ["price"], approx=False, round_bounds=6)
    summary = (out.groupBy("column")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.min("value").alias("__minv"),
                    F.max("value").alias("__maxv"),
                    F.first("lo").alias("__lo"),
                    F.first("hi").alias("__hi"))
               .select(
                   F.concat(F.lit("outlier:"), F.col("column"))
                    .alias("column"),
                   "n_rows",
                   F.lit(None).cast("long").alias("n_nulls"),
                   F.lit(None).cast("double").alias("null_rate"),
                   F.lit(None).cast("long").alias("n_distinct"),
                   F.col("__minv").cast("string").alias("min_value"),
                   F.col("__maxv").cast("string").alias("max_value"),
                   F.col("__lo").alias("q25"),
                   F.col("__hi").alias("q50"),
                   F.lit(None).cast("double").alias("q75")))
    return prof.unionByName(summary)


def q_drift(spark, sf_dir):
    """KL/PSI drift over BOTH north_star histogram families in one
    oracle query (tagged union): categorical (o_orderpriority) and
    text-length buckets (documents), each even- vs odd-keyed halves."""
    from validify_spark.checks import length_histogram
    t = _load(spark, sf_dir, "orders")["orders"]
    cur = categorical_histogram(t.filter("o_orderkey % 2 = 0"),
                                "o_orderpriority")
    base = categorical_histogram(t.filter("o_orderkey % 2 = 1"),
                                 "o_orderpriority")
    cat = drift_report(cur, base).withColumn(
        "family", F.lit("categorical"))
    d = _load(spark, sf_dir, "documents")["documents"]
    lcur = length_histogram(d.filter("doc_id % 2 = 0"), "text",
                            bucket_size=50)
    lbase = length_histogram(d.filter("doc_id % 2 = 1"), "text",
                             bucket_size=50)
    ln = drift_report(lcur, lbase).withColumn(
        "family", F.lit("text_length"))
    # exact two-sample KS + W1 on a numeric column (even- vs odd-keyed
    # o_totalprice) from ONE fused CDF pass (checks.cdf_drift): both
    # are CDF-difference readings, so the second family costs zero
    # extra scans. Each distance rides the max_abs_diff slot (W1
    # scaled by 1e-4 — a price-scale quantity — to sit in the same
    # order of magnitude as the unit-interval stats); psi/kl NULL;
    # n_buckets = total samples. The two family rows explode out of
    # the same 1-row stats DataFrame: one execution, two rows.
    stats = cdf_drift(
        t.filter("o_orderkey % 2 = 0").select("o_totalprice"),
        "o_totalprice",
        t.filter("o_orderkey % 2 = 1").select("o_totalprice"),
        "o_totalprice")
    nulld = F.lit(None).cast("double")
    n_tot = (F.col("n_left") + F.col("n_right"))
    cdfrows = (stats.select(F.explode(F.array(
        F.struct(nulld.alias("psi"), nulld.alias("kl"),
                 n_tot.alias("n_buckets"),
                 F.col("d").alias("max_abs_diff"),
                 F.lit("ks_numeric").alias("family")),
        F.struct(nulld.alias("psi"), nulld.alias("kl"),
                 n_tot.alias("n_buckets"),
                 F.round(F.col("w1") * 1e-4, 6).alias("max_abs_diff"),
                 F.lit("wasserstein").alias("family")),
        F.struct(nulld.alias("psi"), nulld.alias("kl"),
                 n_tot.alias("n_buckets"),
                 F.col("cvm").alias("max_abs_diff"),
                 F.lit("cramer_von_mises").alias("family")))).alias("r"))
        .select("r.*"))
    return cat.unionByName(ln).unionByName(cdfrows)


def q_drift_length(spark, sf_dir):
    """Text-LENGTH histogram drift alone (folded into q_drift for the
    driver check; kept for direct/pytest use)."""
    from validify_spark.checks import length_histogram
    t = _load(spark, sf_dir, "documents")["documents"]
    cur = length_histogram(t.filter("doc_id % 2 = 0"), "text",
                           bucket_size=50)
    base = length_histogram(t.filter("doc_id % 2 = 1"), "text",
                            bucket_size=50)
    return drift_report(cur, base)


def q_ordering(spark, sf_dir):
    """Tagged union of three sequence checks over turns derived from
    lineitem: per-pair ordering invariants (dup idx at 3→2, gap at
    4→5, ts out of order), conversation-shape invariants (dropped
    head, role repeats, wrong opener/closer, runaway length), and the
    north_star per-turn text-equality diff between a table and a
    poisoned replica. Families: 'ordering' | 'shape' | 'diff'.

    Execution shape (r6): before, each family re-scanned lineitem
    (6-task row-group-bound parallelism) and re-shuffled 6M rows on the
    STRING conv_id — 4 scans, ~7 exchanges. Now ONE 5-column scan is
    hash-partitioned by the NUMERIC l_orderkey and materialized
    (localCheckpoint, same barrier pattern as _derived_turns); every
    family derives its turns from the materialized blocks with the
    partitioning preserved, so the window (ordering), both groupBys
    (shape, convrule) and the diff's left side need NO further
    exchange. conv_id is cast to string only in each family's final
    projection — identical output, numeric shuffle/sort keys.

    checkpoint_partitioned (not a plain localCheckpoint): an
    AQE-executed checkpoint reports UnknownPartitioning, re-adding one
    exchange per family; the helper materializes with AQE off so the
    HashPartitioning(okey) survives. Blocks are context-cleaned when
    the pass's DataFrame is dropped — nothing is reused across
    passes."""
    from validify_spark.session import checkpoint_partitioned
    _load(spark, sf_dir, "lineitem")
    base = checkpoint_partitioned(spark.sql("""
      SELECT l_orderkey AS okey, l_linenumber AS ln,
             l_shipdate AS ts, l_returnflag AS rf, l_linestatus AS ls
      FROM lineitem""")
        .repartition(F.col("okey")))

    t = base.select(
        F.col("okey").alias("conv_id"),
        F.when(F.col("ln") == 3, 2).when(F.col("ln") == 4, 5)
         .otherwise(F.col("ln")).alias("turn_idx"),
        "ts")
    ordering = (ordering_violations(t)
                .select(F.col("conv_id").cast("string").alias("conv_id"),
                        "turn_idx", "code")
                .withColumn("family", F.lit("ordering")))

    # 0-based alternating turns; poisons: conv%11 loses its head
    # (non-zero start + assistant opener), conv%13 repeats a role at
    # turn 2; odd-length convs naturally end on 'user' (last_role);
    # 7-turn convs exceed max_turns=6
    shape_t = (base
        .filter(~((F.col("okey") % 11 == 0) & (F.col("ln") == 1)))
        .select(
            F.col("okey").alias("conv_id"),
            (F.col("ln") - 1).alias("turn_idx"),
            F.when((F.col("okey") % 13 == 0) & (F.col("ln") == 3),
                   "assistant")
             .when(F.col("ln") % 2 == 1, "user")
             .otherwise("assistant").alias("role"),
            "ts"))
    shape = (conversation_shape_violations(
        shape_t, ts_col="ts", zero_based=True, first_role="user",
        last_role="assistant", alternate=True, max_turns=6)
        .select(F.col("conv_id").cast("string").alias("conv_id"),
                "turn_idx", "code")
        .withColumn("family", F.lit("shape")))

    # replica diff: conv%17 drops a turn, conv%19 mutates a text,
    # conv%23 gains a ghost turn
    _text = F.concat(F.col("rf"), F.col("ls"))
    d_left = base.select(F.col("okey").alias("conv_id"),
                         F.col("ln").alias("turn_idx"),
                         _text.alias("text"))
    d_right = (base
        .filter(~((F.col("okey") % 17 == 0) & (F.col("ln") == 2)))
        .select(
            F.col("okey").alias("conv_id"),
            F.col("ln").alias("turn_idx"),
            F.when((F.col("okey") % 19 == 0) & (F.col("ln") == 1),
                   F.concat(_text, F.lit("_X")))
             .otherwise(_text).alias("text"))
        .unionByName(base
            .filter((F.col("okey") % 23 == 0) & (F.col("ln") == 1))
            .select(F.col("okey").alias("conv_id"),
                    F.lit(100).cast("bigint").alias("turn_idx"),
                    F.lit("ghost").alias("text"))))
    diff = (transcript_diff(d_left, d_right)
            .select(F.col("conv_id").cast("string").alias("conv_id"),
                    "turn_idx", "code")
            .withColumn("family", F.lit("diff")))

    # user-defined whole-conversation rules (checks/convrules.py — the
    # schema_validation analog at conversation granularity,
    # derive_tests/tests/schema.rs:183-212): conv%7 opens with a tool
    # turn (bad agent trace), 1-turn convs have no assistant, odd-length
    # convs end on 'user', >=5-turn convs bust the 9-char text budget
    cr_t = base.select(
        F.col("okey").alias("conv_id"),
        F.col("ln").alias("turn_idx"),
        F.when((F.col("okey") % 7 == 0) & (F.col("ln") == 1), "tool")
         .when(F.col("ln") % 2 == 1, "user")
         .otherwise("assistant").alias("role"),
        _text.alias("text"))
    min_tool = F.min(F.when(F.col("role") == "tool", F.col("turn_idx")))
    min_asst = F.min(F.when(F.col("role") == "assistant",
                            F.col("turn_idx")))
    convrule = (conversation_rules(cr_t, agg_rules=[
        # aggregate tier: codegen + map-side partial agg — only partial
        # states shuffle, the turns themselves never do
        ("has_assistant", F.max(F.col("role") == "assistant")),
        ("text_budget_9", F.sum(F.length("text")) <= 9),
        # keep the aggregation buffer fixed-width: max_by over the raw
        # role STRING forces SortAggregate (two full 6M-row sorts);
        # max_by over the boolean is the same verdict via HashAggregate
        ("ends_assistant",
         F.max_by(F.col("role") == "assistant", "turn_idx")),
        # first tool turn must come after the first assistant turn
        ("tool_after_assistant",
         min_tool.isNull() | (min_asst.isNotNull() & (min_asst < min_tool))),
    ], ts_col=None)
        .select(F.lit("convrule").alias("family"),
                F.col("conv_id").cast("string").alias("conv_id"),
                F.lit(None).cast("long").alias("turn_idx"), "code"))
    return (ordering.unionByName(shape).unionByName(diff)
            .unionByName(convrule))


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

_DOCS2_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def q_dedup_exact(spark, sf_dir):
    _load(spark, sf_dir, "documents")
    docs2 = spark.sql(_DOCS2_SQL)
    return exact_duplicates(docs2)


def q_dedup_jaccard(spark, sf_dir):
    # repartition before shingling: the docs parquet is one file (1-2
    # scan partitions) and the explode fan-out (50x rows) would
    # otherwise run on 2 of 32 cores; at cluster scale the input
    # arrives in thousands of partitions and this is a no-op cost
    _load(spark, sf_dir, "documents")
    docs2 = spark.sql(_DOCS2_SQL) \
        .repartition(spark.sparkContext.defaultParallelism)
    # max_df is the opt-in stop-shingle cap (library default is exact);
    # passed explicitly here to exercise + oracle-check the capped path
    return jaccard_pairs(docs2, n=3, threshold=0.8, max_df=1000)


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the jaccard near-dup pairs: each doc
    gets cluster_id = min doc id of its component (hash-min label
    propagation; the oracle computes the same fixpoint with a
    recursive CTE)."""
    from validify_spark.pipeline import duplicate_clusters
    _load(spark, sf_dir, "documents")
    docs2 = spark.sql(_DOCS2_SQL) \
        .repartition(spark.sparkContext.defaultParallelism)
    pairs = jaccard_pairs(docs2, n=3, threshold=0.8, max_df=1000)
    return duplicate_clusters(pairs)


def q_minhash_signatures(spark, sf_dir):
    t = (_load(spark, sf_dir, "documents")["documents"]
         .repartition(spark.sparkContext.defaultParallelism))
    return minhash_signatures(t, n=3, num_perm=4)


def q_simhash_pairs(spark, sf_dir):
    _load(spark, sf_dir, "documents")
    docs2 = spark.sql(_DOCS2_SQL) \
        .repartition(spark.sparkContext.defaultParallelism)
    return simhash_pairs(docs2, max_hamming=3)


def q_token_stats(spark, sf_dir):
    """Tagged union of BOTH per-doc token-count stats and benchmark
    DECONTAMINATION (docs sharing any word 5-gram with a deterministic
    eval subset, doc_id % 17 == 3, are flagged with matched/total
    shingle counts + a ppm ratio) — one oracle query, two families."""
    from validify_spark.pipeline import decontaminate
    # repartition before shingling: the docs parquet is ONE row group
    # (1 scan task), so the 5-gram regex otherwise runs on 1 of 32
    # cores; at cluster scale the input arrives pre-partitioned and
    # this is a no-op cost (same rationale as q_dedup_jaccard)
    t = (_load(spark, sf_dir, "documents")["documents"]
         .repartition(spark.sparkContext.defaultParallelism))
    stats = token_stats(t).select(
        F.lit("tokens").alias("family"), "doc_id",
        F.col("n_chars").cast("long").alias("m1"),
        F.col("n_tokens").cast("long").alias("m2"),
        F.col("n_distinct_tokens").cast("long").alias("m3"))
    bench = t.filter(F.col("doc_id") % 17 == 3)
    dec = decontaminate(t, bench, n=5).select(
        F.lit("decontam").alias("family"), "doc_id",
        F.col("n_matched").cast("long").alias("m1"),
        F.col("n_shingles").cast("long").alias("m2"),
        F.col("contamination_ppm").alias("m3"))
    return stats.unionByName(dec)


def q_quality(spark, sf_dir):
    t = _load(spark, sf_dir, "documents")["documents"]
    return quality_score(t)


def q_lang_id(spark, sf_dir):
    t = _load(spark, sf_dir, "documents")["documents"]
    return lang_id(t)


def q_fingerprint(spark, sf_dir):
    t = _load(spark, sf_dir, "documents")["documents"]
    return fingerprint(t, n=3)


# deterministic PII injection shared by both sides of the redaction
# check — every pattern class fires on a quarter of the docs
_PII_DOCS_SQL = """
  SELECT doc_id,
    text || CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN ' contact bob' || CAST(doc_id AS STRING)
                  || '@example.com now'
      WHEN 1 THEN ' server 10.1.2.' || CAST(doc_id % 250 AS STRING)
                  || ' up'
      WHEN 2 THEN ' call +1415555'
                  || CAST(1000 + doc_id % 9000 AS STRING) || ' today'
      ELSE ' acct 4111111111111'
           || CAST(100 + doc_id % 900 AS STRING) || ' closed'
    END AS text
  FROM documents"""


def q_redact_pii(spark, sf_dir):
    """PII scrub pass (emails/IPv4/+phones/card-length digit runs →
    typed placeholders) — chained regexp_replace, pure codegen; the
    oracle chains the identical regexes (built from the same
    PII_PATTERNS list) in DuckDB."""
    from validify_spark.pipeline import redact_pii
    _load(spark, sf_dir, "documents")
    t = spark.sql(_PII_DOCS_SQL)
    return redact_pii(t)


def _redact_oracle_sql() -> str:
    from validify_spark.pipeline.text import PII_PATTERNS
    expr = "text"
    count_terms = []
    for _n, rx, tok in PII_PATTERNS:
        rxs = rx.replace("'", "''")
        # count matches on the text AS IT STOOD before this pattern
        # applied — exact replacement count, like regexp_count on the
        # Spark side (pre-existing placeholder-looking text never
        # inflates it)
        count_terms.append(
            f"coalesce(len(regexp_extract_all({expr}, '{rxs}')), 0)")
        expr = f"regexp_replace({expr}, '{rxs}', '{tok}', 'g')"
    return f"""
      WITH src AS ({_PII_DOCS_SQL})
      SELECT doc_id, {expr} AS clean_text,
             CAST({' + '.join(count_terms)} AS INT) AS n_redactions
      FROM src"""


def q_cosine_topk(spark, sf_dir):
    t = _load(spark, sf_dir, "embeddings")["embeddings"]
    queries = (t.filter("vec_id < 3")
               .selectExpr("vec_id AS query_id", "embedding"))
    # repartition the corpus side: the embeddings parquet is ONE row
    # group (1 scan task), so the brute-force scoring otherwise runs on
    # 1 of 32 cores (same rationale as q_dedup_jaccard)
    corpus = t.repartition(spark.sparkContext.defaultParallelism)
    return cosine_topk(corpus, queries, k=5)


def q_embedding_near_dup(spark, sf_dir):
    t = _load(spark, sf_dir, "embeddings")["embeddings"]
    return cosine_self_pairs(t.filter("vec_id < 150"), threshold=0.3,
                             exact=True)


def q_ann_lsh(spark, sf_dir):
    """Approximate ANN (LSH hyperplane buckets) — rows-only check by
    nature (approximate recall, no exact oracle)."""
    from validify_spark.pipeline import lsh_ann_topk
    t = _load(spark, sf_dir, "embeddings")["embeddings"]
    queries = (t.filter("vec_id < 3")
               .selectExpr("vec_id AS query_id", "embedding"))
    # n_planes omitted ⇒ auto-scaled to the corpus size (n_planes_for)
    return lsh_ann_topk(t, queries, k=5, dim=64, n_tables=4)


def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary blob column + typed meta,
    Arrow-batched mapInPandas decode AND resize in one oracle query
    (joined on doc_id so both passes stay inside the driver's 50-query
    check window). The codecs are the documented deterministic stubs
    (md5-derived dims/checksums — no image libs in this container), so
    the full pipeline is oracle-checkable; swapping a real decoder /
    resampler is a one-function change (multimodal.py docstring)."""
    from validify_spark.pipeline.multimodal import (attach_fake_blob,
                                                    decode_and_resize)
    t = (_load(spark, sf_dir, "documents")["documents"]
         .repartition(spark.sparkContext.defaultParallelism))
    return decode_and_resize(attach_fake_blob(t), width=32, height=24)


def q_multimodal_resize(spark, sf_dir):
    """Resize pass over binary blobs (stub resampler — deterministic
    md5(md5(blob) || '-WxH'), so the Arrow plumbing is value-checked).
    Folded into q_multimodal_decode for the driver check; kept for
    direct/pytest use."""
    from validify_spark.pipeline.multimodal import (attach_fake_blob,
                                                    resize_media)
    t = (_load(spark, sf_dir, "documents")["documents"]
         .repartition(spark.sparkContext.defaultParallelism))
    return resize_media(attach_fake_blob(t), width=32, height=24)


def q_frame_plan(spark, sf_dir):
    """Video frame-sampling plan (explode fan-out shape) over synthetic
    durations — pure SQL on both sides."""
    from validify_spark.pipeline.multimodal import frame_sample_plan
    _load(spark, sf_dir, "documents")
    t = spark.sql("""
      SELECT doc_id, named_struct(
        'media_type', 'video', 'format', 'fake',
        'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT),
        'duration_ms', CAST(length(text) * 10 AS INT),
        'n_bytes', CAST(octet_length(text) AS BIGINT)) AS media_meta
      FROM documents""")
    return frame_sample_plan(t, every_ms=500)


def q_ann_recall(spark, sf_dir):
    """Measured recall@k of the LSH ANN vs the exact cosine baseline —
    the quality harness for q_ann_lsh. Deterministic (seeded planes)
    but the LSH itself has no SQL analog → rows-only check; the pytest
    suite asserts recall >= 0.9 at test scale."""
    from validify_spark.pipeline import ann_recall_at_k
    t = _load(spark, sf_dir, "embeddings")["embeddings"]
    queries = (t.filter("vec_id < 3")
               .selectExpr("vec_id AS query_id", "embedding"))
    # auto-scaled n_planes, matching q_ann_lsh's defaults
    return ann_recall_at_k(t, queries, k=5, dim=64, n_tables=4)


def q_ann_ivf(spark, sf_dir):
    """IVF (k-means cell) approximate ANN — the data-dependent scale
    path next to the LSH one. Cell boundaries come from k-means|| (seed-
    deterministic only for a fixed input partitioning) → rows-only
    check; the pytest suite gates recall >= 0.9 and proves the
    n_probe == n_clusters degenerate case is exactly the brute-force
    result."""
    from validify_spark.pipeline import ivf_ann_topk
    t = _load(spark, sf_dir, "embeddings")["embeddings"]
    queries = (t.filter("vec_id < 3")
               .selectExpr("vec_id AS query_id", "embedding"))
    return ivf_ann_topk(t, queries, k=5, n_clusters=8, n_probe=4)


def q_hot_keys_sketch(spark, sf_dir):
    """Misra-Gries heavy-hitter sketch — bounded-memory hot-key
    detection for key domains too large to count exactly. Counts are
    lower bounds whose exact values depend on the input partitioning
    once reductions fire ⇒ rows-only check; pytest pins the
    exact-when-capacity-suffices identity and the MG error bound."""
    from validify_spark.checks import heavy_hitters_sketch
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    return heavy_hitters_sketch(t, ["l_suppkey"], k=10, capacity=64)


def q_stats_profile_sketch(spark, sf_dir):
    """HLL/GK sketch profile — the 100 TB path; approximate by design,
    rows-only check."""
    from validify_spark.checks import stats_profile
    t = _load(spark, sf_dir, "lineitem")["lineitem"]
    return stats_profile(t, ["l_quantity", "l_partkey"])


def q_stats_tdigest(spark, sf_dir):
    """Distributed quantiles under the north_star's named sketch
    (checks/tdigest.py: one GK ``percentile_approx`` aggregate) —
    approximate by design, rows-only check; the rank-error bounds are
    pytest-gated (tests/test_tdigest.py)."""
    from validify_spark.checks import tdigest_quantiles
    t = _load(spark, sf_dir, "events")["events"]
    q = tdigest_quantiles(t, "value",
                          probs=[0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    return spark.createDataFrame(
        [(float(p), float(v)) for p, v in sorted(q.items())],
        "prob double, value double")


def q_credit_card(spark, sf_dir):
    """Luhn + brand check — pure Catalyst higher-order funcs.

    Synthesized from known-valid test numbers with deterministic
    corruption; oracle is analytic."""
    _load(spark, sf_dir, "events")
    t = spark.sql("""
      SELECT event_id,
        CASE CAST(event_id % 3 AS INT)
          WHEN 0 THEN '4539571147647251'
          WHEN 1 THEN '5236313877109141'
          ELSE '343380440754432' END AS card
      FROM events""")
    eng = vs.ValidationEngine(
        vs.RuleSet(rules=[vs.credit_card("card")]), key_cols=["event_id"])
    return eng.violations(t).select("event_id", "code")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_turns_validation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "turns_validation": q_turns_validation,
        "length": q_length,
        "range": q_range,
        "is_in": q_is_in,
        "not_in": q_not_in,
        "regex": q_regex,
        "must_match": q_must_match,
        "time_ops": q_time_ops,
        "time_now_ops": q_time_now_ops,
        "time_parse": q_time_parse,
        "time_date": q_time_date,
        "missing_column": q_missing_column,
        "variant_rules": q_variant_rules,
        "variant_modifiers": q_variant_modifiers,
        "nested_modifiers": q_nested_modifiers,
        "rename_all": q_rename_all,
        "email": q_email,
        "ip": q_ip,
        "url": q_url,
        "phone": q_phone,
        "credit_card": q_credit_card,
        "iter_emails": q_iter_emails,
        "contains": q_contains,
        "contains_not": q_contains_not,
        "custom_rule": q_custom_rule,
        "map_values": q_map_values,
        "schema_rule": q_schema_rule,
        "presence_gating": q_presence_gating,
        "modifiers": q_modifiers,
        "uniqueness": q_uniqueness,
        "referential": q_referential,
        "partition_report": q_partition_report,
        "salted_agg": q_salted_agg,
        "stats_profile": q_stats_profile,
        "drift": q_drift,
        "ordering": q_ordering,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "minhash_signatures": q_minhash_signatures,
        "simhash_pairs": q_simhash_pairs,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "redact_pii": q_redact_pii,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "multimodal_decode": q_multimodal_decode,
        "frame_plan": q_frame_plan,
        # rows-only queries (no SQL analog) LAST: the driver checks the
        # first 50 entries against DuckDB — every oracle-bearing query
        # above must stay inside that window (50 exactly, asserted by
        # test_driver_contract.py)
        "ann_lsh": q_ann_lsh,
        "ann_recall": q_ann_recall,
        "ann_ivf": q_ann_ivf,
        "stats_profile_sketch": q_stats_profile_sketch,
        "stats_tdigest": q_stats_tdigest,
        "hot_keys_sketch": q_hot_keys_sketch,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SHINGLES_CTE = r"""
docs2 AS ({docs}),
words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS w
  FROM docs2),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> array_to_string(w[i:i+2], ' ')))) AS shingle
  FROM words)
"""


# jaccard CTE chain, shared by the dedup_jaccard and dedup_clusters
# oracles — mirror jaccard_pairs(max_df=1000): hot shingles are dropped
# from the inverted-index join AND from the set sizes, so the Jaccard
# ratio is consistent over the surviving universe
_JACCARD_CTES = """{sh},
          sh_use AS (
            SELECT doc_id, shingle FROM sh
            WHERE shingle NOT IN (
              SELECT shingle FROM sh GROUP BY shingle
              HAVING count(*) > 1000)),
          sizes AS (SELECT doc_id, count(*) AS set_size FROM sh_use
                    GROUP BY doc_id),
          inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS intersection
            FROM sh_use a JOIN sh_use b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2)"""

_JACCARD_SELECT = """
          SELECT id_a, id_b, intersection,
                 sa.set_size AS size_a, sb.set_size AS size_b,
                 round(intersection
                       / (sa.set_size + sb.set_size - intersection), 6)
                   AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(intersection
                      / (sa.set_size + sb.set_size - intersection), 6)
                >= 0.8"""


def oracle_sql() -> dict[str, str]:
    shingle_docs2 = _SHINGLES_CTE.format(docs=_DOCS2_SQL)
    shingle_docs = _SHINGLES_CTE.format(docs="SELECT doc_id, text FROM documents")
    # the oracle for the ip truth table is the reference's EXPECTED
    # verdict column (ip.rs:31-139), keyed by case_id — built from the
    # same literal table the Spark side validates
    ip_cases = ",\n            ".join(
        f"({cid}, {'true' if exp else 'false'})"
        for cid, _kind, _addr, exp in _IP_TRUTH_TABLE)
    return {
        "turns_validation": TURNS_RULESET_ORACLE,

        "length": """
          WITH viol AS (
            -- plain arm, plus the merge-dedup arm: two identical rules
            -- collapsed to the single-rule result (dedup=True on the
            -- violation natural key) == the same SELECT tagged 'deduped'
            SELECT c_custkey, 'length' AS code,
                   CAST(length(c_name) AS STRING) AS actual
            FROM customer
            WHERE c_name IS NOT NULL
              AND NOT (length(c_name) >= 1 AND length(c_name) <= 17))
          SELECT 'plain' AS src, * FROM viol
          UNION ALL
          SELECT 'deduped' AS src, * FROM viol""",

        "range": """
          SELECT l_orderkey, l_linenumber, 'range' AS code,
                 CAST(l_quantity AS STRING) AS actual
          FROM lineitem
          WHERE l_quantity IS NOT NULL
            AND NOT (CAST(l_quantity AS DOUBLE) >= 1.0
                     AND CAST(l_quantity AS DOUBLE) <= 25.0)""",

        "is_in": """
          SELECT o_orderkey, 'in' AS code, o_orderstatus AS actual
          FROM orders
          WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F')""",

        "not_in": """
          SELECT c_custkey, 'not_in' AS code
          FROM customer
          WHERE c_mktsegment IS NOT NULL
            AND c_mktsegment IN ('MACHINERY')""",

        "regex": """
          SELECT p_partkey, 'regex' AS code, p_type AS actual
          FROM part
          WHERE p_type IS NOT NULL
            AND NOT regexp_matches(p_type, 'BRUSHED|POLISHED')""",

        "must_match": """
          SELECT l_orderkey, l_linenumber, 'must_match' AS code,
                 l_returnflag AS actual, l_linestatus AS target
          FROM lineitem
          -- engine passes NULL for every rule except required
          -- (compiler.py Option semantics), so NULL actual is no
          -- violation even when the target is non-NULL
          WHERE l_returnflag IS NOT NULL
            AND l_returnflag IS DISTINCT FROM l_linestatus""",

        "time_ops": """
          SELECT o_orderkey, 'before_or_equal' AS code FROM orders
          WHERE o_orderdate IS NOT NULL
            AND NOT (o_orderdate <= TIMESTAMP '1998-01-01')
          UNION ALL
          SELECT o_orderkey, 'after' FROM orders
          WHERE o_orderdate IS NOT NULL
            AND NOT (o_orderdate > TIMESTAMP '1995-01-01')
          UNION ALL
          SELECT o_orderkey, 'in_period' FROM orders
          WHERE o_orderdate IS NOT NULL
            AND NOT (o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                     AND TIMESTAMP '1996-12-31')""",

        "time_now_ops": """
          WITH t AS (
            SELECT o_orderkey,
                   CAST(o_orderdate AS TIMESTAMP) AS ts1,
                   CAST(o_orderdate AS TIMESTAMP)
                     - INTERVAL 2 YEAR AS ts2,
                   CAST(o_orderdate AS TIMESTAMP)
                     + INTERVAL ((o_orderkey % 730) - 365) DAY AS anchor
            FROM orders)
          SELECT o_orderkey, 'before_now' AS code, '/ts1' AS location
          FROM t WHERE ts1 IS NOT NULL
            AND NOT (ts1 <= TIMESTAMP '1995-06-01')
          UNION ALL
          SELECT o_orderkey, 'after_now', '/ts2' FROM t
          WHERE ts2 IS NOT NULL AND NOT (ts2 > TIMESTAMP '1995-06-01')
          UNION ALL
          SELECT o_orderkey, 'before_from_now', '/ts1' FROM t
          WHERE ts1 IS NOT NULL
            AND NOT (ts1 <= TIMESTAMP '1994-06-01')
          UNION ALL
          SELECT o_orderkey, 'after_from_now', '/ts2' FROM t
          WHERE ts2 IS NOT NULL
            AND NOT (ts2 >= TIMESTAMP '1996-05-31')
          UNION ALL
          SELECT o_orderkey, 'in_period', '/ts1' FROM t
          WHERE ts1 IS NOT NULL
            AND NOT (ts1 BETWEEN anchor
                     AND anchor + INTERVAL 400 DAY)""",

        "missing_column": """
          SELECT c_custkey, 'required' AS code,
                 '/loyalty_tier' AS location,
                 'loyalty_tier' AS field
          FROM customer""",

        "variant_rules": """
          SELECT o_orderkey, 'in' AS code, '/kind' AS location
          FROM orders
          WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F')
          UNION ALL
          SELECT o_orderkey, 'range', '/o_totalprice' FROM orders
          WHERE o_orderstatus = 'O' AND o_totalprice IS NOT NULL
            AND NOT (o_totalprice >= 0 AND o_totalprice <= 200000)
          UNION ALL
          SELECT o_orderkey, 'range', '/o_totalprice' FROM orders
          WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL
            AND NOT (o_totalprice >= 0 AND o_totalprice <= 150000)""",

        "ip": rf"""
          WITH cases(case_id, expected) AS (VALUES
            {ip_cases})
          SELECT 'synth_v4' AS src, CAST(event_id AS BIGINT) AS case_id,
                 'ip' AS code FROM (
            SELECT event_id,
              CAST(user_id % 300 AS STRING) || '.0.0.'
                || CAST(event_id % 260 AS STRING) AS ip
            FROM events)
          WHERE NOT regexp_matches(ip,
            '^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])){{3}}\z')
          UNION ALL
          SELECT 'truth_table', CAST(case_id AS BIGINT), 'ip'
          FROM cases WHERE NOT expected""",

        "nested_modifiers": """
          SELECT c_custkey,
            upper(substr(trim(lower(c_name)), 1, 1))
              || substr(trim(lower(c_name)), 2) AS name,
            c_mktsegment AS seg0,
            'KEEP' AS seg1,
            'MIXED-' || upper(c_mktsegment) AS seg2
          FROM customer""",

        "variant_modifiers": """
          WITH t AS (
            SELECT o_orderkey, o_orderstatus,
                   'order ' || lower(o_orderpriority) AS note
            FROM orders)
          SELECT o_orderkey,
            CASE WHEN o_orderstatus = 'O' THEN upper(note)
                 WHEN o_orderstatus = 'F' THEN
                   upper(substr(note, 1, 1)) || substr(note, 2)
                 ELSE note END AS note
          FROM t""",

        "rename_all": """
          SELECT c_custkey, 'length' AS code,
                 'customerName' AS field, '/customerName' AS location
          FROM customer
          WHERE c_name IS NOT NULL
            AND NOT (length(c_name) >= 1 AND length(c_name) <= 17)
          UNION ALL
          SELECT c_custkey, 'range', 'accountBalance',
                 '/accountBalance'
          FROM customer
          WHERE c_acctbal IS NOT NULL
            AND NOT (CAST(c_acctbal AS DOUBLE) >= 0.0
                     AND CAST(c_acctbal AS DOUBLE) <= 9000.0)""",

        "time_date": """
          WITH t AS (
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
            FROM orders)
          SELECT o_orderkey, 'before_now' AS code FROM t
          WHERE d IS NOT NULL AND NOT (d < DATE '1995-06-01')
          UNION ALL
          -- (today - d) in whole days, >= 36h of seconds
          SELECT o_orderkey, 'before_from_now' FROM t
          WHERE d IS NOT NULL
            AND NOT (date_diff('day', d, DATE '1995-06-01') * 86400
                     >= 129600)
          UNION ALL
          -- 60h duration -> 2 whole days: period [1995-01-01, 01-03]
          SELECT o_orderkey, 'in_period' FROM t
          WHERE d IS NOT NULL
            AND NOT (d BETWEEN DATE '1995-01-01'
                     AND DATE '1995-01-03')""",

        "time_parse": """
          WITH t AS (
            SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts,
              CASE WHEN o_orderkey % 11 = 0 THEN 'not a date'
                   WHEN o_orderkey % 7 = 0 THEN NULL
                   ELSE '1996-06-01 00:00:00' END AS deadline
            FROM orders)
          -- parse failures (garbage or NULL target): actual+format
          SELECT o_orderkey, 'before' AS code,
                 'yyyy-MM-dd HH:mm:ss' AS fmt,
                 CAST(NULL AS VARCHAR) AS target,
                 CAST(ts AS VARCHAR) AS actual
          FROM t WHERE ts IS NOT NULL
            AND (o_orderkey % 11 = 0 OR o_orderkey % 7 = 0)
          UNION ALL
          -- parseable targets: normal comparison, actual+target
          SELECT o_orderkey, 'before', CAST(NULL AS VARCHAR),
                 '1996-06-01 00:00:00', CAST(ts AS VARCHAR)
          FROM t WHERE ts IS NOT NULL
            AND o_orderkey % 11 <> 0 AND o_orderkey % 7 <> 0
            AND NOT (ts < TIMESTAMP '1996-06-01 00:00:00')""",

        "email": """
          SELECT c_custkey, 'email' AS code FROM customer
          WHERE c_custkey % 13 = 0 OR c_custkey % 11 = 0""",

        "url": """
          SELECT event_id, 'url' AS code FROM events
          WHERE event_id % 7 = 0""",

        "phone": """
          SELECT event_id, 'phone' AS code FROM events
          WHERE event_id % 6 IN (1, 3, 4)""",

        "credit_card": """
          SELECT event_id, 'credit_card' AS code FROM events
          WHERE event_id % 3 = 1""",

        "iter_emails": """
          SELECT c_custkey, 'email' AS code,
                 '/emails/1' AS location
          FROM customer WHERE c_custkey % 9 = 0""",

        "contains": """
          SELECT p_partkey, 'contains' AS code FROM part
          WHERE p_name IS NOT NULL AND NOT contains(p_name, 'red')""",

        "contains_not": """
          SELECT c_custkey, 'contains_not' AS code FROM customer
          WHERE c_name IS NOT NULL AND contains(c_name, '0000000')""",

        "custom_rule": """
          SELECT l_orderkey, l_linenumber, 'price_floor' AS code
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND NOT (l_extendedprice >= l_quantity * 900.0)""",

        "map_values": """
          SELECT o_orderkey, 'range' AS code, '/amounts/total' AS location
          FROM orders
          WHERE NOT (CAST(o_totalprice AS DOUBLE) >= 0.0
                     AND CAST(o_totalprice AS DOUBLE) <= 300000.0)
          UNION ALL
          SELECT o_orderkey, 'range', '/amounts/half'
          FROM orders
          WHERE NOT (CAST(o_totalprice / 2 AS DOUBLE) >= 0.0
                     AND CAST(o_totalprice / 2 AS DOUBLE) <= 300000.0)""",

        "schema_rule": """
          SELECT o_orderkey, 'range' AS code, '/o_totalprice' AS location
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND NOT (CAST(o_totalprice AS DOUBLE) >= 0.0
                     AND CAST(o_totalprice AS DOUBLE) <= 400000.0)
          UNION ALL
          SELECT o_orderkey, 'fulfilled_price_cap', '/'
          FROM orders
          WHERE (NOT (o_orderstatus = 'F' AND o_totalprice > 350000))
                IS NOT TRUE""",

        "presence_gating": """
          WITH t AS (
            SELECT o_orderkey,
              CASE WHEN o_orderkey % 5 = 0 THEN NULL
                   WHEN o_orderkey % 7 = 0 THEN 'x'
                   ELSE 'tool_' || CAST(o_orderkey % 3 AS STRING)
              END AS tool
            FROM orders)
          SELECT 'rules' AS src, o_orderkey, 'required' AS code,
                 '/tool' AS location
          FROM t WHERE tool IS NULL
          UNION ALL
          SELECT 'rules', o_orderkey, 'length', '/tool' FROM t
          WHERE tool IS NOT NULL
            AND NOT (length(tool) >= 2 AND length(tool) <= 32)
          -- payload arm: deterministic serialized payloads by modulo
          -- class; deserialization failures (malformed / array /
          -- scalar) at '/', then required/length over the parsed value
          UNION ALL
          SELECT 'payload', o_orderkey, 'payload', '/' FROM orders
          WHERE o_orderkey % 9 IN (0, 1, 2)
          UNION ALL
          SELECT 'payload', o_orderkey, 'required', '/text' FROM orders
          WHERE o_orderkey % 9 = 3
          UNION ALL
          SELECT 'payload', o_orderkey, 'required', '/role' FROM orders
          WHERE o_orderkey % 9 = 4
          UNION ALL
          SELECT 'payload', o_orderkey, 'length', '/text' FROM orders
          WHERE o_orderkey % 9 = 5""",

        "modifiers": """
          SELECT c_custkey,
                 upper(substr(lower(trim('  ' || c_mktsegment || '  ')),
                              1, 1))
                 || substr(lower(trim('  ' || c_mktsegment || '  ')), 2)
                 AS seg
          FROM customer""",

        "uniqueness": """
          SELECT o_custkey, count(*) AS dup_count
          FROM orders GROUP BY o_custkey HAVING count(*) > 1""",

        "referential": f"""
          WITH child AS ({_CHILD_ORPHANS_SQL})
          SELECT l_partkey, count(*) AS n_rows
          FROM child
          WHERE l_partkey NOT IN (SELECT p_partkey FROM part
                                  WHERE p_partkey IS NOT NULL)
          GROUP BY l_partkey""",

        "partition_report": """
          SELECT o_orderpriority AS partition_id,
                 count(*) AS n_rows,
                 CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND NOT (CAST(o_totalprice AS DOUBLE) >= 0
                                   AND CAST(o_totalprice AS DOUBLE)
                                       <= 300000)
                          THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_failed_rows,
                 sum(CASE WHEN o_totalprice IS NOT NULL
                     AND NOT (CAST(o_totalprice AS DOUBLE) >= 0
                              AND CAST(o_totalprice AS DOUBLE)
                                  <= 300000)
                     THEN 1 ELSE 0 END) = 0 AS passed
          FROM orders GROUP BY o_orderpriority""",

        "salted_agg": """
          SELECT 'salt:' || l_returnflag AS key, count(*) AS n_rows,
                 round(sum(l_quantity), 2) AS sum_qty
          FROM lineitem GROUP BY l_returnflag
          UNION ALL
          SELECT * FROM (
            SELECT 'hot:' || CAST(l_suppkey AS STRING) AS key,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_suppkey
            ORDER BY count(*) DESC, l_suppkey LIMIT 10)""",

        "stats_profile": """
          SELECT 'l_quantity' AS column, count(*) AS n_rows,
                 CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS n_nulls,
                 round(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0
                           END) / greatest(count(*), 1), 6) AS null_rate,
                 count(DISTINCT l_quantity) AS n_distinct,
                 CAST(min(l_quantity) AS STRING) AS min_value,
                 CAST(max(l_quantity) AS STRING) AS max_value,
                 round(quantile_cont(l_quantity, 0.25), 6) AS q25,
                 round(quantile_cont(l_quantity, 0.5), 6) AS q50,
                 round(quantile_cont(l_quantity, 0.75), 6) AS q75
          FROM lineitem
          UNION ALL
          SELECT 'l_discount', count(*),
                 CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 round(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0
                           END) / greatest(count(*), 1), 6),
                 count(DISTINCT l_discount),
                 CAST(min(l_discount) AS STRING),
                 CAST(max(l_discount) AS STRING),
                 round(quantile_cont(l_discount, 0.25), 6),
                 round(quantile_cont(l_discount, 0.5), 6),
                 round(quantile_cont(l_discount, 0.75), 6)
          FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', count(*),
                 CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 round(sum(CASE WHEN l_extendedprice IS NULL THEN 1
                           ELSE 0 END) / greatest(count(*), 1), 6),
                 count(DISTINCT l_extendedprice),
                 CAST(min(l_extendedprice) AS STRING),
                 CAST(max(l_extendedprice) AS STRING),
                 round(quantile_cont(l_extendedprice, 0.25), 6),
                 round(quantile_cont(l_extendedprice, 0.5), 6),
                 round(quantile_cont(l_extendedprice, 0.75), 6)
          FROM lineitem
          UNION ALL
          SELECT 'outlier:price', count(*),
                 CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                 CAST(NULL AS BIGINT),
                 CAST(min(round(p, 6)) AS STRING),
                 CAST(max(round(p, 6)) AS STRING),
                 round(q1 - 1.5 * (q3 - q1), 6),
                 round(q3 + 1.5 * (q3 - q1), 6),
                 CAST(NULL AS DOUBLE)
          FROM (SELECT CASE WHEN l_orderkey % 97 = 0
                            THEN l_extendedprice * 8
                            ELSE l_extendedprice END AS p
                FROM lineitem WHERE l_linenumber = 1) src,
               (SELECT quantile_cont(p, 0.25) AS q1,
                       quantile_cont(p, 0.75) AS q3
                FROM (SELECT CASE WHEN l_orderkey % 97 = 0
                                  THEN l_extendedprice * 8
                                  ELSE l_extendedprice END AS p
                      FROM lineitem WHERE l_linenumber = 1)) b
          WHERE p < round(q1 - 1.5 * (q3 - q1), 6)
             OR p > round(q3 + 1.5 * (q3 - q1), 6)
          GROUP BY q1, q3""",

        "drift": """
          WITH cur AS (
            SELECT coalesce(CAST(o_orderpriority AS STRING), '__null__')
                     AS bucket, count(*) AS n
            FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
          curp AS (SELECT bucket,
                          n / (SELECT sum(n) FROM cur) AS p FROM cur),
          base AS (
            SELECT coalesce(CAST(o_orderpriority AS STRING), '__null__')
                     AS bucket, count(*) AS n
            FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1),
          basep AS (SELECT bucket,
                           n / (SELECT sum(n) FROM base) AS p FROM base),
          j AS (
            SELECT coalesce(c.p, 0.0) AS p, coalesce(b.p, 0.0) AS q
            FROM curp c FULL OUTER JOIN basep b USING (bucket)),
          lcur AS (
            SELECT coalesce(CAST(CAST(floor(length(text) / 50) AS BIGINT)
                                 AS STRING), '__null__') AS bucket,
                   count(*) AS n
            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          lcurp AS (SELECT bucket,
                           n / (SELECT sum(n) FROM lcur) AS p FROM lcur),
          lbase AS (
            SELECT coalesce(CAST(CAST(floor(length(text) / 50) AS BIGINT)
                                 AS STRING), '__null__') AS bucket,
                   count(*) AS n
            FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
          lbasep AS (SELECT bucket,
                            n / (SELECT sum(n) FROM lbase) AS p
                     FROM lbase),
          lj AS (
            SELECT coalesce(c.p, 0.0) AS p, coalesce(b.p, 0.0) AS q
            FROM lcurp c FULL OUTER JOIN lbasep b USING (bucket)),
          ku AS (
            SELECT o_totalprice AS v, o_orderkey % 2 AS s
            FROM orders WHERE o_totalprice IS NOT NULL),
          kc AS (
            SELECT v, count(*) FILTER (s = 0) AS n0,
                   count(*) FILTER (s = 1) AS n1
            FROM ku GROUP BY v),
          kcdf AS (
            SELECT sum(n0) OVER (ORDER BY v) AS c0,
                   sum(n1) OVER (ORDER BY v) AS c1
            FROM kc),
          kcdf2 AS (
            SELECT v, sum(n0) OVER (ORDER BY v) AS c0,
                   sum(n1) OVER (ORDER BY v) AS c1
            FROM kc),
          kcdf3 AS (
            SELECT n0 + n1 AS cnt,
                   sum(n0) OVER (ORDER BY v) AS c0,
                   sum(n1) OVER (ORDER BY v) AS c1
            FROM kc),
          kt AS (
            SELECT count(*) FILTER (s = 0) AS t0,
                   count(*) FILTER (s = 1) AS t1
            FROM ku)
          SELECT 'categorical' AS family,
            round(sum((greatest(p, 1e-6) - greatest(q, 1e-6))
                  * ln(greatest(p, 1e-6) / greatest(q, 1e-6))), 6) AS psi,
            round(sum(CASE WHEN p > 0 THEN greatest(p, 1e-6)
                  * ln(greatest(p, 1e-6) / greatest(q, 1e-6))
                  ELSE 0.0 END), 6) AS kl,
            count(*) AS n_buckets,
            round(max(abs(p - q)), 6) AS max_abs_diff
          FROM j
          UNION ALL
          SELECT 'text_length',
            round(sum((greatest(p, 1e-6) - greatest(q, 1e-6))
                  * ln(greatest(p, 1e-6) / greatest(q, 1e-6))), 6),
            round(sum(CASE WHEN p > 0 THEN greatest(p, 1e-6)
                  * ln(greatest(p, 1e-6) / greatest(q, 1e-6))
                  ELSE 0.0 END), 6),
            count(*),
            round(max(abs(p - q)), 6)
          FROM lj
          UNION ALL
          SELECT 'ks_numeric',
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            (SELECT t0 + t1 FROM kt),
            round((SELECT max(abs(c0 * 1.0 / t0 - c1 * 1.0 / t1))
                   FROM kcdf, kt), 6)
          UNION ALL
          SELECT 'wasserstein',
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            (SELECT t0 + t1 FROM kt),
            round(round((SELECT sum(abs(c0 * 1.0 / t0 - c1 * 1.0 / t1)
                                    * (nv - v))
                         FROM (SELECT v, c0, c1,
                                      lead(v) OVER (ORDER BY v) AS nv
                               FROM kcdf2) , kt
                         WHERE nv IS NOT NULL), 6) * 1e-4, 6)
          UNION ALL
          SELECT 'cramer_von_mises',
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            (SELECT t0 + t1 FROM kt),
            round((SELECT sum(cnt * (c0 * 1.0 / t0 - c1 * 1.0 / t1)
                                  * (c0 * 1.0 / t0 - c1 * 1.0 / t1))
                          * max(t0) * max(t1)
                          / ((max(t0) + max(t1)) * (max(t0) + max(t1)))
                   FROM kcdf3, kt), 6)""",

        "ordering": """
          WITH t AS (
            SELECT CAST(l_orderkey AS STRING) AS conv_id,
                   CASE WHEN l_linenumber = 3 THEN 2
                        WHEN l_linenumber = 4 THEN 5
                        ELSE l_linenumber END AS turn_idx,
                   l_shipdate AS ts
            FROM lineitem),
          w AS (
            SELECT conv_id, turn_idx, ts,
                   lag(turn_idx) OVER
                     (PARTITION BY conv_id
                      ORDER BY turn_idx, ts) AS prev_idx,
                   lag(ts) OVER
                     (PARTITION BY conv_id
                      ORDER BY turn_idx, ts) AS prev_ts
            FROM t),
          st AS (
            SELECT CAST(l_orderkey AS STRING) AS conv_id,
                   l_linenumber - 1 AS turn_idx,
                   CASE WHEN l_orderkey % 13 = 0 AND l_linenumber = 3
                        THEN 'assistant'
                        WHEN l_linenumber % 2 = 1 THEN 'user'
                        ELSE 'assistant' END AS role,
                   l_shipdate AS ts
            FROM lineitem
            WHERE NOT (l_orderkey % 11 = 0 AND l_linenumber = 1)),
          sw AS (
            SELECT conv_id, turn_idx, role,
                   row_number() OVER win AS rn,
                   count(*) OVER (PARTITION BY conv_id) AS n,
                   lag(role) OVER win AS prev_role,
                   first_value(turn_idx) OVER win AS f_idx,
                   first_value(role) OVER win AS f_role,
                   last_value(turn_idx) OVER win2 AS l_idx,
                   last_value(role) OVER win2 AS l_role
            FROM st
            WINDOW win AS (PARTITION BY conv_id ORDER BY turn_idx, ts),
                   win2 AS (PARTITION BY conv_id ORDER BY turn_idx, ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING)),
          dl AS (
            SELECT CAST(l_orderkey AS STRING) AS conv_id,
                   l_linenumber AS turn_idx,
                   l_returnflag || l_linestatus AS text
            FROM lineitem),
          dr AS (
            SELECT CAST(l_orderkey AS STRING) AS conv_id,
                   l_linenumber AS turn_idx,
                   CASE WHEN l_orderkey % 19 = 0 AND l_linenumber = 1
                        THEN l_returnflag || l_linestatus || '_X'
                        ELSE l_returnflag || l_linestatus END AS text
            FROM lineitem
            WHERE NOT (l_orderkey % 17 = 0 AND l_linenumber = 2)
            UNION ALL
            SELECT CAST(l_orderkey AS STRING), 100, 'ghost'
            FROM lineitem WHERE l_orderkey % 23 = 0
              AND l_linenumber = 1),
          dj AS (
            SELECT coalesce(dl.conv_id, dr.conv_id) AS conv_id,
                   coalesce(dl.turn_idx, dr.turn_idx) AS turn_idx,
                   dl.text AS lt, dr.text AS rt,
                   dl.conv_id IS NOT NULL AS inl,
                   dr.conv_id IS NOT NULL AS inr
            FROM dl FULL OUTER JOIN dr
              ON dl.conv_id = dr.conv_id
             AND dl.turn_idx = dr.turn_idx),
          cr AS (
            SELECT CAST(l_orderkey AS STRING) AS conv_id,
                   l_linenumber AS turn_idx,
                   CASE WHEN l_orderkey % 7 = 0 AND l_linenumber = 1
                        THEN 'tool'
                        WHEN l_linenumber % 2 = 1 THEN 'user'
                        ELSE 'assistant' END AS role,
                   l_returnflag || l_linestatus AS text
            FROM lineitem)
          SELECT 'ordering' AS family, conv_id, turn_idx,
                 'dup_turn_idx' AS code FROM w
          WHERE prev_idx IS NOT NULL AND turn_idx = prev_idx
          UNION ALL
          SELECT 'ordering', conv_id, turn_idx, 'turn_idx_gap' FROM w
          WHERE prev_idx IS NOT NULL AND turn_idx > prev_idx + 1
          UNION ALL
          SELECT 'ordering', conv_id, turn_idx, 'ts_out_of_order' FROM w
          WHERE prev_ts IS NOT NULL AND ts IS NOT NULL
            AND ts < prev_ts
          UNION ALL
          SELECT 'shape', conv_id, f_idx, 'first_idx_not_zero' FROM sw
          WHERE rn = 1 AND f_idx != 0
          UNION ALL
          SELECT 'shape', conv_id, f_idx, 'first_role' FROM sw
          WHERE rn = 1 AND f_role IS DISTINCT FROM 'user'
          UNION ALL
          SELECT 'shape', conv_id, l_idx, 'last_role' FROM sw
          WHERE rn = 1 AND l_role IS DISTINCT FROM 'assistant'
          UNION ALL
          SELECT 'shape', conv_id, turn_idx, 'role_repeat' FROM sw
          WHERE rn > 1 AND role IS NOT DISTINCT FROM prev_role
          UNION ALL
          SELECT 'shape', conv_id, CAST(NULL AS BIGINT),
                 'too_many_turns' FROM sw
          WHERE rn = 1 AND n > 6
          UNION ALL
          SELECT 'diff', conv_id, turn_idx,
                 CASE WHEN NOT inr THEN 'missing_in_right'
                      WHEN NOT inl THEN 'missing_in_left'
                      ELSE 'text_mismatch' END
          FROM dj WHERE NOT inr OR NOT inl OR lt <> rt
          UNION ALL
          SELECT 'convrule', conv_id, CAST(NULL AS BIGINT),
                 'has_assistant'
          FROM cr GROUP BY conv_id
          HAVING count(*) FILTER (WHERE role = 'assistant') = 0
          UNION ALL
          SELECT 'convrule', conv_id, CAST(NULL AS BIGINT),
                 'text_budget_9'
          FROM cr GROUP BY conv_id HAVING sum(length(text)) > 9
          UNION ALL
          SELECT 'convrule', conv_id, CAST(NULL AS BIGINT),
                 'ends_assistant'
          FROM (SELECT conv_id, arg_max(role, turn_idx) AS last_role
                FROM cr GROUP BY conv_id)
          WHERE last_role != 'assistant'
          UNION ALL
          SELECT DISTINCT 'convrule', a.conv_id, CAST(NULL AS BIGINT),
                 'tool_after_assistant'
          FROM cr a
          WHERE a.role = 'tool' AND NOT EXISTS (
            SELECT 1 FROM cr b WHERE b.conv_id = a.conv_id
              AND b.role = 'assistant' AND b.turn_idx < a.turn_idx)""",

        "dedup_exact": f"""
          WITH docs2 AS ({_DOCS2_SQL}),
          h AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ',
                                            'g'))) AS text_hash
            FROM docs2),
          g AS (
            SELECT doc_id, text_hash,
                   count(*) OVER (PARTITION BY text_hash) AS group_size,
                   min(doc_id) OVER (PARTITION BY text_hash)
                     AS canonical_id
            FROM h)
          SELECT doc_id, canonical_id, text_hash, group_size
          FROM g WHERE group_size > 1""",

        "dedup_jaccard": f"WITH {_JACCARD_CTES.format(sh=shingle_docs2)}"
                         f"\n          {_JACCARD_SELECT}",

        # connected components over the jaccard pairs: the recursive
        # CTE computes full reachability (fine at oracle scale); the
        # Spark side is hash-min label propagation — same fixpoint
        "dedup_clusters": f"""
          WITH RECURSIVE {_JACCARD_CTES.format(sh=shingle_docs2)},
          pairs AS ({_JACCARD_SELECT}),
          edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs),
          reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src""",

        "minhash_signatures": f"""
          WITH {shingle_docs}
          SELECT doc_id,
                 min(md5('0:' || shingle)) AS h0,
                 min(md5('1:' || shingle)) AS h1,
                 min(md5('2:' || shingle)) AS h2,
                 min(md5('3:' || shingle)) AS h3
          FROM sh GROUP BY doc_id""",

        # exact reproduction of the md5 bit-vote SimHash (dedup.py
        # _simhash): h = big-endian uint64 of md5(token)[:8]; bit i of h
        # = bit (i%4) of the hex nibble at 1-based position 16 - i//4
        "simhash_pairs": rf"""
          WITH docs2 AS ({_DOCS2_SQL}),
          toks AS (
            SELECT doc_id, unnest(list_distinct(list_filter(
                     regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> ''))) AS tok
            FROM docs2 WHERE text IS NOT NULL),
          nibs AS (
            SELECT doc_id, r.i,
                   ((strpos('0123456789abcdef',
                            substr(md5(tok),
                                   CAST(16 - (r.i // 4) AS INT), 1)) - 1)
                    >> (r.i % 4)) & 1 AS bit
            FROM toks,
                 (SELECT unnest(generate_series(0, 63)) AS i) r),
          votes AS (
            SELECT doc_id, i, sum(2 * bit - 1) AS vote FROM nibs
            GROUP BY doc_id, i),
          fp AS (
            SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN
                     CASE WHEN i = 63 THEN -9223372036854775808
                          ELSE (CAST(1 AS BIGINT) << i) END
                     ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                   AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

        # exact reproduction of the deterministic stub decode
        # (multimodal.py _fake_decode): md5(blob) bytes 0/1 → dims,
        # hex digest → checksum; blob = UTF-8 bytes of text
        "multimodal_decode": """
          WITH m AS (SELECT doc_id, md5(text) AS h FROM documents)
          SELECT doc_id,
            CAST(16 + ((16 * (strpos('0123456789abcdef',
                                     substr(h, 1, 1)) - 1)
                        + (strpos('0123456789abcdef',
                                  substr(h, 2, 1)) - 1)) % 64) AS INT)
              AS width,
            CAST(16 + ((16 * (strpos('0123456789abcdef',
                                     substr(h, 3, 1)) - 1)
                        + (strpos('0123456789abcdef',
                                  substr(h, 4, 1)) - 1)) % 64) AS INT)
              AS height,
            h AS checksum,
            md5(h || '-32x24') AS resized_checksum
          FROM m""",

        "frame_plan": """
          SELECT doc_id,
                 unnest(generate_series(
                   0, greatest(length(text) * 10 - 1, 0), 500))
                   AS frame_ms
          FROM documents""",

        "token_stats": r"""
          WITH w AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(trim(text)),
                                                     '\s+'),
                               x -> x <> '') AS words
            FROM documents),
          sh5 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(words) - 4, 0)),
                     i -> array_to_string(words[i:i+4], ' '))))
                     AS shingle
            FROM w),
          szs AS (SELECT doc_id, count(*) AS n_shingles FROM sh5
                  GROUP BY doc_id),
          bench AS (SELECT DISTINCT shingle FROM sh5
                    WHERE doc_id % 17 = 3),
          hits AS (SELECT s.doc_id, count(*) AS n_matched
                   FROM sh5 s JOIN bench USING (shingle)
                   GROUP BY s.doc_id)
          SELECT 'tokens' AS family, doc_id,
                 CAST(length(text) AS BIGINT) AS m1,
                 CAST(len(words) AS BIGINT) AS m2,
                 CAST(len(list_distinct(words)) AS BIGINT) AS m3
          FROM w
          UNION ALL
          SELECT 'decontam', h.doc_id,
                 CAST(n_matched AS BIGINT),
                 CAST(n_shingles AS BIGINT),
                 CAST(floor(1000000.0 * n_matched / n_shingles)
                      AS BIGINT)
          FROM hits h JOIN szs USING (doc_id)""",

        "quality": r"""
          WITH w AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(trim(text)),
                                                     '\s+'),
                               x -> x <> '') AS words,
                   greatest(length(text), 1) AS n
            FROM documents),
          c AS (
            SELECT doc_id, text, n, words,
              greatest(len(words), 1) AS n_words,
              length(regexp_replace(text, '[^\p{L}]', '', 'g')) / n
                AS alpha_ratio,
              length(regexp_replace(text,
                '[^.,;:!?''"()\[\]{}-]', '', 'g')) / n AS punct_ratio,
              len(list_filter(words, x -> list_contains(
                ['the','and','of','to','a','in','is','that','it','for',
                 'was','with','as','on','be'], x))) AS sw_hits,
              len(list_distinct(words)) AS n_distinct
            FROM w)
          SELECT doc_id, length(text) AS n_chars,
                 round(alpha_ratio, 6) AS alpha_ratio,
                 round(punct_ratio, 6) AS punct_ratio,
                 round(sw_hits / n_words, 6) AS stopword_ratio,
                 round(1.0 - n_distinct / n_words, 6)
                   AS repetition_ratio,
                 round(0.3 * (CASE WHEN length(text) >= 50
                              AND length(text) <= 100000
                              THEN 1.0 ELSE 0.0 END)
                       + 0.3 * alpha_ratio
                       + 0.2 * least(sw_hits / n_words * 4, 1.0)
                       + 0.2 * (1.0 - (1.0 - n_distinct / n_words)), 6)
                   AS quality
          FROM c""",

        "lang_id": r"""
          WITH w AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(trim(text)),
                                                     '\s+'),
                               x -> x <> '') AS words
            FROM documents),
          scores AS (
            SELECT doc_id, 'en' AS lang,
                   len(list_filter(words, x -> list_contains(
                     ['the','and','of','to','a','in','is','that','it',
                      'for','was','with','as','on','be'], x))) AS hits
            FROM w
            UNION ALL
            SELECT doc_id, 'de', len(list_filter(words,
              x -> list_contains(['der','die','das','und','ist','nicht',
              'ein','eine','mit','von','zu','den','im','für','auf'], x)))
            FROM w
            UNION ALL
            SELECT doc_id, 'fr', len(list_filter(words,
              x -> list_contains(['le','la','les','et','est','un','une',
              'des','du','pour','dans','que','qui','pas','sur'], x)))
            FROM w
            UNION ALL
            SELECT doc_id, 'es', len(list_filter(words,
              x -> list_contains(['el','la','los','las','y','es','un',
              'una','de','en','que','por','para','con','no'], x)))
            FROM w
            UNION ALL
            SELECT doc_id, 'zh',
                   length(regexp_replace(text, '[^一-鿿]', '', 'g'))
            FROM documents),
          best AS (
            SELECT doc_id, lang, hits,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY hits DESC, lang DESC)
                     AS rn
            FROM scores WHERE hits > 0)
          SELECT d.doc_id,
                 coalesce(b.lang, 'und') AS pred_lang,
                 coalesce(b.hits, 0) AS lang_hits
          FROM documents d
          LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1""",

        "fingerprint": r"""
          WITH w AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(trim(text)),
                                                     '\s+'),
                               x -> x <> '') AS words
            FROM documents)
          SELECT doc_id,
                 md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS content_hash,
                 list_min(list_transform(
                   generate_series(1, greatest(len(words) - 2, 0)),
                   i -> md5(array_to_string(words[i:i+2], ' '))))
                   AS shingle_fingerprint
          FROM w""",

        "redact_pii": _redact_oracle_sql(),

        "cosine_topk": """
          WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                     WHERE vec_id < 3),
          scored AS (
            SELECT q.query_id, e.vec_id,
                   list_dot_product(e.embedding::DOUBLE[],
                                    q.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[])))
                     AS cos_raw
            FROM embeddings e, q),
          ranked AS (
            SELECT query_id, vec_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, vec_id ASC)
                     AS rank
            FROM scored)
          SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
                 CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 5""",

        "embedding_near_dup": """
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                          a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]))), 6)
                   AS cosine
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id AND a.vec_id < 150 AND b.vec_id < 150
            AND round(list_dot_product(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                         a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]))), 6)
                >= 0.3""",
        # ann_lsh, stats_profile_sketch, simhash_pairs: approximate /
        # sketch-based — rows-only checks (no SQL oracle by design)
    }
